package graft

import graft.ops.Forecast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec,
  AppendColumnsWithObjectExec, MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The per-series fit path: `Forecast.fitEach` on the user_id-partitioned
  * hourly grid plans one hash exchange and no key projection, and the
  * facade entry points built on it return what the typed
  * `groupByKey(_.user_id)` chain they replace returned. */
class FitEachSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSession._

  /** Run a query id and return every executed plan it produced: the eager
    * jobs inside the query function (a fit checkpoint), then the final
    * action. */
  private def plansOf(id: String): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = SparkEntry.queries(id)(spark, sf)
      df.collect()
      org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(spark, 30000)
      val it = seen.iterator()
      val plans = Seq.newBuilder[SparkPlan]
      while (it.hasNext) plans += it.next().executedPlan
      // the collect's own plan, unless the listener already reported it
      if (!seen.contains(df.queryExecution)) plans += df.queryExecution.executedPlan
      plans.result()
    } finally spark.listenerManager.unregister(l)
  }

  test("forecast_prophet_like: one user_id hash exchange below the fit, no key projection") {
    val plans = plansOf("forecast_prophet_like")
    val fits = plans.flatMap(p => collect(p) { case m: MapGroupsExec => m })
    assert(fits.length == 1, s"expected one per-series fit, got ${fits.length}")
    val exchanges = collect(fits.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1,
      s"expected one exchange between the scan and the fit:\n${fits.head}")
    exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), n) =>
        assert(a.name == "user_id")
        assert(n == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      case other => fail(s"not a hash exchange on user_id: $other")
    }
    val appends = plans.flatMap(p => collect(p) {
      case a: AppendColumnsExec => a: SparkPlan
      case a: AppendColumnsWithObjectExec => a: SparkPlan
    })
    assert(appends.isEmpty, s"key projection in the plan: ${appends.mkString}")
  }

  for (id <- Seq("forecast_prophet_backtest_audit", "forecast_variants_backtest_audit"))
    test(s"$id: each series is fitted once per action") {
      // the fit rows feed both the calibration aggregate and the join back
      val fits = plansOf(id).flatMap(p => collect(p) { case m: MapGroupsExec => m })
      assert(fits.length == 1, s"the series were fitted ${fits.length} times")
    }

  test("forecast_seasonal_naive: no hash exchange above the grid checkpoint") {
    val df = SparkEntry.queries("forecast_seasonal_naive")(spark, sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val hashed = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.isEmpty, s"the checkpointed grid is shuffled again:\n$plan")
  }

  test("forecast_linear_trend: one hash exchange, the grid's, in its executed plan") {
    val df = SparkEntry.queries("forecast_linear_trend")(spark, sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val hashed = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.length == 1, s"${hashed.length} hash exchanges:\n$plan")
  }

  test("forecast_prophet_like: same rows at 1 shuffle partition as at 8") {
    def rows(parts: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries("forecast_prophet_like")(spark, sf)
        .collect().map(_.toString).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val one = rows("1")
    assert(one.nonEmpty)
    assert(one == rows("8"))
  }

  test("Graft.forecast ≡ the groupByKey chain it replaced, on a seeded frame") {
    import spark.implicits._
    val rng = new scala.util.Random(20261018L)
    val t0 = 1700000000000L / 3600000L * 3600000L
    // 30 keys (negatives included), 20..140 hourly points each, shuffled
    // over 5 partitions so every group is gathered from several
    val data = (for {
      k <- -5 until 25
      h <- 0 until 20 + rng.nextInt(121)
    } yield (k, new java.sql.Timestamp(t0 + h * 3600000L),
      math.floor(rng.nextGaussian() * 3000 + k * 100) / 100.0))
    val df = rng.shuffle(data).toDF("k", "t", "y").repartition(5)

    val cfg = Forecast.WideConfig
    val got = graft.api.Graft.forecast(df, "k", "t", "y", horizon = 24, cfg)
    val ref: DataFrame = df
      .select(col("k").cast("long").as("user_id"), col("t").as("bucket"),
        col("y").cast("double").as("v"))
      .as[Forecast.Point]
      .groupByKey(_.user_id)
      .flatMapGroups((k: Long, it: Iterator[Forecast.Point]) =>
        Forecast.fitPredict(k, it.toArray, 24, cfg))
      .toDF()
      .withColumnRenamed("user_id", "k")
      .withColumnRenamed("bucket", "t")
    assert(got.schema == ref.schema)
    val g = got.collect().map(_.toString).sorted.toSeq
    assert(g.length > 24 * 20, s"only ${g.length} rows")
    assert(g == ref.collect().map(_.toString).sorted.toSeq)
  }
}
