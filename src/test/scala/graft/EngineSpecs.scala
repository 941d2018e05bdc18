package graft

import graft.ops._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Every node of an executed plan, including the final adaptive plan and
  * the subtrees QueryStageExec wrappers hide from a plain `foreach`. */
object PlanNodes {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  def all(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: all(a.executedPlan)
    case qs: QueryStageExec => p +: all(qs.plan)
    case other => other +: other.children.flatMap(all)
  }
}

/** Spark jobs started while a block runs, counted by a listener; the
  * listener bus is drained before and after, so every job the block
  * started is counted and no earlier one is. */
object Jobs {
  def count[T](body: => T): (T, Int) = {
    val s = TestSession.spark
    org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(s, 30000)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    s.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(s, 30000)
      (r, n.get())
    } finally s.sparkContext.removeSparkListener(l)
  }
}

/** Every registered query must execute on sf0.001 (t1-style smoke, wide). */
class SmokeSpec extends AnyFunSuite {
  import TestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys are consistent") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle keys without query: ${os.diff(qs)}")
  }

  // The closed list of legitimately un-oracle-able queries (sketch error
  // bounds, LSH/ANN recall, forecast recovery, watermark exclusion, native
  // xxhash64, stub codec) — each covered by a dedicated property suite. A
  // NEW query missing from oracleSql gets only a weak rows-only check from
  // the driver, so it must be registered here deliberately, not by
  // accident.
  private val selfVerified = Set(
    "agg_approx_distinct", "agg_approx_percentile", "agg_hll_custom",
    "dedup_minhash", "dedup_simhash", "fn_hash_native",
    "forecast_prophet_backtest", "forecast_prophet_configured",
    "forecast_prophet_holidays", "forecast_prophet_like",
    "forecast_prophet_logistic", "forecast_prophet_multiplicative",
    "embed_kmeans", // KmeansSpec: exact-recompute assignment verification
    // pipeline_tokenizer_fit graduated r13: the 16-round argmax trainer is
    // fully replayed by 16 unrolled DuckDB CTE stages (Bpe.tokenizerFitOracleSql)
    "multimodal_decode", "sim_ivf_ann", "sim_ivfpq_ann",
    "sim_ivf_scaled", // sqrt(n)-sized IVF: audited floor >=75 in recall audit
    "sim_ivfpq_served", // AnnServeSpec: row-identical to sim_ivfpq_ann
    "sim_ann_append", // AnnAppendSpec: delta reachability + recall bound
    "sim_ann_filtered", // AnnFilteredSpec: label purity + filtered recall
    "sim_lsh_ann", "sim_mllib_lsh", "sim_pq_ann",
    "sim_sq8_ann", // sim_sq8_recall_audit: >=90 recall floor + int8 contract
    "embed_pca_variance") // CurationSpec: trace/PSD/power-iteration props

  test("every query is oracle-checked unless explicitly self-verified") {
    val orphans =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- selfVerified
    assert(orphans.isEmpty,
      s"queries with neither oracle nor self-verified registration: $orphans")
    val stale = selfVerified -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"self-verified entries no longer registered: $stale")
    val shadowed = selfVerified.intersect(SparkEntry.oracleSql.keySet)
    assert(shadowed.isEmpty,
      s"self-verified entries that now HAVE an oracle (remove from list): $shadowed")
  }

  // A handful of ops legitimately return 0 rows on tiny/filtered slices.
  private val mayBeEmpty = Set("set_except", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "dedup_minhash", "join_left_anti",
    "sink_zorder",
    // sf0.001's (event_type, minute) co-occurrence graph has zero edges
    "graph_common_neighbors", "graph_degree_distribution",
    "graph_shortest_paths", "graph_label_propagation",
    "graph_resource_allocation", "graph_kcore",
    "graph_adamic_adar", "graph_jaccard_linkpred", "graph_local_clustering",
    "graph_connected_components")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"smoke: $name") {
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }
}

/** Forecaster properties (SURVEY §5.4): synthetic recovery + determinism. */
class ForecastSpec extends AnyFunSuite {
  import Forecast._

  private def synth(a: Double, b: Double, c: Double, n: Int): Array[Point] = {
    val rng = new scala.util.Random(7)
    Array.tabulate(n) { i =>
      val hr = 473000L + i // some epoch-hour origin
      val t = i.toDouble / (n - 1)
      val season = c * math.sin(2 * math.Pi * (hr % 168) / 168.0)
      val noise = (rng.nextDouble() - 0.5) * 0.1
      Point(1L, new java.sql.Timestamp(hr * 3600000L), a * t + b + season + noise)
    }
  }

  test("solver inverts a known system") {
    val a = Array(Array(2.0, 1.0), Array(1.0, 3.0))
    val x = solve(a.map(_.clone()), Array(5.0, 10.0))
    assert(math.abs(x(0) - 1.0) < 1e-12 && math.abs(x(1) - 3.0) < 1e-12)
  }

  test("recovers trend + weekly seasonality on synthetic series") {
    val pts = synth(a = 5.0, b = 10.0, c = 2.0, n = 720)
    val fc = fitPredict(1L, pts, horizon = 48).toArray
    assert(fc.length == 48)
    // truth at horizon h: a*t + b + season (t extrapolated past 1.0)
    var sumApe = 0.0
    for ((f, idx) <- fc.zipWithIndex) {
      val hr = 473000L + 720 + idx
      val t = (720.0 + idx) / 719.0
      val truth = 5.0 * t + 10.0 + 2.0 * math.sin(2 * math.Pi * (hr % 168) / 168.0)
      sumApe += math.abs(f.yhat - truth) / math.abs(truth)
      assert(f.yhat_lower <= f.yhat && f.yhat <= f.yhat_upper)
    }
    assert(sumApe / 48 < 0.05, s"MAPE ${sumApe / 48} too high")
  }

  test("additive model at least matches seasonal-naive on seasonal series") {
    val pts = synth(a = 0.5, b = 20.0, c = 5.0, n = 720)
    val cut = 576
    val m = Forecast.fit(pts.take(cut)).get
    val test = pts.drop(cut)
    val maeModel = test.map(p =>
      math.abs(p.v - Forecast.predictAt(m, p.bucket.getTime / 3600000L))).sum / test.length
    val byHr = pts.map(p => p.bucket.getTime / 3600000L -> p.v).toMap
    val naiveErrs = test.flatMap(p =>
      byHr.get(p.bucket.getTime / 3600000L - 168).map(v => math.abs(p.v - v)))
    val maeNaive = naiveErrs.sum / naiveErrs.length
    assert(maeModel <= maeNaive * 1.2,
      s"model MAE $maeModel vs seasonal-naive $maeNaive")
  }

  test("deterministic across invocations and input order") {
    val pts = synth(2.0, 5.0, 1.0, 400)
    val f1 = fitPredict(1L, pts, 24).toArray
    val f2 = fitPredict(1L, scala.util.Random.shuffle(pts.toSeq).toArray, 24).toArray
    assert(f1.map(_.yhat).toSeq == f2.map(_.yhat).toSeq)
  }

  test("distributed run is deterministic across partitionings") {
    import TestSession._
    val a = SparkEntry.queries("forecast_prophet_like")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("forecast_prophet_like")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("non-default Config runs end to end and actually changes the fit") {
    import TestSession._
    val dflt = SparkEntry.queries("forecast_prophet_like")(spark, sf).collect()
    val conf = SparkEntry.queries("forecast_prophet_configured")(spark, sf).collect()
    assert(conf.nonEmpty)
    // same keys × horizon shape as the contract query
    assert(conf.map(r => (r.getLong(0), r.getTimestamp(1))).toSeq ==
      dflt.map(r => (r.getLong(0), r.getTimestamp(1))).toSeq)
    // intervals bracket the point forecast and the components stay additive
    // under the 4-changepoint / K=(2,3) configuration
    for (r <- conf) {
      val (yh, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= yh && yh <= hi)
      assert(math.abs(yh - (r.getDouble(5) + r.getDouble(6) + r.getDouble(7))) <= 2.5e-4)
    }
    // the configuration must plumb through: a different basis + ridge + z
    // cannot reproduce the default predictions identically
    assert(conf.map(_.getDouble(2)).toSeq != dflt.map(_.getDouble(2)).toSeq)
  }
}

/** EWMA ≡ exact sequential recompute from the hourly series. */
class EwmaSpec extends AnyFunSuite {
  import TestSession._

  test("ts_ewma equals direct recompute") {
    val hourly = SparkEntry.queries("ts_resample")(spark, sf)
      .select("user_id", "bucket", "v_avg").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1)
    val expected: Map[(Long, Long), Double] = hourly.toSeq.flatMap {
      case (u, pts) =>
        var e = Double.NaN
        pts.sortBy(_._2).map { case (_, b, v) =>
          e = if (e.isNaN) v else 0.3 * v + 0.7 * e
          ((u, b), math.floor(e * 10000 + 0.5) / 10000.0)
        }.toSeq
    }.toMap
    val got = SparkEntry.queries("ts_ewma")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getTimestamp(1).getTime), r.getDouble(2))).toMap
    assert(got.size == expected.size)
    val bad = expected.filter { case (k, v) => got(k) != v }
    assert(bad.isEmpty, s"mismatches: ${bad.take(3)}")
  }
}

/** As-of join ≡ per-row argmax reference implementation (SURVEY §5.4). */
class AsofSpec extends AnyFunSuite {
  import TestSession._

  test("join_asof matches brute-force last-click-at-or-before") {
    val ev = graft.util.Canon.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_millis(date_trunc('millisecond', ts)) AS ems", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    val expected = purchases.map { p =>
      val prior = clicks.filter(c => c._1 == p._1 && c._4 <= p._4)
      val last = if (prior.isEmpty) -1.0
        else prior.maxBy(c => (c._4, c._2))._5
      ((p._1, p._2), last)
    }.toMap
    val got = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet)
    val mismatches = got.filter { case (k, v) => math.abs(v - expected(k)) > 1e-9 }
    assert(mismatches.isEmpty, s"first mismatches: ${mismatches.take(3)}")
  }
}

/** MinHash-LSH recall/precision vs exhaustive Jaccard (SURVEY §5.4). */
class MinhashSpec extends AnyFunSuite {
  import TestSession._

  test("minhash keep-list on doc slice: precision exact, detection recall >= 0.9") {
    val exactPairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // truth: doc b (< 60) is a dup iff some a < b has J(a,b) >= 0.8
    val trueDups = exactPairs.map(_._2)
    val assigned = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))   // (doc_id, keeper)
      .filter { case (id, k) => id < 60 && k < id }.toMap
    // precision: a keeper assignment within the slice must be a true pair
    for ((id, k) <- assigned)
      assert(exactPairs.contains((k, id)), s"false dup: $id -> $k")
    if (trueDups.nonEmpty) {
      val recall = trueDups.count(assigned.contains).toDouble / trueDups.size
      assert(recall >= 0.9, s"detection recall $recall")
    }
  }
}

/** SimHash star keep-list vs independently recomputed signatures. */
class SimhashSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("simhash star keep-list: precision exact, banded detection recall >= 0.9") {
    // independent ground truth: token hashes from Spark's xxhash64, but the
    // signature fold + banding + exhaustive pairing recomputed driver-side
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val th = graft.util.Canon.tbl(spark, sf, "documents")
      .select(col("doc_id"), explode(split(norm, " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sigs: Map[Long, Long] = th.groupBy(_._1).map { case (id, rows) =>
      val counts = new Array[Int](64)
      for ((_, h) <- rows; i <- 0 until 64)
        counts(i) += (if (((h >> i) & 1L) == 1L) 1 else -1)
      var sig = 0L
      for (i <- 0 until 64) if (counts(i) > 0) sig |= (1L << i)
      id -> sig
    }
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    def bands(x: Long) = (0 until 4).map(b => (b, (x >>> (b * 16)) & 0xFFFFL)).toSet
    val ids = sigs.keys.toArray.sorted
    // banded exhaustive truth: db is a dup iff some da < db shares a band
    // at hamming <= 8 (banding bounds what ANY LSH emission can see; the
    // star pattern is measured against it)
    val trueDups = (for {
      j <- ids.indices; i <- 0 until j
      if bands(sigs(ids(i))).intersect(bands(sigs(ids(j)))).nonEmpty &&
        hamming(sigs(ids(i)), sigs(ids(j))) <= 8
    } yield ids(j)).toSet
    val out = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == ids.length, "keep-list must cover every doc")
    for ((id, k, dup) <- out if dup) {
      assert(k < id, s"keeper $k not earlier than $id")
      assert(hamming(sigs(id), sigs(k)) <= 8, s"false dup: $id -> $k")
    }
    val assigned = out.filter(_._3).map(_._1).toSet
    if (trueDups.nonEmpty) {
      val recall = trueDups.count(assigned).toDouble / trueDups.size
      assert(recall >= 0.9, s"detection recall $recall of ${trueDups.size}")
    }
  }
}

/** Custom HLL aggregate: relative error <= 2% vs exact (SURVEY §2.4). */
class HllSpec extends AnyFunSuite {
  import TestSession._

  test("graft_hll within 2% of exact distinct") {
    val rows = SparkEntry.queries("agg_hll_custom")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val hll = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(hll - exact) / exact <= 0.02,
        s"flag ${r.getString(0)}: hll $hll vs exact $exact")
    }
  }
}

/** Count-Min sketch aggregate: full plain-Scala replay + linearity. */
class CmsSpec extends AnyFunSuite {
  import TestSession._
  import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}

  private def h(i: Int, k: Long): Int =
    (((CmsA(i) * (k % CmsP) + CmsB(i)) % CmsP) % CmsW).toInt

  test("agg_cms_freq: estimates equal a plain-Scala CMS replay, never undercount") {
    // user_id is nullable by contract (pipeline_observe_metrics counts
    // n_null_user); the CountMin aggregate skips nulls, and Row.getLong
    // would silently map NULL to 0 — filter them out of the replay too
    // (ADVICE r14)
    val keys = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").where("user_id IS NOT NULL")
      .collect().map(_.getLong(0))
    val table = Array.ofDim[Long](CmsD, CmsW)
    keys.foreach(k => (0 until CmsD).foreach(i => table(i)(h(i, k)) += 1L))
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rows = SparkEntry.queries("agg_cms_freq")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val k = r.getLong(0)
      val est = (0 until CmsD).map(i => table(i)(h(i, k))).min
      assert(r.getLong(1) == exact(k), s"exact for $k")
      assert(r.getLong(2) == est, s"cms_est for $k: ${r.getLong(2)} vs $est")
      assert(r.getLong(2) >= r.getLong(1) && r.getBoolean(4),
        s"undercount at $k")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }

  test("cms sketch is linear: sketch(A ++ B) == sketch(A) + sketch(B)") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sf/events.parquet").select("user_id", "event_id")
    def sk(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(expr("graft_cms(user_id)")).head().getSeq[Long](0).toArray
    val whole = sk(ev)
    val a = sk(ev.where(col("event_id") % 2 === 0))
    val b = sk(ev.where(col("event_id") % 2 =!= 0))
    assert(whole.toSeq == a.zip(b).map { case (x, y) => x + y }.toSeq)
    // the aggregate SKIPS nulls, so total sketch mass tracks the non-null
    // row count (user_id is nullable by contract — ADVICE r14)
    assert(whole.sum == ev.where("user_id IS NOT NULL").count() * CmsD)
  }
}

/** Custom Catalyst expression ≡ higher-order-function formulation. */
class CosineExprSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("graft_cosine equals aggregate(zip_with(...)) bit-for-bit") {
    val e = graft.util.Canon.tbl(spark, sf, "embeddings").limit(100)
    val hof = aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x) /
      (sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)) *
       sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)))
    val diff = e.select(
      (expr("graft_cosine(embedding, embedding)") - hof).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0, s"max diff $diff")
  }
}

/** Scale techniques: bucketed join must plan without a shuffle exchange. */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSession._

  test("bucketed co-located join has no ShuffleExchange") {
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = ops.Scale.bucketedJoinPlan(spark, sf)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed per-order aggregate elides the grouping shuffle") {
    import org.apache.spark.sql.functions._
    val (liT, _) = ops.Scale.ensureBucketedTables(spark, sf)
    val q = ops.Scale.bucketedAggPlan(spark.table(liT))
    q.collect()
    val shuffles = PlanNodes.all(q.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName.contains("ShuffleExchange"))
    // only the tiny n_lines histogram (+ its ordering) may shuffle — the
    // order-grain rollup must run on the bucket layout exchange-free
    assert(shuffles <= 2, s"expected the per-order agg shuffle elided, got $shuffles exchanges")
    val plain = ops.Scale.bucketedAggPlan(
      graft.util.Canon.tbl(spark, sf, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"))
    plain.collect()
    val plainShuffles = PlanNodes.all(plain.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName.contains("ShuffleExchange"))
    assert(plainShuffles > shuffles,
      s"plain-table form should shuffle more ($plainShuffles vs $shuffles)")
  }

  test("bucket pruning: a point predicate on the bucket key reads 1 of 8 buckets") {
    import org.apache.spark.sql.functions._
    val (liT, _) = ops.Scale.ensureBucketedTables(spark, sf)
    val anyKey = spark.table(liT).select(min(col("l_orderkey"))).head().getLong(0)
    // a bare filter doesn't need the bucket DISTRIBUTION, so Spark's
    // DisableUnnecessaryBucketedScan turns the bucketed read off — and
    // with it the bucket PRUNING this test demonstrates. Pin the scan on.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = spark.table(liT).where(col("l_orderkey") === anyKey)
      q.collect()
      val scan = PlanNodes.all(q.queryExecution.executedPlan)
        .map(_.toString()).find(_.contains("SelectedBucketsCount")).get
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing from scan:\n$scan")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }
}

/** Partition pruning: a lang predicate over the partitioned layout must
  * reach the scan as a PartitionFilter (directory pruning, not data skip). */
class PartitionPruneSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("lang predicate becomes a PartitionFilter") {
    val df = ops.Scale.partitionedDocs(spark, sf).where(col("lang") === "en")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"no partition filter in scan:\n$scan")
  }

  test("scan_parquet_partitioned reads only the qualifying date directories") {
    val q = SparkEntry.queries("scan_parquet_partitioned")(spark, sf)
    q.collect()
    // descend through AQE QueryStageExec wrappers — plain collectLeaves
    // never sees materialized-stage scans
    val scan = PlanNodes.all(q.queryExecution.executedPlan)
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.mkString.contains("events_by_date") => f
      }.get
    assert(scan.toString().contains("PartitionFilters") &&
      scan.toString().contains("dayofmonth"),
      s"no day-of-month partition filter in scan:\n$scan")
    // pruned-partition count: the scan must have listed exactly the
    // qualifying date dirs, not the whole layout (driver-side metric —
    // "number of partitions read"; 7 of 30 at sf0.01)
    val read = scan.metrics("numPartitions").value
    val ev = graft.util.Canon.events(spark, sf)
    val total = ev.select(to_date(col("ts"))).distinct().count()
    val qual = ev.select(to_date(col("ts")).as("dt")).distinct()
      .where(dayofmonth(col("dt")) <= 7).count()
    assert(read == qual && read < total,
      s"scan read $read partitions, expected $qual of $total")
  }

  test("native as-of join equals union-window as-of join") {
    val a = SparkEntry.queries("join_asof")(spark, sf).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("join_asof_native")(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("AQE re-plans at runtime (AQEShuffleRead in the executed plan)") {
    import org.apache.spark.sql.functions._
    val df = graft.util.Canon.tbl(spark, sf, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"),
      s"no AQE runtime re-read in:\n$plan")
  }

  test("pinned broadcast join plans as BroadcastHashJoin") {
    val plan = SparkEntry.queries("join_broadcast")(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"no BHJ in:\n$plan")
  }

  test("probe-side filter pushes through the custom as-of join to the scan") {
    import org.apache.spark.sql.functions._
    val ev = graft.util.Canon.events(spark, sf)
      .withColumn("tsm", graft.util.Canon.tsMs(col("ts")))
    val probe = ev.where(col("event_type") === "purchase").select(
      col("user_id"), col("event_id"), col("value").as("pv"),
      unix_millis(col("tsm")).as("p_ems"))
    val ref = ev.where(col("event_type") === "click").select(
      col("user_id").as("r_user"), unix_millis(col("tsm")).as("r_ems"),
      col("value").as("cv"))
    val joined = graft.plans.AsOfJoin
      .join(spark, probe, ref, "user_id", "p_ems", "r_user", "r_ems")
      .where(col("user_id") < 5)
    val leaves = joined.queryExecution.executedPlan.collectLeaves().map(_.toString())
    val withPush = leaves.count(l => l.contains("LessThan(user_id,5"))
    assert(withPush == 1,
      s"expected the probe scan (and only it) to carry the pushed filter:\n${leaves.mkString("\n")}")
    // and the result is still correct vs filtering after the join
    val a = joined.select("user_id", "event_id", "cv").collect().map(_.toSeq).toSet
    val b = graft.plans.AsOfJoin
      .join(spark, probe, ref, "user_id", "p_ems", "r_user", "r_ems")
      .select("user_id", "event_id", "cv")
      .collect().map(_.toSeq).filter(r => r.head.asInstanceOf[Long] < 5).toSet
    assert(a == b)
  }

  test("native as-of join edge cases (equal ts, no prior row, duplicate ref ts)") {
    import spark.implicits._
    // (key, time, value)
    val probe = Seq(
      (1L, 10L, 100.0), // equal ts with ref at 10 -> inclusive match
      (1L, 5L, 101.0),  // before any ref -> null
      (2L, 50L, 102.0), // between refs -> latest at-or-before (t=40)
      (3L, 7L, 103.0)   // key with no refs at all -> null
    ).toDF("k", "t", "pv")
    val ref = Seq(
      (1L, 10L, 1.0),
      (2L, 20L, 2.0), (2L, 40L, 3.0), (2L, 60L, 4.0),
      (4L, 1L, 9.0)   // ref-only key, never matched
    ).toDF("rk", "rt", "rv")
    val got = graft.plans.AsOfJoin.join(spark, probe, ref, "k", "t", "rk", "rt")
      .select($"k", $"t", $"rv").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == Set(
      (1L, 10L, 1.0), (1L, 5L, null), (2L, 50L, 3.0), (3L, 7L, null)))
  }

  test("native as-of join holds under AQE with forced shuffle coalescing") {
    // AsOfJoinExec zips its children's partitions — both sides must stay
    // co-partitioned when AQE coalesces shuffle partitions at runtime
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    try {
      val a = SparkEntry.queries("join_asof")(spark, sf).collect().map(_.toSeq).toSeq
      val b = SparkEntry.queries("join_asof_native")(spark, sf).collect().map(_.toSeq).toSeq
      assert(a == b)
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
  }

  test("as-of self-join with shared unaliased columns gets fresh exprIds") {
    import spark.implicits._
    val base = Seq((1L, 10L, 1.0), (1L, 20L, 2.0)).toDF("k", "t", "v")
    val j = graft.plans.AsOfJoin.join(spark, base, base, "k", "t", "k", "t")
    val out = j.queryExecution.analyzed.output
    assert(out.map(_.exprId).distinct.size == out.size,
      s"duplicate exprIds in self-join output: $out")
    // each probe row matches itself (time ≤ inclusive): v == matched v
    val rows = j.collect().map(r => (r.getDouble(2), r.getDouble(5)))
    assert(rows.toSet == Set((1.0, 1.0), (2.0, 2.0)))
  }

  test("nondeterministic filter is not pushed through the as-of join") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probe = Seq((1L, 10L, 1.0)).toDF("k", "t", "v")
    val ref = Seq((1L, 5L, 9.0)).toDF("rk", "rt", "rv")
    val df = graft.plans.AsOfJoin.join(spark, probe, ref, "k", "t", "rk", "rt")
      .where(rand(7) < 0.5)
    val opt = df.queryExecution.optimizedPlan
    val above = opt.collect {
      case f @ Filter(cond, _) if !cond.deterministic => f
    }
    assert(above.nonEmpty, s"nondeterministic filter was relocated:\n$opt")
    val below = opt.collect { case j: graft.plans.AsOfJoin => j.left }
    assert(below.forall(_.collect { case f: Filter => f }.isEmpty),
      s"filter leaked below the join:\n$opt")
  }
}

/** Subquery rewrite plan shapes (§2 subquery family). */
class SubqueryPlanSpec extends AnyFunSuite {
  import TestSession._

  test("NOT IN plans as an anti join (null-aware path)") {
    val df = SparkEntry.queries("sub_not_in")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("LeftAnti"), s"no anti join in:\n$plan")
  }

  test("twice-referenced CTE reuses the shared aggregate") {
    val df = SparkEntry.queries("sub_cte_reuse")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Reused"), s"no exchange/stage reuse in:\n$plan")
  }

  test("PSI totals branch reuses the bucket-agg exchange (single corpus scan)") {
    // the one-row totals frame derives from the same bucket aggregation the
    // terms branch consumes; at 100 TB the difference between ReusedExchange
    // and a re-derived branch is a second full corpus scan
    val df = SparkEntry.queries("agg_psi_drift")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReusedExchange"), s"no exchange reuse in:\n$plan")
  }
}

/** KLL-style quantile sketch (custom TypedImperativeAggregate, §2.11). */
class QuantileSketchSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  private def rankError(values: Seq[Double], p: Double, est: Double): Double = {
    val frac = values.count(_ <= est).toDouble / values.size
    math.abs(frac - p)
  }

  test("compacted sketch stays within 3% rank error on 50k elements") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // mixed distribution: uniform + heavy tail
    val values = Seq.fill(50000)(
      if (rng.nextBoolean()) rng.nextDouble() * 100
      else math.pow(rng.nextDouble(), 4) * 10000)
    val df = values.toDF("v").repartition(8)
    for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val est = df.agg(expr(s"graft_kll_quantile(v, $p, 128)")).head().getDouble(0)
      val err = rankError(values, p, est)
      assert(err <= 0.03, s"p=$p est=$est rank error $err")
    }
  }

  test("sketch is exact (an order statistic) when n <= k") {
    import spark.implicits._
    val values = (1 to 100).map(_.toDouble)
    val df = values.toDF("v").repartition(4)
    val est = df.agg(expr("graft_kll_quantile(v, 0.5, 128)")).head().getDouble(0)
    assert(est == 50.0, s"expected the 50th element, got $est")
  }
}

/** Additive Holt–Winters core (ts_holt_winters §2.9). */
class HoltWintersSpec extends AnyFunSuite {

  test("recovers a linear + daily-seasonal signal") {
    val m = 24
    def truth(t: Int): Double =
      0.5 * t + 10.0 + 3.0 * math.sin(2 * math.Pi * (t % m) / m)
    val y = Array.tabulate(240)(truth)
    val fc = ops.TimeSeries.holtWintersCore(y, m, 24).get
    fc.zipWithIndex.foreach { case (yh, h) =>
      val tr = truth(240 + h)
      assert(math.abs(yh - tr) / math.max(1.0, math.abs(tr)) < 0.05,
        s"h=$h yh=$yh truth=$tr")
    }
  }

  test("short series yields none; identical inputs give identical forecasts") {
    assert(ops.TimeSeries.holtWintersCore(Array.fill(47)(1.0), 24, 24).isEmpty)
    val y = Array.tabulate(100)(t => math.sin(t * 0.7) * 5 + t * 0.1)
    val a = ops.TimeSeries.holtWintersCore(y, 24, 12).get.toSeq
    val b = ops.TimeSeries.holtWintersCore(y.clone(), 24, 12).get.toSeq
    assert(a == b)
  }
}

/** Misra–Gries heavy hitters (custom TypedImperativeAggregate, §2.11). */
class HeavyHittersSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("sketch is exact when distinct <= k (the agg_heavy_hitters premise)") {
    val got = SparkEntry.queries("agg_heavy_hitters")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.util.Canon.tbl(spark, sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
  }

  test("MG bounds hold with k < distinct on skewed data") {
    import spark.implicits._
    // zipf-ish: item i appears ~2000/i times → items 1..2 are heavy at k=8
    val rows = (1 to 50).flatMap(i => Seq.fill(2000 / i)(i.toLong))
    val res = rows.toDF("item").repartition(8)
      .agg(expr("graft_heavy_hitters(item, 8)").as("hh"))
      .select(explode(col("hh")).as("c"))
      .select(col("c.item"), col("c.est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = rows.size / 9 // n/(k+1)
    assert(res.nonEmpty && res.size <= 8)
    res.foreach { case (item, est) =>
      assert(est <= exact(item), s"overestimate for $item")
      assert(exact(item) - est <= bound, s"error bound violated for $item")
    }
    exact.filter(_._2 > bound).keys
      .foreach(i => assert(res.contains(i), s"heavy item $i lost"))
  }
}

/** Full-corpus near-dup connected components (pipeline_neardup_full):
  * collapse → set-pair → propagate → expand must equal the brute-force
  * doc-level transitive closure, and the propagation must converge below
  * its round cap (the round-4 verdict's telemetry item — a pathological
  * graph exhausting rounds would otherwise mislabel silently). */
class NeardupFullSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("keeper = component min, one keeper per component, rounds below cap") {
    val (labels, rounds) = TextDedup.neardupFullLabels(spark, sf)
    val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rounds < 20, s"label propagation hit the round cap ($rounds)")
    assert(rows.length == spark.read.parquet(s"$sf/documents.parquet").count())
    rows.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min == label, s"label $label is not its component min")
      assert(members.count(_._3) == 1, s"component $label keeper count != 1")
      assert(members.find(_._3).get._1 == label, "keeper is not the min node")
    }
  }

  test("collapsed set-level pairing equals brute-force doc-level closure") {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val t = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), array_distinct(split(norm, " ")).as("st"))
    val a = t.select(col("doc_id").as("da"), col("st").as("sa"))
    val b = t.select(col("doc_id").as("db"), col("st").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val pairs = a.join(broadcast(b), col("da") < col("db") &&
        inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter).cast("double") >= 0.8)
      .select(col("da"), col("db"))
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
    val want = TextDedup.propagateMinLabels(edges,
        t.select(col("doc_id").as("node"), col("doc_id").as("label")),
        maxRounds = 20)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TextDedup.neardupFullLabels(spark, sf)._1
      .select("node", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "collapsed components differ from brute-force closure")
  }
}

/** Forces pipeline_neardup_full's OPEN-VOCABULARY pair stage (round-5
  * verdict item 1): a 130-token-vocabulary fixture cannot take the ≤64
  * bitmask fast path, so the pair stage must run dedup_minhash's banded-LSH
  * candidates. Labels are asserted identical to an exact all-pairs closure
  * computed independently in driver Scala, and the pairing plan is asserted
  * free of any all-pairs join shape. */
object NeardupBandedSpec {
  // 25 clusters of 4 near-dup docs (pairwise Jaccard ≥ 0.9) over a sliding
  // 20-token window of a 130-token vocabulary (adjacent clusters overlap at
  // Jaccard 0.6 — below the 0.8 threshold), plus 10 singletons of far-apart
  // 5-token sets. Every doc is a distinct token set, so the collapse stage
  // is the identity and the banded pair stage sees all 110 sets.
  def vocabTok(i: Int) = s"w${((i % 130) + 130) % 130}"
  lazy val fixture: Seq[(Long, Seq[String])] = {
    val clustered = (0 until 25).flatMap { c =>
      val base = (0 until 20).map(j => vocabTok(c * 5 + j))
      Seq(
        (c * 4 + 0).toLong -> base,
        (c * 4 + 1).toLong -> base.drop(1),
        (c * 4 + 2).toLong -> base.dropRight(1),
        (c * 4 + 3).toLong -> (base :+ vocabTok(c * 5 + 20)))
    }
    val singletons = (0 until 10).map { k =>
      (100 + k).toLong -> (0 until 5).map(j => vocabTok(k * 13 + j * 2 + 1))
    }
    clustered ++ singletons
  }
}

class NeardupBandedSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import NeardupBandedSpec.fixture

  private def docsDf = fixture
    .map { case (id, toks) => (id, toks.mkString(" ")) }
    .toDF("doc_id", "text")

  test("fixture vocabulary exceeds the 64-token bitmask bound") {
    assert(fixture.flatMap(_._2).distinct.size > 64)
  }

  /** Ground truth: exact all-pairs Jaccard union-find on the driver. */
  private def exactClosure(fx: Seq[(Long, Seq[String])]): Map[Long, Long] = {
    val sets = fx.map { case (id, toks) => id -> toks.toSet }.toMap
    val ids = sets.keys.toArray.sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (i <- ids; j <- ids if i < j) {
      val (a, b) = (sets(i), sets(j))
      val inter = a.intersect(b).size.toDouble
      if (inter / (a.size + b.size - inter) >= 0.8) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("open-vocab banded labels equal the exact all-pairs closure") {
    val want = exactClosure(fixture)
    val (labels, rounds) = ops.TextDedup.neardupLabelsFromDocs(docsDf)
    assert(rounds < 20, s"label propagation hit the round cap ($rounds)")
    val got = labels.select("node", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, "banded open-vocab labels differ from exact closure")
    // structure sanity: 25 four-doc clusters + 10 singletons
    assert(got.values.toSeq.distinct.size == 35)
  }

  test("set-count cap routes a tiny-vocab/many-sets corpus to the banded path") {
    // 48-token vocabulary — WITHIN the ≤64 bitmask bound — whose distinct
    // set count exceeds a (test-sized) maskSetCap: the round-10 routing
    // guard must send the pair stage down the banded-LSH path instead of
    // broadcasting all sets into an all-pairs bitmask join (the degenerate
    // 100 TB shape: tiny vocabulary, billions of distinct subsets). Labels
    // must equal the exact closure AND the bitmask path's own labels on
    // the identical fixture, so the two routes are interchangeable.
    def tok48(i: Int) = s"w${((i % 48) + 48) % 48}"
    val fx: Seq[(Long, Seq[String])] = {
      val clustered = (0 until 8).flatMap { c =>
        val base = (0 until 10).map(j => tok48(c * 6 + j))
        Seq(
          (c * 4 + 0).toLong -> base,
          (c * 4 + 1).toLong -> base.drop(1),
          (c * 4 + 2).toLong -> base.dropRight(1),
          (c * 4 + 3).toLong -> (base :+ tok48(c * 6 + 10)))
      }
      val singletons = (0 until 6).map { k =>
        (200 + k).toLong -> (0 until 4).map(j => tok48(k * 11 + j * 5 + 2))
      }
      clustered ++ singletons
    }
    assert(fx.flatMap(_._2).distinct.size <= 64, "fixture must fit the mask")
    val df = fx.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val want = exactClosure(fx)
    def labelsOf(cap: Long): Map[Long, Long] = {
      val (labels, rounds) = ops.TextDedup.neardupLabelsFromDocs(df, cap)
      assert(rounds < 20)
      labels.select("node", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val banded = labelsOf(16L) // forces the fallback: |sets| = 38 > 16
    val bitmask = labelsOf(1L << 13) // the default fast path
    assert(banded == want, "guarded banded labels differ from exact closure")
    assert(bitmask == want, "bitmask labels differ from exact closure")
  }

  test("banded pair stage plans no all-pairs join") {
    val sets = docsDf
      .select(col("doc_id").as("id"),
        sort_array(array_distinct(expr(
          "transform(split(lower(trim(text)), ' '), t -> xxhash64(t))"))).as("sh"))
    val plan = ops.TextDedup.bandedVerifiedPairs(sets)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "banded pair stage fell back to an all-pairs BNLJ")
    assert(!plan.contains("CartesianProduct"),
      "banded pair stage planned a cartesian product")
  }
}

/** The exact-truth side of both dedup audits (`jaccardTruthDups`) on both
  * of its routes: NeardupBandedSpec's 130-token fixture takes the
  * `array_intersect` all-pairs scan, its first eight clusters (56 tokens)
  * the bitmask join. Exact duplicates (one reordered, with a repeated
  * token) exercise the collapse. The truth doc ids must equal a driver-side
  * brute force: a doc is a truth dup iff some smaller doc has string-token
  * Jaccard ≥ 0.8 with it. */
class JaccardTruthSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import NeardupBandedSpec.{fixture, vocabTok}

  private def bruteForce(fx: Seq[(Long, Seq[String])]): Set[Long] = {
    val sets = fx.map { case (id, t) => id -> t.toSet }
    sets.collect { case (j, b) if sets.exists { case (i, a) =>
      val inter = a.intersect(b).size.toDouble
      i < j && inter / (a.size + b.size - inter) >= 0.8
    } => j }.toSet
  }

  private def check(fx: Seq[(Long, Seq[String])]): Unit = {
    val want = bruteForce(fx)
    val docs = fx.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.ops.TextDedup.jaccardTruthDups(docs).collect()
      .map(_.getLong(0)).toSeq
    assert(got.distinct.size == got.size, "a truth dup was emitted twice")
    assert(got.toSet == want)
    assert(want.nonEmpty && want.size < fx.size)
  }

  // doc 200 copies a cluster member; 201 and 202 copy singleton 103 (202
  // reordered with a repeated token), so both are dups by identity alone
  private val copies: Seq[(Long, Seq[String])] = {
    val byId = fixture.toMap
    Seq(200L -> byId(5L), 201L -> byId(103L),
      202L -> (byId(103L).reverse :+ byId(103L).head))
  }

  test("open-vocabulary truth (array_intersect route) equals brute force") {
    val fx = fixture ++ copies
    assert(fx.flatMap(_._2).distinct.size > 64)
    check(fx)
  }

  test("≤64-token truth (bitmask route) equals brute force") {
    val fx = fixture.filter(_._1 < 32) ++ copies
    assert(fx.flatMap(_._2).distinct.size <= 64)
    assert(fx.flatMap(_._2).toSet == (0 until 56).map(vocabTok).toSet)
    check(fx)
  }
}

/** Incremental near-dedup (round-6 verdict item 2): labels computed by
  * deduping a batch slice against standing corpus state must equal the
  * from-scratch whole-table labels — on the parquet corpus (bitmask pair
  * path) AND on NeardupBandedSpec's 130-token open-vocabulary fixture,
  * which forces the band-table ⋈ band-table path, including across several
  * split points (batch docs bridging standing clusters, batch-internal
  * dups, batch docs equal to corpus docs). */
class IncrementalDedupSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("node", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  /** Label `batch` against the standing state of `corpus`, staged with
    * `neardupStateWrite` into a temp dir that is deleted afterwards. */
  private def incremental(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nd-state").toString
    try {
      TextDedup.neardupStateWrite(corpus, dir)
      val (inc, rounds) = TextDedup.neardupIncrementalLabels(batch,
        TextDedup.neardupStateRead(spark, dir))
      (labelsOf(inc), rounds)
    } finally graft.util.Canon.deleteTree(dir)
  }

  test("incremental labels equal full recompute on the parquet corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = labelsOf(TextDedup.neardupFullLabels(spark, sf)._1)
    val split = 375L // 3/4 of the 500-doc fixture — matches the query wrapper
    val (inc, rounds) = incremental(
      docs.where(col("doc_id") < split), docs.where(col("doc_id") >= split))
    assert(rounds < 20, s"incremental propagation hit the round cap ($rounds)")
    assert(inc == full, "incremental labels differ from full recompute")
  }

  test("open-vocab band-table path equals full recompute at several splits") {
    // NeardupBandedSpec's fixture: 25 four-doc near-dup clusters over a
    // sliding 20-token window of a 130-token vocabulary + 10 singletons.
    val fixture = NeardupBandedSpec.fixture
    assert(fixture.flatMap(_._2).distinct.size > 64) // forces the band path
    val docsDf = fixture.map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val full = labelsOf(TextDedup.neardupLabelsFromDocs(docsDf)._1)
    // splits chosen so batches cut clusters mid-way (50: cluster 12 is half
    // corpus half batch; 99: only cluster 24's tail + singletons; 75 — mixed)
    for (split <- Seq(50L, 75L, 99L)) {
      val (inc, rounds) = incremental(
        docsDf.where(col("doc_id") < split), docsDf.where(col("doc_id") >= split))
      assert(rounds < 20, s"split $split hit the round cap ($rounds)")
      assert(inc == full, s"split $split labels differ from full")
    }
  }

}

/** The round-4 verdict's literal composition sketch — min-label propagation
  * over dedup_minhash's banded VERIFIED edges — measured against the exact
  * closure pipeline_neardup_full ships. The banded edge set is a subset of
  * the true edge set (verification is exact Jaccard), so its components
  * refine the exact ones; on a near-clique dup corpus the 16×4 bands'
  * ~0.9998 per-pair recall should keep the partitions essentially
  * identical. This is the composition that replaces the bitmask set-pairing
  * stage at open-vocabulary / beyond-broadcast scale. */
class MinhashCcSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("banded-LSH verified-edge components agree with the exact closure") {
    val pairs = TextDedup.minhashVerifiedPairs(spark, sf).select("da", "db")
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
    val nodes = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("node"), col("doc_id").as("label"))
    val (labels, rounds) = TextDedup.propagateMinLabels(edges, nodes, maxRounds = 20)
    assert(rounds < 20, s"banded propagation hit the round cap ($rounds)")
    val banded = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = TextDedup.neardupFullLabels(spark, sf)._1
      .select("node", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(banded.keySet == exact.keySet)
    val agree = banded.count { case (n, l) => exact(n) == l }
    assert(agree.toDouble / banded.size >= 0.97,
      s"banded components diverge from exact closure: $agree/${banded.size}")
  }
}

/** Deterministic BPE tokenization (round-6 verdict item 4): the codegen
  * marker-replace cascade must agree exactly with an independent driver-side
  * implementation of "apply each merge rule in order, left-to-right within
  * each word", and the packing variant must conserve tokens. */
class BpeSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("merges fixture is loaded, ordered, space-free") {
    val m = ops.Bpe.merges
    assert(m.size >= 64, s"suspiciously few merges: ${m.size}")
    assert(m.forall { case (a, b) => !(a + b).contains(" ") },
      "a merge containing a space would fuse words")
    // every non-initial merge builds on symbols producible by earlier rules
    val known = scala.collection.mutable.Set[String]() ++ ('a' to 'z').map(_.toString)
    m.foreach { case (a, b) =>
      assert(known(a) && known(b), s"merge ($a,$b) uses an unproducible symbol")
      known += (a + b)
    }
  }

  test("distributed bpeTokens equals the driver-side reference on the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, t) => id -> ops.Bpe.bpeTokensLocal(t).toLong }.toMap
    val got = SparkEntry.queries("text_token_count_bpe")(spark, sf)
      .select("doc_id", "n_bpe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, "marker-replace cascade diverges from reference BPE")
  }

  test("edge cases: empty, single char, repeated merge targets") {
    val df = Seq((1L, "a"), (2L, "  spaced   out  "), (3L, "eeee"),
      (4L, "erer"), (5L, "xyzzy plugh")).toDF("doc_id", "text")
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val got = df.select(col("doc_id"), ops.Bpe.bpeTokens(norm).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Seq((1L, "a"), (2L, "  spaced   out  "), (3L, "eeee"),
      (4L, "erer"), (5L, "xyzzy plugh"))
      .map { case (id, t) => id -> ops.Bpe.bpeTokensLocal(t).toLong }.toMap
    assert(got == want)
  }

  test("text_bpe_fertility: roundtrip lossless, fertility consistent with counts") {
    val rows = SparkEntry.queries("text_bpe_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(4) == 0L),
      "BPE marker roundtrip lost characters")
    val counts = SparkEntry.queries("text_token_count_bpe")(spark, sf)
      .agg(sum("n_bpe")).head().getLong(0)
    assert(rows.map(_.getLong(3)).sum === counts,
      "fertility token total diverges from per-doc counts")
    rows.foreach { r =>
      val f = r.getDouble(5)
      assert(f > 1.0, s"${r.getString(0)}: fertility $f implies no compression")
    }
  }

  test("BPE compresses: words <= bpe tokens <= chars, packs conserve tokens") {
    val counts = SparkEntry.queries("text_token_count_bpe")(spark, sf).collect()
    counts.foreach { r =>
      val (words, bpe, chars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(words <= bpe, s"doc ${r.getLong(0)}: fewer tokens than words")
      assert(bpe < chars, s"doc ${r.getLong(0)}: no compression at all")
    }
    val total = counts.map(_.getLong(2)).sum
    val packed = SparkEntry.queries("pack_sequences_bpe")(spark, sf)
      .agg(sum("pack_tokens")).head().getLong(0)
    assert(packed == total, "packing dropped or duplicated tokens")
  }
}

/** ANN index persistence (round-6 verdict item 3): the serving path must
  * answer from a LOADED index with results identical to the train-path —
  * training is deterministic and parquet round-trips doubles exactly, so
  * served recall == trained recall by row equality, not by a looser
  * overlap bound. */
class AnnServeSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("sim_ivfpq_served equals sim_ivfpq_ann row for row") {
    val trained = SparkEntry.queries("sim_ivfpq_ann")(spark, sf)
      .collect().map(_.toSeq)
    val served = SparkEntry.queries("sim_ivfpq_served")(spark, sf)
      .collect().map(_.toSeq)
    assert(trained.nonEmpty)
    assert(served.toSeq == trained.toSeq,
      "load-path results differ from train-path results")
  }

  test("facade save/load round-trips the model and the query result") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = graft.api.Graft.annIndex(e).get
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    idx.save(dir)
    val loaded = graft.api.Graft.annIndexLoad(spark, dir).get
    val q = e.where(col("vec_id") < 7)
    val want = idx.topk(e, q, k = 3).collect().map(_.toSeq).toSeq
    val got = loaded.topk(e, q, k = 3).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got == want, "loaded-index topk differs from trained-index topk")
    // k is honored and ranks are 1..k per query
    val byQ = got.groupBy(_.head)
    byQ.values.foreach { rows =>
      assert(rows.map(_(1)).toSet == (1 to 3).map(i => i).toSet)
    }
  }

  test("annIndexLoad on a missing path is None, not a crash") {
    assert(graft.api.Graft.annIndexLoad(spark, "/tmp/graft_no_such_index").isEmpty)
  }
}

/** Incremental index append (sim_ann_append): the model is trained on the
  * base corpus only (vec_id % 10 ≠ 7), the delta is encoded with the frozen
  * model — so the spec must prove the delta actually entered the index. */
class AnnAppendSpec extends AnyFunSuite {
  import TestSession._

  test("append-path serves delta queries and retrieves delta vectors") {
    val rows = SparkEntry.queries("sim_ann_append")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every fixture query (vec_id < 10) answered with ranks 1..5 — including
    // qid 7, which is itself a delta vector the trainer never saw
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 10L).toSet, s"missing qids: ${byQ.keySet}")
    byQ.values.foreach(rs => assert(rs.map(_._2).sorted.toSeq == (1 to 5)))
    // delta vectors are reachable as NEIGHBORS: appended rows really landed
    // in the inverted lists, they aren't just query-able
    assert(rows.exists(_._3 % 10 == 7),
      "no delta vector retrieved — append path dropped the new batch")
    // recall sanity vs exact top-5 over the FULL corpus
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = rows.map(r => (r._1, r._3)).toSet
    assert(ann.intersect(exact).nonEmpty,
      "append-path found no exact top-5 neighbors at all")
  }
}

/** Bounded top-k selection aggregate (graft_topk_min) — the O(k)-state
  * replacement for full-partition window ranking in the ANN candidate
  * stages (sim_pq_ann / sim_ivfpq_ann). */
class TopKSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("graft_topk_min equals the window-rank formulation across partitions") {
    // many score ties (score = id % 37) so the (score, id) tie-break is
    // actually exercised; 13 partitions so partial heaps really merge
    val df = spark.range(0, 5000).toDF("id").repartition(13)
      .withColumn("g", col("id") % 7)
      .withColumn("score", (col("id") % 37).cast("double"))
    val got = df.groupBy("g")
      .agg(expr("graft_topk_min(score, id, 25)").as("topk"))
      .select(col("g"), posexplode(col("topk")).as(Seq("pos", "c")))
      .select(col("g"), col("pos"), col("c.score"), col("c.id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(asc("score"), asc("id"))
    val want = df.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 25)
      .select(col("g"), (col("rk") - 1).as("pos"), col("score"), col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSet == want.toSet, "topk_min disagrees with window rank")
    // output arrays are sorted ascending by (score, id)
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(sorted == sorted.sorted, "array not sorted")
    }
  }

  test("ANN candidate stages rank through the bounded aggregate, not a corpus window") {
    for (name <- Seq("sim_pq_ann", "sim_ivfpq_ann")) {
      // Catalyst prints the aggregate by its expression class (topkmin),
      // not the registry alias
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("topkmin"),
        s"$name candidate stage no longer uses the bounded top-k aggregate")
    }
  }
}

/** Exact bitset distinct aggregate (graft_bitmap_distinct §2.11) — exact
  * under partitioning/merge, fail-fast out of range. */
class BitmapSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("bitmap distinct equals exact countDistinct across partitions") {
    // dup-heavy values over 17 partitions so partial bitmaps really merge
    val df = spark.range(0, 10000).toDF("id").repartition(17)
      .withColumn("g", col("id") % 3)
      .withColumn("v", (col("id") * col("id")) % 4096)
    val rows = df.groupBy("g").agg(
      expr("graft_bitmap_distinct(v, 4096)").as("bm"),
      countDistinct(col("v")).as("exact")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"group ${r.getLong(0)}: bitmap ${r.getLong(1)} != exact ${r.getLong(2)}"))
  }

  test("out-of-range value fails fast instead of undercounting") {
    val ex = intercept[Throwable] {
      spark.range(0, 10).toDF("v")
        .agg(expr("graft_bitmap_distinct(v, 5)")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null), "no diagnostic message")
  }
}

/** Label-propagation convergence (dedup_connected_components §2.9). */
class LabelPropSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("pre-converged graph exits after one round") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val init = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "label")
    val (labels, rounds) =
      ops.TextDedup.propagateMinLabels(edges, init, maxRounds = 20,
        localSolveCap = 0L) // pin the distributed loop: rounds is the subject
    assert(rounds == 1, s"expected early exit after 1 round, ran $rounds")
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("chain graph converges to the component min within the cap") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val init = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("node", "label")
    val (labels, rounds) =
      ops.TextDedup.propagateMinLabels(edges, init, maxRounds = 20,
        localSolveCap = 0L)
    assert(labels.collect().map(_.getLong(1)).forall(_ == 1L))
    assert(rounds <= 5, s"chain of diameter 3 took $rounds rounds")
  }

  test("pointer-jumping makes rounds logarithmic: 200-chain inside 12 rounds") {
    // plain relax-only propagation needs diameter rounds (200 here, far
    // over any sane cap); the Shiloach–Vishkin shortcut step must bring a
    // 200-node path graph home in ~log2 rounds
    val n = 200L
    val fwd = (1L until n).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val init = (1L to n).map(i => (i, i)).toDF("node", "label")
    val (labels, rounds) =
      ops.TextDedup.propagateMinLabels(edges, init, maxRounds = 15,
        localSolveCap = 0L)
    assert(labels.collect().map(_.getLong(1)).forall(_ == 1L),
      "path graph did not collapse to one component")
    assert(rounds <= 12, s"200-node chain took $rounds rounds")
  }

  test("bounded local solve equals the distributed loop on a random graph") {
    // seeded random graph with isolated nodes, chains, and merged cliques;
    // the adaptive union-find path (edges under the cap) must produce the
    // exact labels the distributed loop produces
    val rng = new scala.util.Random(7)
    val n = 300L
    val pairs = (1 to 400).map { _ =>
      val a = rng.nextInt(n.toInt).toLong; val b = rng.nextInt(n.toInt).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val init = (0L until n).map(i => (i, i)).toDF("node", "label")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = m(ops.TextDedup.propagateMinLabels(edges, init,
      maxRounds = 20)._1) // default cap: takes the union-find path
    val looped = m(ops.TextDedup.propagateMinLabels(edges, init,
      maxRounds = 20, localSolveCap = 0L)._1)
    assert(local == looped, "local union-find diverged from the loop")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("arm boundary: cap edges take the union-find, cap + 1 the loop, same labels") {
    val cap = 6L
    // three undirected edges = 6 directed; a self-loop makes the 7th
    val sym = Seq((1L, 2L), (2L, 3L), (7L, 8L)).flatMap(p => Seq(p, p.swap))
    val init = Seq(1L, 2L, 3L, 7L, 8L, 9L).map(i => (i, i)).toDF("node", "label")
    for ((dir, local) <- Seq(sym -> true, (sym :+ ((2L, 2L))) -> false)) {
      val edges = dir.toDF("src", "dst").repartition(3)
      val (at, rounds) = ops.TextDedup.propagateMinLabels(edges, init,
        maxRounds = 20, localSolveCap = cap)
      assert((rounds == 0) == local,
        s"${dir.size} edges under cap $cap ran $rounds rounds")
      val looped = ops.TextDedup.propagateMinLabels(edges, init,
        maxRounds = 20, localSolveCap = 0L)._1
      assert(labelsOf(at) == labelsOf(looped))
      assert(labelsOf(at) == Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L),
        (8L, 7L), (9L, 9L)))
    }
  }

  test("componentLabels: union-find ≡ loop on a connected-components graph") {
    // the graph_connected_components shape: symmetric closure of a random
    // undirected graph, nodes = edge endpoints only
    val rng = new scala.util.Random(29)
    val und = (1 to 250).map { _ =>
      (rng.nextInt(400).toLong, rng.nextInt(400).toLong)
    }.filter(p => p._1 != p._2).distinct
    val edges = und.flatMap(p => Seq(p, p.swap)).toDF("src", "dst")
      .repartition(5)
    val (local, r0) = ops.TextDedup.componentLabels(edges, maxRounds = 20)
    val (looped, r1) = ops.TextDedup.componentLabels(edges, maxRounds = 20,
      localSolveCap = 0L)
    assert(r0 == 0 && r1 > 0)
    assert(local.rdd.getNumPartitions == 1)
    val l = labelsOf(local)
    assert(l == labelsOf(looped), "union-find diverged from the loop")
    assert(l.map(_._1) == und.flatMap(p => Seq(p._1, p._2)).toSet)
    // the same labels as the init-seeded core over those endpoints
    val init = l.toSeq.map(p => (p._1, p._1)).toDF("node", "label")
    assert(l == labelsOf(ops.TextDedup.propagateMinLabels(edges, init,
      maxRounds = 20)._1))
  }
}

/** PageRank's bounded driver-local arm (Graph.pagerankCore under
  * LocalSolveCap) must reproduce the distributed loop (cap 0) row for row,
  * on the graph-wide shapes the oracle contract covers. */
class PagerankArmsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSet
  private def bothArms(edges: org.apache.spark.sql.DataFrame) =
    (rows(ops.Graph.pagerankCore(edges)), // default cap: local arm
      rows(ops.Graph.pagerankCore(edges, localSolveCap = 0L)))

  test("local arm equals the loop: duplicate edges and a dst-only node") {
    val rng = new scala.util.Random(11)
    val und = (1 to 300).map { _ =>
      (rng.nextInt(120).toLong, rng.nextInt(120).toLong)
    }.filter(p => p._1 != p._2)
    // symmetric closure, some edges repeated (counted once per row in the
    // degree and the contribution sum), node 999 only ever a destination
    val dir = und.flatMap(p => Seq(p, p.swap)) ++ und.take(40) ++
      Seq((3L, 999L), (5L, 999L))
    val edges = dir.toDF("src", "dst")
    assert(ops.Graph.materializeEdges(edges, ops.Graph.LocalSolveCap)
      .local.isDefined, "the graph must fit the local arm")
    val (local, looped) = bothArms(edges)
    val diff = local.diff(looped) ++ looped.diff(local)
    assert(diff.isEmpty, s"local recurrence diverged from the loop on " +
      s"${diff.size} rows, e.g. ${diff.take(4)}")
    assert(!local.exists(_._1.contains(999L)), "dst-only node must be dropped")
    assert(local.size == dir.map(_._1).distinct.size)
  }

  test("empty edge frame: both arms return no rows") {
    val (local, looped) = bothArms(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(local.isEmpty && looped.isEmpty)
  }

  test("a null endpoint keeps the graph on the loop") {
    // the chosen behaviour: any NULL endpoint falls back to the distributed
    // loop, whose SQL join semantics are the contract (the null source is a
    // node that receives nothing; a null destination absorbs its share)
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (null, 1L), (3L, null))
      .toDF("src", "dst")
    assert(ops.Graph.materializeEdges(edges, ops.Graph.LocalSolveCap)
      .local.isEmpty, "a null endpoint must not take the local arm")
    val (local, looped) = bothArms(edges)
    assert(local == looped)
    val base = 1000000000000L / 4 // nodes 1, 2, 3 and the null source
    assert(local.contains((None, 15L * base / 100)))
  }

  test("arm boundary: cap edges take the local arm, cap + 1 the loop, same rows") {
    val cap = 8L
    val rng = new scala.util.Random(3)
    val dir = (1 to 9).map(_ => (rng.nextInt(5).toLong, rng.nextInt(5).toLong))
    for ((n, local) <- Seq(cap -> true, (cap + 1) -> false)) {
      val edges = dir.take(n.toInt).toDF("src", "dst").repartition(3)
      assert(ops.Graph.materializeEdges(edges, cap).local.isDefined == local,
        s"$n edges under cap $cap")
      val at = rows(ops.Graph.pagerankCore(edges, localSolveCap = cap))
      assert(at.nonEmpty)
      assert(at == rows(ops.Graph.pagerankCore(edges, localSolveCap = 0L)))
    }
  }

  test("a partition over its share of the cap is fetched, not dropped") {
    // every row hashes to one of four partitions: its 8 rows exceed the
    // per-partition share (9 / 4 = 2) yet the graph fits the cap of 8
    val dir = (1L to 8L).map(i => (i, i % 3))
    val edges = dir.toDF("src", "dst")
      .repartition(4, org.apache.spark.sql.functions.lit(1))
    val m = ops.Graph.materializeEdges(edges, 8L)
    assert(m.count == 8L)
    val (src, dst) = m.local.getOrElse(fail("8 edges must fit a cap of 8"))
    assert(src.zip(dst).sorted.toSeq == dir.sorted)
  }

  test("the local arm returns one partition: the caller's sort adds no exchange") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val pr = ops.Graph.pagerankCore(edges)
    assert(pr.rdd.getNumPartitions == 1)
    val sorted = pr.orderBy(org.apache.spark.sql.functions.desc("pr"))
    sorted.collect()
    val plan = sorted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}

/** The graph ids' job budget: a warm build + action of each runs at most
  * this many Spark jobs at sf0.001 (the first run fills the parquet schema
  * memo). PageRank and components hold 4 with the edge checkpoint, the arm
  * choice and the collect in one job and the driver-local results in one
  * partition; every other budget is the count its id read when pinned, so a
  * change to any graph id's checkpoint or job shape shows here. */
class GraphJobBudgetSpec extends AnyFunSuite {
  import TestSession._

  for ((id, budget) <- Seq(
      "graph_pagerank" -> 4, "graph_connected_components" -> 4,
      "graph_adamic_adar" -> 4, "graph_assortativity" -> 5,
      "graph_common_neighbors" -> 5, "graph_cooc_cap_audit" -> 4,
      "graph_degree_distribution" -> 3, "graph_jaccard_linkpred" -> 5,
      "graph_kcore" -> 3, "graph_label_propagation" -> 10,
      "graph_local_clustering" -> 5, "graph_modularity" -> 14,
      "graph_resource_allocation" -> 4, "graph_shortest_paths" -> 24,
      "graph_triangle_count" -> 8))
    test(s"$id runs at most $budget Spark jobs") {
      def run(): Unit = SparkEntry.queries(id)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      run()
      val (_, jobs) = Jobs.count(run())
      assert(jobs <= budget, s"$id ran $jobs jobs")
    }
}

/** Extension registration is a per-session, add-only-what-is-missing step. */
class RegisterSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  test("a second register replaces nothing; a newSession still resolves") {
    val reg = spark.sessionState.functionRegistry
    graft.ext.CatalystExt.register(spark)
    val names = Seq("graft_cosine", "graft_min_k_set", "graft_proto_longs")
    val before = names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    graft.ext.CatalystExt.register(spark)
    val after = names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(before.forall(_.isDefined))
    before.zip(after).foreach { case (b, a) =>
      assert(b.get eq a.get, "register replaced an existing builder")
    }
    val s2 = spark.newSession()
    graft.ext.CatalystExt.register(s2)
    val got = s2.sql(
      "SELECT graft_min_k_set(x, 2) FROM VALUES (3L), (1L), (2L) AS t(x)")
      .head().getSeq[Long](0)
    assert(got == Seq(1L, 2L))
  }

  test("udf_scalar and udaf_aggregator register their UDFs once") {
    val reg = spark.sessionState.functionRegistry
    val names = Seq("graft_haversine", "graft_geomean")
    def build() = {
      SparkEntry.queries("udf_scalar")(spark, sf)
      SparkEntry.queries("udaf_aggregator")(spark, sf)
      names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    }
    val before = build()
    val after = build()
    assert(before.forall(_.isDefined))
    before.zip(after).foreach { case (b, a) =>
      assert(b.get eq a.get, "a query builder replaced a registered UDF")
    }
  }
}

/** The driver-side overlap helper's failure path. */
class OverlapSpec extends AnyFunSuite {
  import TestSession._

  test("a failing branch rethrows its cause and cancels the sibling's job") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      ops.TextDedup.overlap(spark, threads = 2)(Seq(
        () => sc.parallelize(0 until 2, 2).mapPartitions { it =>
          // runs until killed (or 60 s): only a cancellation ends it early
          val tc = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 60000000000L
          while (!tc.isInterrupted() && System.nanoTime() < end)
            Thread.sleep(50)
          it
        }.count(),
        () => { Thread.sleep(1500); throw new IllegalStateException("boom") }))
    }
    assert(ex.getMessage == "boom")
    val deadline = System.nanoTime() + 20000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the sibling's job was left running")
    assert((System.nanoTime() - t0) / 1e9 < 40)
  }
}

/** Streaming semantics (SURVEY §2.10): watermark drop + stateful ≡ batch. */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  test("watermark drops the late straggler from its finalized window") {
    import org.apache.spark.sql.functions._
    val ev = graft.util.Canon.events(spark, sf)
    val batchByDay = ev.groupBy(date_trunc("day", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val streamed = SparkEntry.queries("stream_watermark_late")(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val firstDay = batchByDay.keys.minBy(_.getTime)
    // the straggler (earliest event) was withheld to file 2 and arrived after
    // its day-window was finalized -> exactly one row missing there
    assert(streamed(firstDay) == batchByDay(firstDay) - 1,
      s"first day: streamed ${streamed(firstDay)} vs batch ${batchByDay(firstDay)}")
    // every other emitted (finalized) window matches batch exactly
    for ((w, n) <- streamed if w != firstDay)
      assert(n == batchByDay(w), s"window $w: streamed $n vs batch ${batchByDay(w)}")
    // the tail window past the final watermark is legitimately unemitted
    assert(streamed.size >= batchByDay.size - 2)
  }

  test("checkpoint resume: run 2 reads only new files yet emits recovered totals") {
    import org.apache.spark.sql.functions._
    val (firstRows, second, read2) =
      graft.ops.Streaming.checkpointResumeCore(spark, sf)
    val ev = graft.util.Canon.tbl(spark, sf, "events")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(graft.util.Canon.cents(col("value"))).as("value_cents"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def got(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // phase 1 = batch aggregate of the even half only
    assert(got(firstRows) == agg(ev.where(col("event_id") % 2 === 0)))
    // the restart recovered state instead of re-reading: run 2's input is
    // exactly the odd half
    assert(read2 == ev.where(col("event_id") % 2 === 1).count(),
      s"run 2 read $read2 rows — recovery must not replay processed files")
    // and its complete-mode emit covers the WHOLE input
    assert(got(second.collect()) == agg(ev))
  }

  test("idempotent sink: full redelivery leaves the table byte-identical") {
    // two complete AvailableNow replays into ONE sink, each with a fresh
    // checkpoint (= every micro-batch delivered twice — the crashed-and-
    // restarted double-fire). Pass-1 and pass-2 row sets must be identical,
    // and equal to the batch latest-per-key aggregate.
    val sink = s"/tmp/graft_io/idem_spec_${System.nanoTime()}"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    try {
      val p1 = rows(graft.ops.Streaming.idempotentUpsertReplay(spark, sf, sink))
      val p2 = rows(graft.ops.Streaming.idempotentUpsertReplay(spark, sf, sink))
      assert(p1 == p2, "redelivery changed the sink")
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(desc("tsm"), desc("event_id"))
      val batch = rows(graft.util.Canon.events(spark, sf)
        .where(col("event_type") === "purchase")
        .selectExpr("user_id", "event_id", "date_trunc('millisecond', ts) AS tsm",
          "CAST(floor(value*100 + 0.5) AS BIGINT) AS cents")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("cents").as("last_cents"), unix_millis(col("tsm")).as("last_ms")))
      assert(p2 == batch, "sink diverged from the batch latest-per-key oracle")
    } finally graft.util.Canon.deleteTree(sink)
  }

  test("stateful sessionization equals batch islands") {
    val got = SparkEntry.queries("stream_stateful_session")(spark, sf)
      .collect().map(_.toSeq).toSet
    graft.util.Canon.events(spark, sf)
      .selectExpr("user_id", "date_trunc('millisecond', ts) AS tsm", "value")
      .createOrReplaceTempView("sess_ev")
    val batch = spark.sql("""
      WITH flagged AS (
        SELECT user_id, unix_millis(tsm) AS ems, value,
               CASE WHEN unix_millis(tsm) - lag(unix_millis(tsm))
                      OVER (PARTITION BY user_id ORDER BY tsm, value) < 1800000
                    THEN 0 ELSE 1 END AS nf
        FROM sess_ev),
      ids AS (
        SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY ems, value
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, min(ems) AS start_ms, max(ems) AS end_ms,
             CAST(count(*) AS INT) AS n_events,
             sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS v_cents
      FROM ids GROUP BY user_id, sid""").collect().map(_.toSeq).toSet
    assert(got == batch,
      s"stream-batch mismatch, e.g. ${got.diff(batch).take(2)} vs ${batch.diff(got).take(2)}")
  }

  test("sim_lsh_ann multi-probe: radius-2 recall dominates radius-1") {
    // pins the r13 probe-mask construction: the radius-2 mask set must be
    // a strict superset of radius-1's, so its candidate set — and with
    // the same exact re-rank, its recall — can only grow
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(radius: Int): Double = {
      val got = ops.TextDedup.simLshAnnImpl(spark, sf, Tables = 8, radius)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r2 >= r1, s"radius-2 recall $r2 below radius-1 $r1")
    assert(r2 >= 0.85, s"radius-2 recall $r2 below the audited floor")
  }

  test("ANN results are valid and overlap exact top-5") {
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // Same recall floors as sim_ann_recall_audit (sf0.001 measured values:
    // lsh 0.96 (radius-2 multi-probe, r13), ivf 0.96 (nprobe 4, r14),
    // mllib 0.92, pq 1.00 (K=256/sample=2048/Cand=200, r14), ivfpq 0.96
    // (same + nprobe 4, r14) — deterministic seeds, so fixed, not flaky).
    for ((name, floor) <- Seq("sim_lsh_ann" -> 0.85, "sim_ivf_ann" -> 0.80,
         "sim_ivf_scaled" -> 0.75, "sim_mllib_lsh" -> 0.85,
         "sim_pq_ann" -> 0.85, "sim_ivfpq_ann" -> 0.80)) {
      val ann = SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(ann.nonEmpty, s"$name returned nothing")
      val overlap = ann.intersect(exact).size.toDouble / exact.size
      assert(overlap >= floor, s"$name recall@5 $overlap below floor $floor")
    }
  }
}

/** Filtered vector search (sim_filtered_topk / sim_ann_filtered): the
  * metadata predicate must hold on EVERY result row (pre-filter purity —
  * a post-filtered top-k silently returns fewer than k under a selective
  * predicate instead), ranks stay contiguous per query, and the ANN path
  * overlaps the exact filtered oracle. */
class AnnFilteredSpec extends AnyFunSuite {
  import TestSession._

  test("sim_ann_filtered: label purity, rank contract, recall vs exact") {
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = SparkEntry.queries("sim_filtered_topk")(spark, sf).collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      assert(labels(r.getLong(2)) == labels(r.getLong(0)),
        s"exact row crosses labels: $r")
    }
    val ann = SparkEntry.queries("sim_ann_filtered")(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      assert(r.getInt(3) == labels(r.getLong(0)), s"ann row crosses labels: $r")
      assert(labels(r.getLong(2)) == r.getInt(3))
    }
    ann.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq,
        "ranks not contiguous from 1")
    }
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    val annSet = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = annSet.intersect(exactSet).size.toDouble / exactSet.size
    assert(overlap > 0.0, "filtered ANN found no exact filtered neighbor")
  }
}

/** AQE's automatic skew-join split — the automatic counterpart of the
  * explicit join_skew_salted lever (Scale.scala): on a synthetically skewed
  * sort-merge join, OptimizeSkewedJoin must carve the oversized partition
  * into advisory-sized chunks, which the executed plan reports as
  * SortMergeJoin(skew=true). Completes the skew story SURVEY §4.3 mandates:
  * salting for joins AQE can't split, AQE for the ones it can. */
class AqeSkewSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("OptimizeSkewedJoin splits a synthetically skewed join partition") {
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production thresholds (256 MB) scaled down so a ~4 MB hot partition
      // counts as skewed at test scale; the rule itself is unchanged
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // ~97% of rows land on key 0; the sha2 payload stays incompressible so
      // the hot shuffle partition's on-disk size actually exceeds the
      // threshold (a constant payload would compress to nothing and the
      // skew detector reads compressed sizes)
      val left = spark.range(150000).select(
        when(col("id") % 32 === 0, col("id") % 97).otherwise(lit(0L)).as("k"),
        sha2(col("id").cast("string"), 256).as("pay"))
      val right = spark.range(97).select(col("id").as("k"), col("id").as("r"))
      val j = left.join(right, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split SortMergeJoin in the executed plan:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

/** Cost-based optimization pinning (r14 verdict item 3): with ANALYZE'd
  * column stats + spark.sql.cbo.enabled/joinReorder.enabled, Catalyst's
  * CostBasedJoinReorder must rewrite a q9-class 5-way star join written in
  * a deliberately bad syntactic order — and the reorder must be a pure
  * cost move (identical results). Plans captured in PLANS.md r15. */
class CboSpec extends AnyFunSuite {
  import TestSession._

  /** Join order as the left-to-right sequence of cbo_* leaves in the
    * optimized plan (tree order = join order for a left-deep tree). */
  private def joinOrder(df: org.apache.spark.sql.DataFrame): Seq[String] =
    "cbo_[a-z]+".r.findAllIn(df.queryExecution.optimizedPlan.toString).toSeq
      .distinct

  /** The star query with cbo off, then on, over the ANALYZE'd catalog
    * copies: (orderOff, orderOn, rowsEqual, orderChanged). */
  private def runScenario(): (Seq[String], Seq[String], Boolean, Boolean) = {
    ops.Scale.cboStageTables(spark, sf)
    def run(on: Boolean): (Seq[String], Set[Seq[Any]]) =
      graft.util.Canon.withConfs(spark, ops.Scale.cboConfs.map(_ -> on.toString)) {
        val df = spark.sql(ops.Scale.cboStarQuery)
        (joinOrder(df), df.collect().map(_.toSeq).toSet)
      }
    val (offOrder, offRows) = run(false)
    val (onOrder, onRows) = run(true)
    (offOrder, onOrder, offRows == onRows && offRows.nonEmpty,
      offOrder != onOrder)
  }

  test("stats + CBO reorder the q9-class star join; results unchanged") {
    val (off, on, rowsEqual, orderChanged) = runScenario()
    assert(rowsEqual, "CBO reorder changed the query result")
    assert(orderChanged, s"no reorder: off=$off on=$on")
    // syntactic order starts at orders ⋈ lineitem (the biggest join);
    // with stats the filtered part dimension must join lineitem BEFORE
    // orders does — the selective-reduction-first shape
    assert(on.indexOf("cbo_part") < on.indexOf("cbo_orders"),
      s"selective dimension not pulled forward: $on")
    assert(off.indexOf("cbo_part") == off.length - 1,
      s"baseline sanity: syntactic order should leave part last: $off")
  }
}

/** Spark's automatic bloom runtime filter (InjectRuntimeFilter) — the
  * optimizer-injected counterpart of the explicit join_bloom_filter query
  * (Scale.scala): with the application-side size threshold scaled down to
  * test scale, a selective dimension filter must inject a bloom
  * might_contain onto the fact side of the join. */
class RuntimeFilterSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("InjectRuntimeFilter adds a bloom might_contain to the fact side") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // default is 10GB — the rule only fires when the probe side is big
      // enough for the scan reduction to pay; scale it to the fixture
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ord = graft.util.Canon.tbl(spark, sf, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val li = graft.util.Canon.tbl(spark, sf, "lineitem")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom filter in the optimized plan:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

/** Layout property behind sink_zorder: z-order bounds BOTH coordinates
  * within every file (that per-file min/max contraction is exactly what
  * parquet stats pruning consumes at scale), where a linear sort bounds only
  * its leading key. */
class ZOrderSpec extends AnyFunSuite {
  import TestSession.spark
  import org.apache.spark.sql.functions._

  test("z-order layout shrinks per-file spans on both dimensions") {
    val d = "/root/testdata/sf0.01" // 2000 parts — enough rows for 8 files
    val zdir = Scale.zorderDir(spark, d)
    def spans(dir: String): (Double, Double) = {
      val r = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
        .agg(avg("xs"), avg("ys")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val xdir = "/tmp/graft_io/part_xsort_spec"
    spark.read.parquet(zdir)
      .repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xdir)
    val (zx, zy) = spans(zdir)
    val (lx, ly) = spans(xdir)
    assert(zy < ly * 0.5,
      s"z-order avg y-span $zy not < half the x-sorted layout's $ly")
    assert(zx + zy < lx + ly,
      s"total span budget should shrink: z-order ${zx + zy} vs x-sort ${lx + ly}")
  }
}

/** Invariants for the round-5 additions: quality gate funnel arithmetic,
  * repetition-score bounds, cross-correlation range, MAD flag validity,
  * and Q13's conservation of customers. */
class QualityGateSpec extends AnyFunSuite {
  import TestSession._

  test("pipeline_quality_gate: joint pass never exceeds any single rule") {
    val rows = SparkEntry.queries("pipeline_quality_gate")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_docs")
      val all = r.getAs[Long]("n_pass_all")
      val single = Seq("n_pass_len", "n_pass_rep", "n_pass_lang").map(r.getAs[Long])
      assert(single.forall(s => s <= n && all <= s),
        s"funnel violated at ${r.getAs[String]("source")}: all=$all single=$single n=$n")
      val ret = r.getAs[Double]("retention")
      assert(ret >= 0.0 && ret <= 1.0)
    }
  }

  test("text_repetition_score: dup_frac bounded, distinct <= total") {
    val rows = SparkEntry.queries("text_repetition_score")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_tri_distinct") <= r.getAs[Long]("n_tri"))
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("ts_cross_correlation: one row per lag, r in [-1,1]") {
    val rows = SparkEntry.queries("ts_cross_correlation")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("lag_h")).toSeq == Seq(0L, 1L, 2L, 3L))
    for (r <- rows) {
      val c = r.getAs[Double]("r")
      assert(c >= -1.0001 && c <= 1.0001, s"lag ${r.getAs[Long]("lag_h")}: r=$c")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  test("ts_anomaly_mad: every flagged row deviates beyond 3 MAD") {
    val rows = SparkEntry.queries("ts_anomaly_mad")(spark, sf).collect()
    // r4-rounded med/mad in the output can shift the strict inequality by
    // at most 1e-4 on each side; verify with that tolerance.
    for (r <- rows) {
      val dev = math.abs(r.getAs[Double]("v") - r.getAs[Double]("med"))
      assert(dev > 3.0 * r.getAs[Double]("mad") - 4e-4,
        s"row not anomalous: $r")
    }
  }

  test("tpch_q13: distribution conserves the customer count") {
    val total = SparkEntry.queries("tpch_q13")(spark, sf).collect()
      .map(_.getAs[Long]("custdist")).sum
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(total == nCust, s"sum(custdist)=$total != customers=$nCust")
  }
}

/** Embedding k-means profile (embed_kmeans): cluster sizes must match an
  * independent recomputation from the deterministic seeded-Lloyd trainer,
  * proving assignments are inner-product-optimal against the same model
  * (the float-mean centroids make a cross-engine oracle impossible; this
  * exact-recompute is the self-verification). */
class KmeansSpec extends AnyFunSuite {
  import TestSession._
  import org.apache.spark.sql.functions._

  test("cluster profile covers the corpus with recomputable assignments") {
    val out = SparkEntry.queries("embed_kmeans")(spark, sf).collect()
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(out.map(_.getLong(1)).sum == e.count(), "sizes must cover corpus")
    assert(out.nonEmpty && out.length <= 8)
    assert(out.forall(_.getDouble(2) >= 0.0), "avg_dist must be non-negative")
    val ed = e.select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val cents = ops.TextDedup.ivfTrain(ed, K = 8, Iters = 3, Dim = 64)
    val sizes = ed.collect().groupBy { r =>
      ops.TextDedup.ivfTop2Local(
        r.getSeq[Float](1).map(_.toDouble).toArray, cents)(0).toLong
    }.view.mapValues(_.length.toLong).toMap
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == sizes, "query cluster sizes diverge from local recompute")
  }
}

/** BPE merge TRAINING (pipeline_tokenizer_fit): the distributed
  * dictionary-based trainer must learn the IDENTICAL merge table as an
  * independent driver-side Sennrich reference implementation — same
  * most-frequent-pair selection, same (count desc, lexicographic) ties,
  * same left-to-right non-overlapping merge application. */
class TokenizerFitSpec extends AnyFunSuite {
  import TestSession._

  private def applyMerge(sym: Vector[String], a: String, b: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]; var i = 0
    while (i < sym.length) {
      if (i < sym.length - 1 && sym(i) == a && sym(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.result()
  }

  private def referenceTrain(words: Map[String, Long], k: Int)
      : Seq[(Int, String, String, Long)] = {
    var dict: Map[Vector[String], Long] = words.toSeq
      .map { case (w, c) => (w.map(_.toString).toVector, c) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1; var done = false
    while (r <= k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (sym, wc) =>
        var i = 0
        while (i < sym.length - 1) {
          val key = (sym(i), sym(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + wc
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((r, a, b, c))
        dict = dict.toSeq
          .map { case (sym, wc) => (applyMerge(sym, a, b), wc) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        r += 1
      }
    }
    out.toSeq
  }

  private def run(cap: Long): Seq[(Int, String, String, Long)] =
    ops.Bpe.tokenizerFit(spark, sf, cap).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("both trainer paths equal the driver-side Sennrich reference") {
    val got = SparkEntry.queries("pipeline_tokenizer_fit")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    // cap = 0 pins the DISTRIBUTED loop; the query takes the adaptive
    // bounded-dictionary path — both must match the same reference
    assert(run(0L) == got, "distributed path diverges from adaptive path")
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.replaceAll("\\s+", " ")
        .split(" "))
      .filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = referenceTrain(words, 16)
    assert(got.size == want.size, s"learned ${got.size} of ${want.size} merges")
    assert(got == want, "distributed trainer diverges from the reference")
  }
}

/** Dynamic partition pruning (join_dpp): the executed plan must carry a
  * DynamicPruningSubquery on the partitioned scan — the guarantee that the
  * fact side reads only the dimension-selected lang directories. */
class DppSpec extends AnyFunSuite {
  import TestSession._

  test("join_dpp plans a dynamic pruning subquery on the partitioned scan") {
    val q = SparkEntry.queries("join_dpp")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "partitioned join lost dynamic partition pruning")
    assert(q.count() > 0)
  }

  test("join_dpp_date prunes the month-partitioned fact to the peak months") {
    import org.apache.spark.sql.functions._
    val q = SparkEntry.queries("join_dpp_date")(spark, sf)
    q.collect()
    val scan = PlanNodes.all(q.queryExecution.executedPlan)
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.mkString.contains("li_by_month") => f
      }.get
    assert(scan.toString().toLowerCase.contains("dynamicpruning"),
      s"no DPP expression on the fact scan:\n$scan")
    // 1 of 83 month directories at sf0.01 — the DPP subquery restricted
    // the listing itself (numPartitions metric), not just the rows
    val read = scan.metrics("numPartitions").value
    val li = graft.util.Canon.tbl(spark, sf, "lineitem")
    val total = li.select(date_format(col("l_shipdate"), "yyyy-MM"))
      .distinct().count()
    // qualifying months = the result's own row count (one row per month)
    val qual = q.count()
    assert(read == qual && read < total,
      s"DPP read $read partitions, expected $qual of $total")
  }
}

/** Inverted index (text_inverted_index): the rank-filtered posting collect
  * must plan a WindowGroupLimit (bounded map-side per-term sort) — the
  * property that keeps a stopword's posting list from materializing
  * unbounded at corpus scale. */
class InvertedIndexSpec extends AnyFunSuite {
  import TestSession._

  test("posting collection plans a WindowGroupLimit") {
    val q = SparkEntry.queries("text_inverted_index")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank filter was not pushed into WindowGroupLimit")
    val rows = q.collect()
    // postings ships as a canonical CSV string (Canon.listCol — the driver
    // comparator can't sort array columns); split to count
    assert(rows.forall(_.getString(2).split(",").length <= 20),
      "postings cap broken")
    assert(rows.forall(r => r.getString(2).split(",").length <= r.getLong(1)),
      "postings longer than df")
  }
}
