package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The graft extensions come with the session: Spark loads
  * `graft.ext.GraftExtensions` for every session it builds, so a fresh
  * `newSession()` resolves every graft_* function and plans the as-of join
  * without any set-up call, and building a query mutates no session. A
  * parquet-backed probe's filter reaches the scan's PushedFilters. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSession._

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  test("a fresh newSession resolves all 16 graft_* functions from SQL") {
    val s2 = spark.newSession()
    val t = "VALUES (3L, 3.0D), (1L, 1.0D), (2L, 2.0D), (2L, 2.5D) AS t(x, v)"
    def one(sql: String): Row = s2.sql(sql).head()
    def agg(e: String): Row = one(s"SELECT $e FROM $t")
    val checked = scala.collection.mutable.Set.empty[String]
    def check(name: String)(body: => Unit): Unit = { body; checked += name }

    check("graft_cosine") {
      assert(one("SELECT graft_cosine(array(1.0F, 0.0F), array(2.0F, 0.0F))")
        .getDouble(0) == 1.0)
    }
    check("graft_hll")(assert(agg("graft_hll(x)").getLong(0) == 3L))
    check("graft_heavy_hitters") {
      val hh = agg("graft_heavy_hitters(x, 4)").getSeq[Row](0)
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(hh == Seq((2L, 2L), (1L, 1L), (3L, 1L)))
    }
    check("graft_kll_quantile") {
      assert(agg("graft_kll_quantile(v, 0.5D, 128)").getDouble(0) == 2.0)
    }
    check("graft_bigrams") {
      val got = s2.sql("SELECT graft_bigrams(array('a', 'b', 'c')) AS (pos, bg)")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == Seq((0, "a b"), (1, "b c")))
    }
    check("graft_topk_min") {
      assert(agg("transform(graft_topk_min(v, x, 2), e -> e.id)")
        .getSeq[Long](0) == Seq(1L, 2L))
    }
    check("graft_bitmap_distinct") {
      assert(agg("graft_bitmap_distinct(x, 1024)").getLong(0) == 3L)
    }
    check("graft_cms") {
      assert(agg("aggregate(graft_cms(x), 0L, (a, c) -> a + c)").getLong(0) ==
        4L * graft.ext.CatalystExt.CmsD)
    }
    check("graft_min_k_set") {
      assert(agg("graft_min_k_set(x, 2)").getSeq[Long](0) == Seq(1L, 2L))
    }
    val pb = s"X'${hex(graft.ext.CatalystExt.protoEncodeEvent(1234567890123L, "héllo", -2.5))}'"
    check("graft_proto_long") {
      assert(one(s"SELECT graft_proto_long($pb, 1)").getLong(0) == 1234567890123L)
    }
    check("graft_proto_string") {
      assert(one(s"SELECT graft_proto_string($pb, 2)").getString(0) == "héllo")
    }
    check("graft_proto_double") {
      assert(one(s"SELECT graft_proto_double($pb, 3)").getDouble(0) == -2.5)
    }
    val ex = s"X'${hex(graft.ext.CatalystExt.protoEncodeEventEx(42L, "ab", -3.5))}'"
    check("graft_proto_longs") {
      assert(one(s"SELECT graft_proto_longs($ex, 4)").getSeq[Long](0) ==
        Seq(42L, 126L, 42L % 7, 42L % 11, 42L % 13))
    }
    check("graft_proto_nested_long") {
      assert(one(s"SELECT graft_proto_nested_long($ex, 5, 1)").getLong(0) == 42L * 7 + 3)
    }
    check("graft_proto_nested_string") {
      assert(one(s"SELECT graft_proto_nested_string($ex, 5, 2)").getString(0) == "ab~n")
    }
    check("graft_proto_nested_double") {
      assert(one(s"SELECT graft_proto_nested_double($ex, 5, 3)").getDouble(0) == -1.75)
    }
    // and the fresh session holds exactly these graft_* functions
    val installed = s2.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(checked.size == 16 && installed == checked.toSet,
      s"installed $installed vs checked $checked")
  }

  test("an as-of join on a fresh newSession mutates no session state") {
    import org.apache.spark.sql.execution.{FilterExec, FormattedMode}
    import graft.plans.AsOfJoinExec
    val s2 = spark.newSession()
    val ranged = s2.range(0, 100).select((col("id") % 3).as("k"),
      col("id").as("t"), (col("id") * 1.0).as("pv"))
    val ref = s2.range(0, 50).select((col("id") % 3).as("rk"),
      (col("id") * 2).as("rt"), (col("id") * 10.0).as("rv"))
    // the same probe rows twice: computed, and read back from parquet, where
    // the filter the rule moves below the join must reach the scan
    val dir = java.nio.file.Files.createTempDirectory("asof_probe").toString
    try {
      ranged.write.mode("overwrite").parquet(dir)
      for (probe <- Seq(ranged, s2.read.parquet(dir))) {
        val df = graft.plans.AsOfJoin.join(s2, probe, ref, "k", "t", "rk", "rt")
          .where(col("pv") >= 50.0)
        // every probe row survives an as-of (left) join, so the filter alone
        // decides the count
        assert(df.count() == 50L)
        assert(s2.experimental.extraStrategies.isEmpty)
        assert(s2.experimental.extraOptimizations.isEmpty)
        df.collect()
        val nodes = PlanNodes.all(df.queryExecution.executedPlan)
        val joins = nodes.collect { case j: AsOfJoinExec => j }
        assert(joins.size == 1, s"no AsOfJoinExec in:\n${df.queryExecution.executedPlan}")
        val below = PlanNodes.all(joins.head.left).count(_.isInstanceOf[FilterExec])
        assert(below >= 1 && below == nodes.count(_.isInstanceOf[FilterExec]),
          s"the probe-side filter is not below the join:\n${df.queryExecution.executedPlan}")
        if (probe ne ranged) {
          val formatted = df.queryExecution.explainString(FormattedMode)
          val pushed = "(?s)PushedFilters: \\[[^\\]]*pv[^\\]]*\\]".r
          assert(pushed.findFirstIn(formatted).isDefined,
            s"the probe filter must reach the parquet scan's PushedFilters; plan:\n$formatted")
        }
      }
    } finally graft.util.Canon.deleteTree(dir)
  }
}
