package graft

import graft.util.Canon.withConfs
import org.scalatest.funsuite.AnyFunSuite

/** `Canon.withConfs` puts every key back exactly as it found it, and the
  * engine's scoped confs go through it: a query that pins a conf for its
  * own run leaves the session's confs unchanged. */
class ConfScopeSpec extends AnyFunSuite {
  import TestSession._

  private val setKey = "spark.sql.cbo.enabled"
  private val unsetKey = "spark.sql.cbo.joinReorder.enabled"

  /** Runs `body` with `setKey` = "false" and `unsetKey` unset, then clears
    * both, so each test starts and ends from the same state. */
  private def fromKnownState(body: => Unit): Unit = {
    spark.conf.set(setKey, "false"); spark.conf.unset(unsetKey)
    try body finally { spark.conf.unset(setKey); spark.conf.unset(unsetKey) }
  }

  test("withConfs restores a set value and unsets a key that was unset") {
    fromKnownState {
      val seen = withConfs(spark, Seq(setKey -> "true", unsetKey -> "true")) {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen == (("true", "true")))
      assert(spark.conf.getOption(setKey).contains("false"))
      assert(!spark.conf.getAll.contains(unsetKey))
    }
  }

  test("withConfs restores both when the body throws") {
    fromKnownState {
      val e = intercept[IllegalStateException] {
        withConfs(spark, Seq(setKey -> "true", unsetKey -> "true")) {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.getOption(setKey).contains("false"))
      assert(!spark.conf.getAll.contains(unsetKey))
    }
  }

  /** The value each of `keys` had in the session confs the jobs of `body`
    * ran under (SQL confs travel to jobs as local properties); keys a job
    * did not carry are left out. */
  private def jobConfs(keys: Seq[String])(body: => Unit): Set[(String, String)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (k <- keys; p <- Option(e.properties); v <- Option(p.getProperty(k)))
          seen.add(k -> v)
    }
    org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(spark, 30000)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(spark, 30000)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.toArray(Array.empty[(String, String)]).toSet
  }

  test("a filtered pin leaves a caller-set value alone") {
    // the changelog flag has no registered default, so the stream-conf pin
    // sees it unset unless a caller set it
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    def run(): Set[(String, String)] = jobConfs(Seq(changelog)) {
      SparkEntry.queries("source_stream_replay")(spark, sf).collect()
    }
    val prior = spark.conf.getAll.get(changelog)
    try {
      // nothing set by the caller: the stream runs under the engine's pin,
      // and it is gone afterwards
      spark.conf.unset(changelog)
      assert(run() == Set(changelog -> "true"))
      assert(!spark.conf.getAll.contains(changelog))
      // a caller-set value: the stream runs under it, and it stays
      spark.conf.set(changelog, "false")
      assert(run() == Set(changelog -> "false"))
      assert(spark.conf.get(changelog) == "false")
    } finally prior.fold(spark.conf.unset(changelog))(spark.conf.set(changelog, _))
  }

  for (id <- Seq("stream_transform_with_state", "stream_stream_join",
      "stream_stream_outer_join", "stream_checkpoint_resume",
      "sub_recursive_cte", "join_cbo_star"))
    test(s"$id leaves the session confs as it found them") {
      // Canon.events sets nanosAsLong session-wide on purpose: read once
      // so the snapshot already holds it
      graft.util.Canon.events(spark, sf)
      val before = spark.conf.getAll
      SparkEntry.queries(id)(spark, sf).collect()
      assert(spark.conf.getAll == before,
        s"$id changed the session confs: " +
          s"${(spark.conf.getAll.toSet diff before.toSet) ++ (before.toSet diff spark.conf.getAll.toSet)}")
    }
}
