package graft

import graft.ops.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every streaming id runs through Streaming's one bounded-stream runner:
  * when a call returns or throws, it has left no `graft_*` temp view, no
  * checkpoint dir, no active query and no per-call sink dir under
  * `/tmp/graft_io`, and the frame it returned still collects its rows. */
class StreamReclaimSpec extends AnyFunSuite {
  import TestSession._

  // per-call sink dirs of this dataset (`<prefix><dataset hash>_<n>`); a
  // JVM running on another dataset at the same time cannot show up here
  private val sinks =
    Seq("foreach_out_", "idem_sink_", "stream_nd_out_", "stream_resume_", "reclaim_out_")
      .map(_ + sf.hashCode.toHexString + "_")
  private def list(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)

  /** The temp views, checkpoint dirs and sink dirs that exist now. */
  private def leftovers(): Seq[Set[String]] = Seq(
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_")).toSet,
    list(Streaming.ckptRoot),
    list("/tmp/graft_io").filter(n => sinks.exists(n.startsWith)))

  private def assertReclaimed(what: String, before: Seq[Set[String]]): Unit = {
    for ((kind, (now, was)) <- Seq("temp views", "checkpoints", "sink dirs")
        .zip(leftovers().zip(before)))
      assert((now -- was).isEmpty, s"$what left $kind ${now -- was}")
    assert(spark.streams.active.isEmpty,
      s"$what left active queries ${spark.streams.active.map(_.name).toSeq}")
  }

  for (id <- Streaming.queries.keys.toSeq.sorted)
    test(s"$id leaves no sink dir behind; its result outlives the dir") {
      val before = leftovers()
      val first = SparkEntry.queries(id)(spark, sf)
      assertReclaimed(id, before)
      val second = SparkEntry.queries(id)(spark, sf).collect().map(_.toSeq).toSeq
      assert(second.nonEmpty)
      assert(first.collect().map(_.toSeq).toSeq == second)
      assertReclaimed(id, before)
    }

  test("every per-call sink dir carries this JVM's pid") {
    val root = java.nio.file.Paths.get("/tmp/graft_io")
    java.nio.file.Files.createDirectories(root)
    val watch = root.getFileSystem.newWatchService()
    try {
      root.register(watch, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
      for (id <- Seq("stream_checkpoint_resume", "stream_foreach_batch",
          "stream_idempotent_sink", "stream_neardup"))
        SparkEntry.queries(id)(spark, sf).collect()
      val created = Iterator.continually(watch.poll()).takeWhile(_ != null)
        .flatMap { k => val es = k.pollEvents(); k.reset(); es.toArray.toSeq }
        .map(_.asInstanceOf[java.nio.file.WatchEvent[java.nio.file.Path]].context.toString)
        .filter(n => sinks.exists(n.startsWith)).toSeq
      // one sink per call: foreach, stream_nd, idem_sink and stream_resume
      assert(sinks.count(p => created.exists(_.startsWith(p))) == 4, created)
      val pid = ProcessHandle.current().pid()
      for (n <- created)
        assert(sinks.exists(p => n.startsWith(s"${p}p${pid}_")),
          s"$n is not keyed by pid $pid")
    } finally watch.close()
  }

  /** A three-row file stream over a temp dir, deleted afterwards. */
  private def withTinyStream(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-reclaim").toString
    try {
      spark.range(3).toDF("x").write.mode("overwrite").parquet(s"$dir/in")
      body(spark.readStream.schema("x BIGINT").parquet(s"$dir/in"))
    } finally graft.util.Canon.deleteTree(dir)
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("a throwing foreachBatch passes its exception up and leaves nothing behind") {
    withTinyStream { src =>
      val before = leftovers()
      val e = intercept[Exception] {
        Streaming.parquetSinkRun(spark, sf, "reclaim", src)(
          _ => throw new IllegalStateException("batch boom"))(identity)
      }
      assert(messages(e).exists(m => m != null && m.contains("batch boom")), e)
      assertReclaimed("a throwing foreachBatch", before)
    }
  }

  test("a memory-sink stream whose UDF throws leaves no view, checkpoint or query") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("udf boom")
      x
    }
    withTinyStream { src =>
      val before = leftovers()
      val e = intercept[Exception] {
        Streaming.runToTable(spark, src.select(boom(col("x")).as("y")), "append")
      }
      assert(messages(e).exists(m => m != null && m.contains("udf boom")), e)
      assertReclaimed("a throwing memory-sink stream", before)
    }
  }
}
