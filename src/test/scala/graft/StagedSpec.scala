package graft

import graft.util.Canon
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent._
import scala.concurrent.duration._

/** `Canon.staged`: one write per (tag, dataset, source stamp) per JVM,
  * concurrent callers wait for it, a failed write is retried, and the dir
  * starts empty. Each test stages from its own copy of a source table, so
  * its names are fresh in this JVM. */
class StagedSpec extends AnyFunSuite {
  import TestSession._
  implicit val ec: ExecutionContext = ExecutionContext.global

  /** A fresh dataset dir holding a copy of `sf`'s documents table. */
  private def docsCopy(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_staged").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }
  private def copyDocs(from: String)(dir: String): Unit =
    spark.read.parquet(s"$from/documents.parquet")
      .write.mode("overwrite").parquet(dir)
  private def nDocs(d: String): Long =
    spark.read.parquet(s"$d/documents.parquet").count()

  test("concurrent same-name callers run the write once and both read " +
      "the complete dir") {
    val tmp = docsCopy()
    val writes = new AtomicInteger
    val started = new CountDownLatch(1)
    val done = new AtomicBoolean(false)
    def stage(): String = Canon.staged(tmp, "documents", "spec_race") { dir =>
      writes.incrementAndGet()
      started.countDown()
      Thread.sleep(500) // hold the write open while the second caller arrives
      copyDocs(tmp)(dir)
      done.set(true)
    }
    val first = Future(stage())
    started.await()
    val second = Future {
      val dir = stage()
      (dir, done.get(), spark.read.parquet(dir).count())
    }
    val d1 = Await.result(first, 5.minutes)
    val (d2, sawDone, n2) = Await.result(second, 5.minutes)
    assert(writes.get == 1, "one write for one name")
    assert(d1 == d2)
    assert(sawDone, "the second caller returned before the write completed")
    assert(n2 == nDocs(tmp))
    assert(spark.read.parquet(d1).count() == nDocs(tmp))
  }

  test("a write that throws runs again on the next call") {
    val tmp = docsCopy()
    val writes = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Canon.staged(tmp, "documents", "spec_retry") { _ =>
        writes.incrementAndGet()
        throw new IllegalStateException("write failed")
      }
    }
    assert(e.getMessage == "write failed")
    val dir = Canon.staged(tmp, "documents", "spec_retry") { dir =>
      writes.incrementAndGet()
      copyDocs(tmp)(dir)
    }
    assert(writes.get == 2, "the failed write must not stay registered")
    assert(spark.read.parquet(dir).count() == nDocs(tmp))
    Canon.staged(tmp, "documents", "spec_retry")(_ => writes.incrementAndGet())
    assert(writes.get == 2, "a successful write is not repeated")
  }

  test("rewriting the source table gives a new dir name") {
    val tmp = docsCopy()
    val d1 = Canon.staged(tmp, "documents", "spec_stamp")(copyDocs(tmp))
    val half = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    half.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val d2 = Canon.staged(tmp, "documents", "spec_stamp")(copyDocs(tmp))
    assert(d1 != d2)
    assert(spark.read.parquet(d2).count() == half.count())
    assert(spark.read.parquet(d1).count() > half.count())
  }

  test("a stray file in the target dir is gone after the first call") {
    val tmp = docsCopy()
    val expected = s"/tmp/graft_io/spec_stray_${tmp.hashCode.toHexString}_" +
      Canon.srcStamp(tmp, "documents")
    val stray = new java.io.File(s"$expected/sub/stray.txt")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath, "left over".getBytes)
    val dir = Canon.staged(tmp, "documents", "spec_stray") { dir =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "ok.txt"), "fresh".getBytes)
    }
    assert(dir == expected)
    assert(!stray.exists && !stray.getParentFile.exists)
    assert(new java.io.File(dir).list().toSeq == Seq("ok.txt"))
  }

  test("stream_dedup and stream_watermark_late re-stage a regenerated " +
      "events table at the same path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_staged_ev")
      .toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/events.parquet"))
    val q = SparkEntry.queries
    def lateTotal(): Long = q("stream_watermark_late")(spark, tmp)
      .collect().map(_.getLong(1)).sum
    def batchDedup(): Set[String] = Canon.tbl(spark, tmp, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(Canon.cents(col("value"))) / 100.0).as("v_sum"))
      .collect().map(_.toString).toSet
    def dedup(): Set[String] =
      q("stream_dedup")(spark, tmp).collect().map(_.toString).toSet
    assert(dedup() == batchDedup())
    val late1 = lateTotal()
    // regenerate events at the same path with half the rows
    val regen = java.nio.file.Files.createTempDirectory("graft_staged_rg")
      .toString
    Canon.tbl(spark, tmp, "events").where(col("event_id") % 2 === 0)
      .write.parquet(s"$regen/events.parquet")
    Canon.deleteTree(s"$tmp/events.parquet")
    assert(new java.io.File(s"$regen/events.parquet")
      .renameTo(new java.io.File(s"$tmp/events.parquet")))
    val nHalf = Canon.tbl(spark, tmp, "events").count()
    assert(late1 > nHalf, "fixture: the old answer must not fit the new table")
    assert(dedup() == batchDedup(), "stream_dedup read the stale layout")
    assert(lateTotal() <= nHalf,
      "stream_watermark_late read the stale layout")
  }
}
