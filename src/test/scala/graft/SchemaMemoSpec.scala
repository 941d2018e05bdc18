package graft

import graft.util.Canon
import org.scalatest.funsuite.AnyFunSuite

/** `Canon.tbl` infers a parquet table's schema once per (path, content,
  * inference confs), concurrent first opens included, and reads with that
  * schema after. */
class SchemaMemoSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def tmpPath(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-schema-memo")
    d.toFile.deleteOnExit()
    s"$d/t.parquet"
  }

  test("a second tbl of the same table launches no Spark job") {
    for (t <- Seq("orders", "events")) {
      Canon.tbl(spark, sf, t).schema
      val (schema, jobs) = Jobs.count(Canon.tbl(spark, sf, t).schema)
      assert(jobs == 0, s"$t: the second open ran $jobs jobs")
      assert(schema == Canon.tbl(spark, sf, t).schema)
    }
  }

  test("a file rewritten at the same path is read with its new schema") {
    val path = tmpPath()
    Seq(1, 2).toDF("a").write.parquet(path)
    assert(Canon.readParquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
    assert(Canon.readParquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = Canon.readParquet(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, "x")))
  }

  test("flipping an inference conf re-infers; one entry per path") {
    val path = tmpPath()
    Seq(1, 2).toDF("a").write.parquet(path)
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(conf)
    def read(v: String): Int = {
      spark.conf.set(conf, v)
      Jobs.count(Canon.readParquet(spark, path).schema)._2
    }
    try {
      read("false")
      assert(read("false") == 0)
      assert(read("true") > 0, "a new conf value must re-infer")
      assert(read("true") == 0)
      // the entry under "false" was replaced, not kept beside the new one
      assert(read("false") > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("concurrent first opens of one path infer its schema once") {
    val path = tmpPath()
    Seq(1, 2).toDF("a").write.parquet(path)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val (got, jobs) = Jobs.count {
        val opens = (1 to 4).map(_ => pool.submit(
          new java.util.concurrent.Callable[org.apache.spark.sql.types.StructType] {
            def call() = { go.await(); Canon.readParquet(spark, path).schema }
          }))
        go.countDown()
        opens.map(_.get())
      }
      assert(jobs == 1, s"4 concurrent first opens ran $jobs inference jobs")
      assert(got.distinct.size == 1 && got.head.fieldNames.toSeq == Seq("a"))
    } finally pool.shutdownNow()
  }

  test("paths the content stamp cannot see are never memoized") {
    val path = tmpPath()
    Seq(1).toDF("a").write.parquet(path)
    assert(Canon.schemaKey(spark, path).isDefined)
    assert(Canon.schemaKey(spark, s"file:$path").isDefined)
    assert(Canon.schemaKey(spark, "s3a://bucket/t.parquet").isEmpty)
    assert(Canon.schemaKey(spark, "hdfs://namenode:8020/t.parquet").isEmpty)
    assert(Canon.schemaKey(spark, s"$path.missing").isEmpty)
  }
}
