package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.avro.{AvroDataSource, AvroUtil}

/** Behavior the oracle hash-match can't pin for the DSv2 Avro source
  * (graft.sources.avro): exotic-type round-trips, split planning, reader-
  * schema pruning reaching the PLAN, and evolution resolution semantics. */
class AvroSourceSpec extends AnyFunSuite {
  import TestSession._

  private val dir = "/tmp/graft_io/avro_spec"

  test("exotic types round-trip: struct/array/map/binary/date/timestamp/null") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("rec", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType))))))
    val rows = Seq(
      Row(1L, "héllo \"q\"", Array[Byte](1, 2, 3),
        java.sql.Date.valueOf("2024-06-01"),
        java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456"),
        Seq(1L, 2L, 3L), Map("x" -> 1.5, "y" -> -2.25), Row(7, "n")),
      Row(2L, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroUtil.write(df, s"$dir/exotic")
    val back = spark.read.format("graft-avro").load(s"$dir/exotic")
      .orderBy("id").collect()
    assert(back.length == 2)
    val r = back(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "héllo \"q\"")
    assert(r.getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3))
    assert(r.getDate(3) == java.sql.Date.valueOf("2024-06-01"))
    assert(r.getTimestamp(4) ==
      java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456"))
    assert(r.getSeq[Long](5) == Seq(1L, 2L, 3L))
    assert(r.getMap[String, Double](6) == Map("x" -> 1.5, "y" -> -2.25))
    assert(r.getStruct(7) == Row(7, "n"))
    assert((1 to 7).forall(back(1).isNullAt), "null row must stay null")
  }

  test("schema inference off the file header matches the written frame") {
    val df = graft.util.Canon.tbl(spark, sf, "supplier")
    AvroUtil.write(df.repartition(3), s"$dir/sup")
    val got = spark.read.format("graft-avro").load(s"$dir/sup").schema
    assert(got.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)),
      s"inferred $got vs source ${df.schema}")
  }

  test("split planning: small split.bytes fans one file into many partitions, no row lost") {
    val src = graft.util.Canon.tbl(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    AvroUtil.write(src.coalesce(1), s"$dir/split")
    val whole = spark.read.format("graft-avro").load(s"$dir/split")
    val sliced = spark.read.format("graft-avro")
      .option(AvroDataSource.SplitBytesKey, 16384L).load(s"$dir/split")
    assert(sliced.rdd.getNumPartitions > 1,
      s"expected multiple byte-range splits, got ${sliced.rdd.getNumPartitions}")
    assert(sliced.rdd.getNumPartitions > whole.rdd.getNumPartitions)
    // every block claimed exactly once: multiset of keys identical
    val a = sliced.groupBy("l_orderkey", "l_linenumber").count()
    val b = whole.groupBy("l_orderkey", "l_linenumber").count()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "split read dropped or duplicated a block")
    assert(whole.count() == src.count())
  }

  test("column pruning reaches the plan: pruned ReadSchema, bulk column skipped") {
    val df = SparkEntry.queries("scan_avro_evolution")(spark, sf)
    // the projection kept doc_id/language/quality, so the scan node's
    // ReadSchema must carry exactly those — n_chars pruned at the READER
    // SCHEMA level (Avro skips its bytes, the native analogue of parquet
    // column pruning). String-level because AQE wraps the plan before
    // BatchScanExec is reachable by collect.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(
      "ReadSchema: struct<doc_id:bigint,language:string,quality:int>"),
      s"pruned read schema missing from plan:\n$plan")
    assert(!plan.contains("n_chars"),
      s"unprojected field must be pruned from the scan:\n$plan")
  }

  test("v2 write: overwrite-twice leaves only the second commit, no stage dir") {
    val df = graft.util.Canon.tbl(spark, sf, "nation")
    df.repartition(4).write.format("graft-avro").mode("overwrite").save(s"$dir/w")
    df.repartition(2).write.format("graft-avro").mode("overwrite").save(s"$dir/w")
    val root = new java.io.File(s"$dir/w")
    val avros = root.listFiles().filter(_.getName.endsWith(".avro"))
    assert(avros.length == 2,
      s"second overwrite must retire the first commit's 4 files: ${avros.toSeq}")
    assert(!root.listFiles().exists(_.getName.startsWith("_stage")),
      "commit must clean the (job-unique) stage directory")
    val back = spark.read.format("graft-avro").load(s"$dir/w")
      .orderBy("n_nationkey").collect()
    assert(back.sameElements(df.orderBy("n_nationkey").collect()))
  }

  test("v2 write: exotic types through the internal-row converter path") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("rec", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456"),
        Seq(3L, 1L), Map("k" -> 0.5), Row(9, "x"), Array[Byte](9, 8)),
      Row(2L, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    df.write.format("graft-avro").mode("overwrite").save(s"$dir/wx")
    val back = spark.read.format("graft-avro").load(s"$dir/wx")
    // JSON canonicalization makes binary/map/struct comparable by value
    assert(back.toJSON.collect().sorted.toSeq ==
      df.toJSON.collect().sorted.toSeq)
  }

  test("multi-path load: Spark's JSON-encoded paths option resolves both dirs") {
    val df = graft.util.Canon.tbl(spark, sf, "nation")
    AvroUtil.write(df.where(col("n_nationkey") < 12).coalesce(1), s"$dir/mp_a")
    AvroUtil.write(df.where(col("n_nationkey") >= 12).coalesce(1), s"$dir/mp_b")
    // load(dir1, dir2) reaches the provider as paths=["dir1","dir2"]
    // (JSON array, not comma-joined — review r16)
    val back = spark.read.format("graft-avro")
      .load(s"$dir/mp_a", s"$dir/mp_b")
      .orderBy("n_nationkey").collect()
    assert(back.sameElements(df.orderBy("n_nationkey").collect()),
      s"multi-path union mismatch (${back.length} rows)")
  }

  test("codecs: null/deflate/snappy/zstd round-trip; split reader unaffected") {
    val df = graft.util.Canon.tbl(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    val want = df.orderBy("l_orderkey", "l_linenumber").collect()
    for (c <- Seq("null", "deflate", "snappy", "zstd")) {
      AvroUtil.write(df.coalesce(1), s"$dir/c_$c", c)
      val f = new java.io.File(s"$dir/c_$c").listFiles()
        .filter(_.getName.endsWith(".avro")).head
      val hdr = new org.apache.avro.file.DataFileReader(f,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      val meta = Option(hdr.getMetaString("avro.codec")).getOrElse("null")
      hdr.close()
      val expectMeta = if (c == "zstd") "zstandard" else c
      assert(meta == expectMeta, s"container header codec: $meta vs $c")
      // compressed blocks sit between the same sync markers — the
      // byte-range split reader must fan out and still lose nothing
      val back = spark.read.format("graft-avro")
        .option(AvroDataSource.SplitBytesKey, 16384L)
        .load(s"$dir/c_$c")
      assert(c == "null" || back.rdd.getNumPartitions > 1,
        s"$c file should split (${back.rdd.getNumPartitions} parts)")
      assert(back.orderBy("l_orderkey", "l_linenumber").collect()
        .sameElements(want), s"codec $c round-trip mismatch")
    }
  }

  test("micro-batch stream: compact offsets, seen log, new batch reads only new files") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d2 = s"$dir/stream"
    val ckpt = s"$dir/stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val df = graft.util.Canon.tbl(spark, sf, "nation")
    AvroUtil.write(df.repartition(2), d2)
    val schema = spark.read.format("graft-avro").load(d2).schema
    def mkStream() = new graft.sources.avro.AvroMicroBatchStream(
      Seq(d2), None, schema, Nil, Array.empty, 1L << 20,
      None, ckpt)
    val stream = mkStream()
    val start = stream.initialOffset()
    val mid = stream.latestOffset(start, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(start, mid).length == 2,
      "first batch must cover both staged files")
    // the offset is a BOUNDED batch id, not the cumulative file list
    assert(mid.json().length < 32, s"offset must be O(1): ${mid.json()}")
    // a third file lands; the next batch must read ONLY it
    val extra = df.where(org.apache.spark.sql.functions.col("n_nationkey") < 3)
    AvroUtil.write(extra.coalesce(1), s"$dir/stream_extra")
    val src = new java.io.File(s"$dir/stream_extra").listFiles()
      .filter(_.getName.endsWith(".avro")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(d2, "part-late.avro").toPath)
    val end = stream.latestOffset(mid, ReadLimit.allAvailable())
    val fresh = stream.planInputPartitions(mid, end)
    assert(fresh.length == 1 &&
      fresh.head.asInstanceOf[graft.sources.avro.AvroInputPartition]
        .path.endsWith("part-late.avro"),
      s"incremental batch must be exactly the late file: ${fresh.toSeq}")
    // offset log round-trip: deserialize(json) is the identity
    assert(stream.deserializeOffset(mid.json()) == mid)
    assert(stream.deserializeOffset(start.json()) == start)
    // RESTART: a new stream over the same checkpoint folds the seen log
    // back — no re-ingest, and the uncommitted tail replans identically
    val resumed = mkStream()
    assert(resumed.reportLatestOffset() == end, "resume must see both batches")
    val replay = resumed.planInputPartitions(mid, end)
    assert(replay.length == 1 && replay.head
      .asInstanceOf[graft.sources.avro.AvroInputPartition]
      .path.endsWith("part-late.avro"),
      "restart must replan the uncommitted batch from the durable log")
    assert(resumed.latestOffset(end, ReadLimit.allAvailable()) == end,
      "no new files → offset must not advance after restart")
  }

  test("admission control: maxFilesPerTrigger bounds every micro-batch") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d3 = s"$dir/admission"
    val ckpt = s"$dir/admission_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val df = graft.util.Canon.tbl(spark, sf, "nation")
    AvroUtil.write(df.repartition(4), d3) // 4-file backlog before the query
    val schema = spark.read.format("graft-avro").load(d3).schema
    val stream = new graft.sources.avro.AvroMicroBatchStream(
      Seq(d3), None, schema, Nil, Array.empty, 1L << 20,
      Some(1), ckpt)
    assert(stream.getDefaultReadLimit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.ReadMaxFiles])
    stream.prepareForTriggerAvailableNow()
    var cur = stream.initialOffset()
    var batches = 0
    var filesTotal = 0
    while ({
      val next = stream.latestOffset(cur, stream.getDefaultReadLimit)
      val advanced = next != cur
      if (advanced) {
        val parts = stream.planInputPartitions(cur, next)
        val files = parts.map(_.asInstanceOf[
          graft.sources.avro.AvroInputPartition].path).distinct
        assert(files.length == 1,
          s"each micro-batch must admit exactly 1 file, got $files")
        filesTotal += files.length
        batches += 1
        cur = next
      }
      advanced
    }) ()
    assert(batches == 4 && filesTotal == 4,
      s"4-file backlog under maxFilesPerTrigger=1 must drain in 4 batches, got $batches")
  }

  test("partitioned write+read: Hive k=v tree round-trips incl. null and escaped values") {
    val d = s"$dir/part_rt"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("grp", StringType), StructField("bucket", LongType)))
    val rows = Seq(
      Row(1L, 1.5, "click", 0L), Row(2L, 2.5, "click", 1L),
      Row(3L, 3.5, "a b=c/d%e", 0L), // escaping: space, =, /, %
      Row(4L, 4.5, null, 1L),        // null partition value
      Row(5L, 5.5, "view", null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    df.write.format("graft-avro").mode("overwrite")
      .option(AvroDataSource.PartitionByKey, "grp,bucket").save(d)
    // layout: two-level k=v dirs, record carries only the data columns
    val root = new java.io.File(d)
    val grpDirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(grpDirs.exists(_.startsWith("grp=click")) &&
      grpDirs.contains(s"grp=${AvroDataSource.NullPartition}"),
      s"expected Hive-style grp= dirs, got ${grpDirs.toSeq}")
    val back = spark.read.format("graft-avro").load(d)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("bucket", "grp", "id", "v"),
      s"partition cols must rejoin the schema: ${back.schema.fieldNames.toSeq}")
    // partition cols come back as STRINGS off the path (Hive convention)
    val got = back.selectExpr("id", "v", "grp", "CAST(bucket AS BIGINT) AS bucket")
      .orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (g, w) => g == w },
      s"round-trip mismatch:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("listing-level pruning: the pruned partition's files are never planned") {
    import org.apache.spark.sql.connector.read.SupportsPushDownFilters
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val d = s"$dir/part_prune"
    val df = graft.util.Canon.tbl(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type").as("et_part"))
    df.write.format("graft-avro").mode("overwrite")
      .option(AvroDataSource.PartitionByKey, "et_part").save(d)
    val provider = new AvroDataSource()
    val props = new java.util.HashMap[String, String](); props.put("path", d)
    val opts = new CaseInsensitiveStringMap(props)
    val schema = provider.inferSchema(opts)
    val table = provider.getTable(schema, Array.empty, props)
    val sb = table.asInstanceOf[SupportsRead].newScanBuilder(opts)
    val residual = sb.asInstanceOf[SupportsPushDownFilters].pushFilters(
      Array(org.apache.spark.sql.sources.EqualTo("et_part", "click")))
    // everything residual (Spark re-applies — pushdown can't lose rows) ...
    assert(residual.length == 1)
    // ... and the partition filter is REPORTED pushed
    assert(sb.asInstanceOf[SupportsPushDownFilters].pushedFilters()
      .contains(org.apache.spark.sql.sources.EqualTo("et_part", "click")))
    val parts = sb.build().toBatch.planInputPartitions()
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val ap = p.asInstanceOf[graft.sources.avro.AvroInputPartition]
      assert(ap.path.contains("et_part=click"),
        s"pruned partition leaked into the plan: ${ap.path}")
      assert(ap.partValues.toSeq == Seq("click"))
    }
    // value-level: filtered read matches the parquet-side recompute
    val got = spark.read.format("graft-avro").load(d)
      .where(col("et_part") === "click").orderBy("event_id").collect()
    val want = df.where(col("event_type") === "click")
      .withColumnRenamed("event_type", "et_part")
      .orderBy("event_id").collect()
    assert(got.length == want.length,
      s"pruned read row count ${got.length} vs ${want.length}")
  }

  test("streaming admission end-to-end: backlog drains in maxFilesPerTrigger batches, offsets stay O(1)") {
    import org.apache.spark.sql.streaming.Trigger
    val d = s"$dir/adm_e2e"
    val ckpt = s"$dir/adm_e2e_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val src = graft.util.Canon.tbl(spark, sf, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    AvroUtil.write(src.repartition(4), d) // 4-file backlog BEFORE the query
    val schema = spark.read.format("graft-avro").load(d).schema
    val q = spark.readStream.format("graft-avro").schema(schema)
      .option(AvroDataSource.MaxFilesKey, "1").load(d)
      .writeStream.format("memory").queryName("avro_adm_e2e")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    assert(prog.length == 4,
      s"4-file backlog at maxFilesPerTrigger=1 must take 4 batches, got ${prog.length}")
    val maxRows = prog.map(_.numInputRows).max
    assert(maxRows < src.count(),
      s"per-batch rows must be bounded below the full backlog ($maxRows)")
    // the engine's offset log entries are O(1) — a batch id, not a file list
    val offFiles = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
    // each entry = OffsetSeqMetadata (constant conf block, ~780 B) + the
    // batch id; the r16 design grew with the cumulative file list
    assert(offFiles.nonEmpty && offFiles.forall(_.length < 1200),
      s"offset entries must stay bounded: ${offFiles.map(f => f.getName -> f.length).toSeq}")
    assert(offFiles.map(_.length).distinct.length == 1,
      "offset entry size must be CONSTANT across batches, not grow with seen files")
    // drained result == the batch read (the single-batch replay equivalence)
    val got = spark.table("avro_adm_e2e").orderBy("n_nationkey").collect()
    val want = src.orderBy("n_nationkey").collect()
    assert(got.sameElements(want), "drained stream must equal the batch read")
  }

  test("maxBytes admission + seen-log compaction + restart after compaction") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val d = s"$dir/compact"
    val ckpt = s"$dir/compact_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val df = graft.util.Canon.tbl(spark, sf, "nation")
    AvroUtil.write(df.repartition(5), d) // 5-file backlog
    val schema = spark.read.format("graft-avro").load(d).schema
    val prior = System.getProperty("graft.avro.compactInterval")
    System.setProperty("graft.avro.compactInterval", "2")
    try {
      def mkStream() = new graft.sources.avro.AvroMicroBatchStream(
        Seq(d), None, schema, Nil, Array.empty, 1L << 20,
        None, ckpt)
      val stream = mkStream()
      var cur = stream.initialOffset()
      var batches = 0
      // maxBytes(1): every file exceeds 1 byte, so exactly ONE file per
      // batch (the at-least-one progress guarantee)
      while ({
        val next = stream.latestOffset(cur, ReadLimit.maxBytes(1L))
        val advanced = next != cur
        if (advanced) {
          assert(stream.planInputPartitions(cur, next)
            .map(_.asInstanceOf[graft.sources.avro.AvroInputPartition].path)
            .distinct.length == 1, "maxBytes(1) must admit exactly one file")
          stream.commit(next)
          batches += 1
          cur = next
        }
        advanced
      }) ()
      assert(batches == 5, s"5 files under maxBytes(1) = 5 batches, got $batches")
      // interval=2 → the log folded into one compact snapshot + <2 entries
      val logFiles = new java.io.File(s"$ckpt/graft-avro-seen").listFiles()
        .filter(_.isFile).map(_.getName).filterNot(_.startsWith("."))
      assert(logFiles.count(_.startsWith("compact-")) == 1,
        s"exactly one compact snapshot must survive: ${logFiles.toSeq}")
      assert(logFiles.count(_.forall(_.isDigit)) < 2,
        s"individual entries must fold into the snapshot: ${logFiles.toSeq}")
      // restart AFTER compaction: no re-ingest, new file still detected
      val resumed = mkStream()
      assert(resumed.reportLatestOffset() == cur)
      assert(resumed.latestOffset(cur, ReadLimit.allAvailable()) == cur,
        "compacted seen set must survive restart (no re-ingest)")
      val extra = df.where(org.apache.spark.sql.functions.col("n_nationkey") < 2)
      AvroUtil.write(extra.coalesce(1), s"$dir/compact_extra")
      val srcFile = new java.io.File(s"$dir/compact_extra").listFiles()
        .filter(_.getName.endsWith(".avro")).head
      java.nio.file.Files.copy(srcFile.toPath,
        new java.io.File(d, "part-late.avro").toPath)
      val next = resumed.latestOffset(cur, ReadLimit.allAvailable())
      val fresh = resumed.planInputPartitions(cur, next)
      assert(fresh.map(_.asInstanceOf[graft.sources.avro.AvroInputPartition]
        .path).distinct.toSeq.forall(_.endsWith("part-late.avro")),
        "only the late file may enter the post-compaction batch")
    } finally {
      if (prior == null) System.clearProperty("graft.avro.compactInterval")
      else System.setProperty("graft.avro.compactInterval", prior)
    }
  }

  test("evolution resolution: alias renames, default fills, values match v1") {
    val got = SparkEntry.queries("scan_avro_evolution")(spark, sf).collect()
    val want = graft.util.Canon.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("lang").as("language"), lit(0).as("quality"))
      .orderBy("doc_id").collect()
    assert(got.length == want.length && got.sameElements(want))
  }
}
