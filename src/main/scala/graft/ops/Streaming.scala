package graft.ops

import graft.util.Canon._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** Structured Streaming surface — SURVEY.md §2.10 + §2.1 source_stream_replay.
  *
  * Strategy: bounded replay. Every query runs `readStream` over the events
  * parquet under the AvailableNow trigger, lands in a memory sink, and the
  * FINISHED table is returned as a plain DataFrame — so Verify/Bench work
  * unchanged, and the DuckDB oracle is the same computation as batch SQL
  * (with AvailableNow on bounded input, stream ≡ batch).
  *
  * Every stream runs through one runner ([[withCheckpoint]], [[runBounded]],
  * [[memorySink]], [[parquetSinkRun]]): when a query returns, whether it
  * succeeded or threw, its checkpoint dir is deleted, its streaming query
  * is no longer active and its memory-sink temp view is dropped (the
  * returned frame keeps the sink's rows).
  *
  * Watermarks, multi-batch replay (maxFilesPerTrigger=1) and event-time
  * timeouts are exercised where semantics demand them (stream_watermark_late
  * — self-verified, since DuckDB has no watermark notion;
  * stream_stateful_session — oracle-verified, because bounded replay makes
  * stateful sessionization ≡ the batch islands SQL).
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  private val ctr = new java.util.concurrent.atomic.AtomicInteger
  private val ioTmp = "/tmp/graft_io"
  private val pid = ProcessHandle.current().pid()

  /** A per-call sink dir `/tmp/graft_io/<tag>_<dataset hash>_p<pid>_<n>`
    * and its `n`. The pid keeps two JVMs that run one id on one dataset
    * from writing into and deleting each other's sink. */
  private def sinkDir(d: String, tag: String): (String, Int) = {
    val n = ctr.incrementAndGet()
    (s"$ioTmp/${tag}_${d.hashCode.toHexString}_p${pid}_$n", n)
  }

  /** The file stream source needs a directory — stage events (ts already
    * rebuilt to µs + ms-truncated tsm, mirroring Canon.events) into one
    * parquet file, or into four for a 4-batch replay. */
  private def tsmEvents(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "events").withColumn("tsm", tsMs(col("ts")))
  private def stagedEventsDir(s: SparkSession, d: String): String =
    staged(d, "events", "stream_events")(
      tsmEvents(s, d).coalesce(1).write.mode("overwrite").parquet(_))
  private def stagedEvents4Dir(s: SparkSession, d: String): String =
    staged(d, "events", "stream_events4")(
      tsmEvents(s, d).repartition(4).write.mode("overwrite").parquet(_))

  /** A file stream over a staged dir. Its schema comes from
    * [[readParquet]], so repeated calls infer it once, not in a footer
    * job per call. */
  private def stagedStream(s: SparkSession, dir: String)
      : org.apache.spark.sql.streaming.DataStreamReader =
    s.readStream.schema(readParquet(s, dir).schema)

  /** events as a bounded stream from a staged directory. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val dir = stagedEventsDir(s, d)
    stagedStream(s, dir).parquet(dir)
  }

  /** Checkpoint root: tmpfs when available. Without an explicit location
    * every query leaks a temp checkpoint dir under /tmp (Spark refuses to
    * delete them for memory sinks unless forceDelete is set), and the
    * state-store/commit-log fsyncs land on disk — the measured source of
    * the streaming family's ±50% bench noise. State is never reused across
    * runs here, so RAM-backed checkpoints are semantics-free. The root is
    * keyed by pid: a deterministic path shared across JVMs lets a stale
    * checkpoint from a crashed or concurrent run silently replay as "already
    * processed" (complete-mode memory sinks then return EMPTY) or abort an
    * append-mode query with a recovery error — reproduced on Spark 4.1.2.
    * Bench logs this root so a disk fallback is visible in the artifact.
    * The root is this JVM's alone, so it is deleted when the JVM exits. */
  private[graft] val ckptRoot: String = {
    val base = if (new java.io.File("/dev/shm").isDirectory)
      "/dev/shm/graft_ckpt" else s"$ioTmp/ckpt"
    val root = s"$base/p$pid"
    sys.addShutdownHook(deleteTree(root))
    root
  }

  private[graft] val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Round-17 streaming fixed-cost trims (measured as same-JVM conf arms
    * alternated per rep, all row-identical; the `graft.tools.ConfAB` lines
    * that rerun them are in SCALING.md r17):
    *
    *  - State-store partition count: every stateful operator instantiates
    *    one state store PER shuffle partition PER micro-batch — under the
    *    32-core bench session that is 32 RocksDB instances (native open +
    *    commit + snapshot each) for KB-scale per-query state, and the
    *    completed queries' stores linger until the maintenance tick, so
    *    instance count compounds across a suite run. Pinning the streaming
    *    query's shuffle partitions to min(session, graft.stream.maxStateParts
    *    [default 8]) measured stream_session_window 10.14→3.04 s and
    *    stream_static_join 4.38→2.02 s medians with the 20–50 s in-suite
    *    stalls gone. Production posture unchanged: state partitions should
    *    track STATE VOLUME, not core count — at real scale you RAISE the
    *    conf (it is a cap, applied only when below the session value ...
    *    a 4-core driver run keeps 4 partitions, so scaling runs compare
    *    like with like).
    *  - RocksDB changelog checkpointing: commit uploads the delta instead
    *    of a full snapshot per store per batch (10.14→4.00 s alone on
    *    session_window). Semantics-free (the changelog replays to the same
    *    versioned state), and the production-preferred mode for frequent
    *    commits.
    *
    * Scoping (corrected r18, ADVICE r17): the partition cap and changelog
    * flag scope to the streaming query (set before start, restored after
    * termination by [[graft.util.Canon.withConfs]]); caller-set values are
    * left alone, which is what lets a ConfAB arm override them. The r17
    * maintenance-interval pin (5 s) is gone: it asked `getOption`, which
    * answers the key's registered 60 s default, so it never fired, and
    * queries run at the session's interval (SCALING.md, Streaming).
    *
    * r18 (VERDICT r17 item 7): the cap DEFAULT derives from the session —
    * max(8, defaultParallelism/4) — instead of the bare constant 8, which
    * encoded the r17 bench box. Local regimes (≤32 cores) still cap at 8
    * (bench numbers comparable round-over-round, and the driver's low-core
    * scaling run is below the cap and unaffected), while a real cluster
    * session (defaultParallelism in the thousands) gets state partitions
    * that scale with it; `graft.stream.maxStateParts` stays the explicit
    * override for sizing by state volume. */
  private def withStreamConfs[T](s: SparkSession)(body: => T): T = {
    val parts = "spark.sql.shuffle.partitions"
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val maxParts = s.conf.getOption("graft.stream.maxStateParts")
      .map(_.toInt)
      .getOrElse(math.max(8, s.sparkContext.defaultParallelism / 4))
    val capParts = s.conf.getOption(parts).forall(_.toInt > maxParts)
    val pins = Seq(parts -> maxParts.toString).filter(_ => capParts) ++
      Seq(changelog -> "true").filter(_ => s.conf.getOption(changelog).isEmpty)
    withConfs(s, pins)(body)
  }

  /** Run `body` with a fresh checkpoint dir named `name` under
    * [[ckptRoot]], and delete the dir when it returns or throws. */
  private def withCheckpoint[T](name: String)(body: String => T): T = {
    val ckpt = s"$ckptRoot/$name"
    deleteTree(ckpt) // ADVICE r5: a stale dir from a crashed run would replay
    // the input as already-processed (empty complete-mode result) or abort
    // append mode — clear BEFORE start, not only after success
    try body(ckpt) finally deleteTree(ckpt)
  }

  /** Start `writer` over checkpoint `ckpt` under the AvailableNow trigger
    * and the stream confs, wait until it has drained the bounded input, and
    * return the terminated query (its progress stays readable). A query
    * still active when the wait ends (an interrupted wait) is stopped. */
  private def runBounded(s: SparkSession, ckpt: String)(
      writer: DataStreamWriter[Row]): StreamingQuery =
    withStreamConfs(s) {
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); q } finally if (q.isActive) q.stop()
    }

  /** Drain `df` into the memory sink `name` over checkpoint `ckpt`; return
    * the sink's rows and the terminated query. The sink's temp view is
    * dropped before returning, failures included: the frame keeps the rows,
    * because its plan holds the sink itself, not the view's name. */
  private def memorySink(s: SparkSession, df: DataFrame, mode: String,
      name: String, ckpt: String): (DataFrame, StreamingQuery) =
    try {
      val q = runBounded(s, ckpt)(
        df.writeStream.format("memory").queryName(name).outputMode(mode))
      (s.table(name), q)
    } finally s.catalog.dropTempView(name)

  /** Run a streaming DataFrame to completion into a memory sink, return the
    * finished table; the view and the checkpoint are reclaimed before
    * returning, failures included. State store: the session's provider,
    * HDFS-backed by default. The r15 RocksDB pin (SCALING.md r15: all 14
    * stateful ids hash-identical under both providers) is gone: it asked
    * `getOption`, which answers the key's registered default, so it never
    * fired (SCALING.md, Streaming). Only `stream_transform_with_state`,
    * which requires RocksDB, sets the provider. */
  private[graft] def runToTable(s: SparkSession, df: DataFrame, mode: String)
      : DataFrame = {
    val name = s"graft_stream_${ctr.incrementAndGet()}"
    withCheckpoint(name)(memorySink(s, df, mode, name, _))._1
  }

  /** Drain `df` through `foreachBatch` into a per-call [[sinkDir]]
    * `<tag>_out_…`: each micro-batch lands as `perBatch(batch)`, batch 0
    * overwriting so a stale dir cannot leak in. The result is `finish`
    * over the dir, snapshotted with `localCheckpoint`, so the dir and the
    * checkpoint are deleted before returning, failures included. */
  private[graft] def parquetSinkRun(s: SparkSession, d: String, tag: String,
      df: DataFrame)(perBatch: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val (out, n) = sinkDir(d, s"${tag}_out")
    try withCheckpoint(s"${tag}_$n") { ckpt =>
      runBounded(s, ckpt)(df.writeStream.foreachBatch {
        (batch: Dataset[Row], id: Long) =>
          perBatch(batch.toDF())
            .write.mode(if (id == 0) "overwrite" else "append").parquet(out)
      })
      finish(s.read.parquet(out)).localCheckpoint(true)
    } finally deleteTree(out)
  }

  // ----------------------------------------------------------------- queries
  /** §2.1: bounded replay pass-through — stream result must equal the scan. */
  private val sourceStreamReplay: Q = (s, d) =>
    runToTable(s,
      eventsStream(s, d).select(col("event_id"), col("user_id"), col("event_type")),
      "append")
      .orderBy("event_id")

  /** Bounded replay through the CUSTOM DSv2 streaming source — the
    * graft-avro table's MicroBatchStream (the one extension surface the
    * repo had not yet exercised; Spark's built-in file stream source only
    * serves built-in formats, so an Avro landing zone needs exactly this).
    * Stages events as FOUR container files, then readStream.format(
    * "graft-avro") tails the directory: offsets are the sorted processed-
    * file list, each micro-batch reads only files that arrived since the
    * last commit, and batches reuse the batch path's byte-range sync-split
    * partitions and pruned reader schemas — identical read semantics on
    * both engines' paths. Under runToTable's AvailableNow the wrapper
    * snapshots latestOffset and drains to it, so the windowed aggregate
    * must equal the same aggregate computed from the parquet base table
    * (the oracle) — any dropped/duplicated file or split breaks the hash. */
  private val streamAvroReplay: Q = (s, d) => {
    val dir = staged(d, "events", "avro_stream")(
      graft.sources.avro.AvroUtil.write(tbl(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(4), _))
    val schema = s.read.format("graft-avro").load(dir).schema
    runToTable(s,
      s.readStream.format("graft-avro").schema(schema).load(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents")),
      "complete")
      .orderBy("event_type")
  }

  private val streamTumblingCount: Q = (s, d) =>
    runToTable(s,
      eventsStream(s, d)
        .groupBy(window(col("tsm"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("v_sum")),
      "complete")
      .select(col("window.start").as("w_start"), col("event_type"), col("n"),
        col("v_sum"))
      .orderBy("w_start", "event_type")

  /** Streaming Count-Min frequency monitor — the `agg_cms_freq` sketch as
    * PER-WINDOW streaming state: one windowed ObjectHashAggregate folds
    * every event-hour's user keys into a d=4 × w=64 counter table
    * (`graft_cms`, CatalystExt.CountMin — mergeable by vector add, so
    * partial aggregation works across micro-batches exactly like batch),
    * then the finished sink is probed for the tracked keys (user_id < 3)
    * beside their exact per-window counts. Streaming state is
    * O(windows · d·w) — 2 KB per window REGARDLESS of how many distinct
    * users an hour carries, which is the whole point of a sketch monitor
    * on a 100 TB/day stream (per-key windowed counts would hold state ∝
    * distinct keys; the r13 state-store probe measured exactly that
    * growth for the dedup-shaped monitors). The portable affine hashes
    * make the per-window counter tables — and therefore every estimate —
    * DuckDB-replayable: a full-oracle streaming sketch row. Estimates can
    * never undercount (CMS min-of-rows), asserted per row on both engines. */
  private val streamCmsFreq: Q = (s, d) => {
    import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}
    val sink = runToTable(s,
      eventsStream(s, d)
        .groupBy(window(col("tsm"), "1 hour"))
        .agg(expr("graft_cms(user_id)").as("sk")),
      "complete")
      .select(col("window.start").as("w_start"), col("sk"))
    val exact = tbl(s, d, "events")
      .where(col("user_id") < 3)
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
    val ests = (0 until CmsD).map { i =>
      val h = pmod(pmod(lit(CmsA(i)) * pmod(col("user_id"), lit(CmsP))
        + lit(CmsB(i)), lit(CmsP)), lit(CmsW.toLong))
      element_at(col("sk"), (lit(i * CmsW) + h + lit(1L)).cast("int"))
    }
    exact.join(sink, Seq("w_start"))
      .withColumn("cms_est", least(ests: _*))
      .select(col("w_start"), col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("no_undercount"))
      .orderBy("w_start", "user_id")
  }

  /** Streaming twin of `pipeline_observe_metrics`: the SAME
    * `DataFrame.observe` gate counters, but collected per micro-batch
    * from the StreamingQueryProgress events and SUMMED across batches —
    * the production monitoring path where each batch's metrics feed a
    * dashboard and the totals must reconcile with the batch table. The
    * events are staged as FOUR files and replayed with
    * maxFilesPerTrigger=1, so the cross-batch merge is genuinely
    * exercised (4 observed-metrics rows, not 1); counters are exact
    * integers, so batch-splitting cannot move the sums — the oracle is
    * the identical batch aggregate. An empty finishing batch (if the
    * trigger emits one) contributes all-zero counters and cannot skew
    * totals, which is why `n_batches` is deliberately NOT an output. */
  private val streamObserveMetrics: Q = (s, d) => {
    val dir = stagedEvents4Dir(s, d)
    val src = stagedStream(s, dir)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .observe("ingest_gate",
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("user_id").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null_user"),
        coalesce(sum(when(!(col("value") > 0), 1L).otherwise(0L)), lit(0L))
          .as("n_bad_value"),
        coalesce(sum(cents(col("value"))), lit(0L)).as("cents_sum"))
      .where(col("value") > 0)
      .select(col("event_id"))
    val name = s"graft_stream_obs_${ctr.incrementAndGet()}"
    val (kept, q) = withCheckpoint(name)(memorySink(s, src, "append", name, _))
    val mets = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest_gate")))
    def tot(fld: String): Long = mets.map(_.getAs[Long](fld)).sum
    val nKept = kept.count()
    import s.implicits._
    Seq(("cents_sum", tot("cents_sum")),
      ("n_bad_value", tot("n_bad_value")),
      ("n_kept", nKept),
      ("n_null_user", tot("n_null_user")),
      ("n_rows", tot("n_rows")))
      .toDF("metric", "value").orderBy("metric")
  }

  /** Streaming CONSTRAINT MONITOR — the pipeline_constraint_audit pattern
    * on the INGEST stream: per event-hour, exact violation counts for the
    * row-level constraints a platform enforces at the door (known event
    * type, positive value, present user_id, unique event_id within the
    * window), with a per-window pass verdict. Streaming shape: one
    * windowed aggregate (partial+final, complete-mode bounded replay);
    * every count is exact integer arithmetic, so DuckDB replays the whole
    * monitor from the batch table. On an unbounded 100 TB/day stream the
    * same plan runs with a watermark and append mode — the aggregate is
    * per-window-local state either way. */
  private val streamConstraintMonitor: Q = (s, d) => {
    // streaming aggregations reject countDistinct — the uniqueness check
    // rides the same keyed-state shape as stream_dedup: per
    // (window, event_id) counts in the stream, the per-window rollup on
    // the finished sink (a bounded batch frame)
    val sink = runToTable(s,
      eventsStream(s, d)
        .groupBy(window(col("tsm"), "1 hour"), col("event_id"))
        .agg(count(lit(1)).as("c"),
          coalesce(sum(when(!col("event_type").isin(
            "click", "error", "purchase", "signup", "view"), 1L)
            .otherwise(0L)), lit(0L)).as("vt"),
          coalesce(sum(when(!(col("value") > 0), 1L).otherwise(0L)), lit(0L))
            .as("vv"),
          coalesce(sum(when(col("user_id").isNull, 1L).otherwise(0L)),
            lit(0L)).as("vu")),
      "complete")
    // NULL-robust uniqueness accounting (r12 ADVICE): Spark's groupBy puts
    // all NULL event_ids in ONE group (k rows would read as k-1 dups)
    // while DuckDB's count(DISTINCT) drops NULLs (k dups) — so missing
    // ids get their OWN violation column on both sides and the dup count
    // is defined over non-null ids only. The fixture never emits NULL
    // event_id, but the monitor no longer depends on that invariant.
    sink.groupBy(col("window.start").as("w_start"))
      .agg(sum(col("c")).as("n_events"), sum(col("vt")).as("v_type"),
        sum(col("vv")).as("v_value"), sum(col("vu")).as("v_user"),
        sum(when(col("event_id").isNull, col("c")).otherwise(0L)).as("v_id_null"),
        (sum(when(col("event_id").isNotNull, col("c")).otherwise(0L)) -
          count(col("event_id"))).as("v_dup"))
      .withColumn("pass", col("v_type") + col("v_value") + col("v_user") +
        col("v_id_null") + col("v_dup") === 0L)
      .orderBy("w_start")
  }

  /** Streaming source-mix drift monitor — the curation tier's entropy
    * balance (agg_entropy_balance arithmetic) computed LIVE per event-hour
    * over the replayed stream: the event-type mix entropy + Pielou
    * evenness a pipeline pages on when an upstream source dies or floods
    * (mix entropy collapsing toward 0 = one type dominating). The
    * STREAMING stage is the tumbling windowed count (incremental state ∝
    * windows×types, the same state shape as stream_tumbling_count); the
    * entropy fold runs batch-side on the bounded sink table — exactly how
    * production splits it (the monitor reads the aggregate store, not the
    * stream). Scaled-integer ln arithmetic, identical to the batch twin. */
  private val streamMixMonitor: Q = (s, d) => {
    val sink = runToTable(s,
      eventsStream(s, d)
        .groupBy(window(col("tsm"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("c")),
      "complete")
      .select(col("window.start").as("w_start"), col("c"))
    Relational.entropyFold(sink, "w_start")
      .select(col("w_start"), col("n").as("n_events"), col("k").as("k_types"),
        col("entropy"), col("evenness"))
      .orderBy("w_start")
  }

  /** Streaming OHLC: the exact batch ts_ohlc candle (min_by/max_by with
    * the ms+event_id tie-break) computed as a streaming windowed aggregate
    * over the bounded replay — stream/batch parity for a stateful
    * order-sensitive aggregate, not just for counts and sums. */
  private val streamOhlc: Q = (s, d) => {
    val k = struct(unix_millis(col("ts")), col("event_id"))
    runToTable(s,
      eventsStream(s, d)
        .groupBy(col("user_id"), window(col("ts"), "1 hour"))
        .agg(min_by(col("value"), k).as("open"), max(col("value")).as("high"),
          min(col("value")).as("low"), max_by(col("value"), k).as("close"),
          count(lit(1)).as("n")),
      "complete")
      .select(col("user_id"), col("window.start").as("bucket"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
      .orderBy("user_id", "bucket")
  }

  private val streamSlidingAvg: Q = (s, d) =>
    runToTable(s,
      eventsStream(s, d)
        .groupBy(window(col("tsm"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("v_sum")),
      "complete")
      .select(col("window.start").as("w_start"), col("n"), col("v_sum"),
        r4(col("v_sum") / col("n")).as("v_avg"))
      .orderBy("w_start")

  /** Per-user sessions with a 30-minute inactivity gap. */
  private val streamSessionWindow: Q = (s, d) =>
    runToTable(s,
      eventsStream(s, d)
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes"))
        .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("v_sum")),
      "complete")
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("n"), col("v_sum"))
      .orderBy("user_id", "s_start")

  /** Watermark semantics: three-file replay (maxFilesPerTrigger=1). The
    * watermark computed from batch N's data takes effect in batch N+2
    * (measured: numRowsDroppedByWatermark fires one batch late), so the
    * straggler — the globally earliest event — rides in file 3: bulk, then
    * the latest event, then the straggler, which is then dropped as late.
    * Self-verified (StreamingSpec asserts the exclusion). */
  private val streamWatermarkLate: Q = (s, d) => {
    val dir = staged(d, "events", "stream_late") { dir =>
      val ev = tbl(s, d, "events")
      // One aggregation finds the straggler (globally earliest event) and
      // the tail (latest) — replaces round 1's two global sorts + anti-join
      // staging (18s bench outlier). Ties break on event_id, deterministic.
      val b = ev.agg(
        min_by(col("event_id"), struct(col("ts"), col("event_id"))).as("lo"),
        max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("hi"))
        .collect()(0)
      val loId = b.getLong(0); val hiId = b.getLong(1)
      def mtime(secs: Int): Unit = {
        // FileStreamSource orders files by modification time: set strictly
        // increasing whole-second mtimes explicitly (coarse-mtime
        // filesystems can tie or reorder sleep-spaced writes).
        val base = (System.currentTimeMillis() / 1000 - 100 + secs) * 1000
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try ls.forEach { p =>
          if (p.toString.endsWith(".parquet") &&
              java.nio.file.Files.getLastModifiedTime(p).toMillis > base)
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(base))
        } finally ls.close()
      }
      ev.where(col("event_id") =!= loId && col("event_id") =!= hiId)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      mtime(0)
      ev.where(col("event_id") === hiId).coalesce(1).write.mode("append").parquet(dir)
      mtime(10)
      ev.where(col("event_id") === loId).coalesce(1).write.mode("append").parquet(dir)
      mtime(20)
    }
    val stream = stagedStream(s, dir)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
    runToTable(s, stream, "append")
      .select(col("window.start").as("w_start"), col("n"))
      .orderBy("w_start")
  }

  /** Streaming dedup on event_id over a doubled input (events written twice);
    * the deduped stream must aggregate identically to the single batch. */
  private val streamDedup: Q = (s, d) => {
    val dir = staged(d, "events", "stream_dup") { dir =>
      val ev = tbl(s, d, "events")
      ev.coalesce(1).write.mode("overwrite").parquet(dir)
      ev.coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = stagedStream(s, dir).parquet(dir)
    val deduped = runToTable(s,
      stream.dropDuplicates("event_id")
        .select(col("event_id"), col("event_type"), col("value")),
      "append")
    deduped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("v_sum"))
      .orderBy("event_type")
  }

  final case class SessEv(user_id: Long, tsm: java.sql.Timestamp, value: Double)
  final case class SessOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, v_cents: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState with
    * event-time timeout — the explicit-state extension point (§7.4.3).
    * Bounded replay delivers each user's full history in one batch, so all
    * sessions close within the call; the state/timeout machinery is the
    * API surface under test. Oracle: the 30-min-gap islands SQL (bounded
    * replay ≡ batch sessionization). */
  private val streamStatefulSession: Q = (s, d) => {
    import s.implicits._
    val gapMs = 30L * 60 * 1000
    def sessionize(key: Long, it: Iterator[SessEv],
        state: org.apache.spark.sql.streaming.GroupState[List[SessEv]])
        : Iterator[SessOut] = {
      val evs = (it ++ state.getOption.getOrElse(Nil).iterator).toArray
        .sortBy(e => (e.tsm.getTime, e.value))
      if (state.hasTimedOut) state.remove() else state.update(Nil)
      if (evs.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
        var start = evs(0).tsm.getTime; var last = start
        var n = 0; var cents = 0L
        for (e <- evs) {
          val ems = e.tsm.getTime
          if (ems - last >= gapMs) {
            out += SessOut(key, start, last, n, cents)
            start = ems; n = 0; cents = 0L
          }
          last = ems; n += 1
          cents += math.floor(e.value * 100 + 0.5).toLong
        }
        out += SessOut(key, start, last, n, cents)
        out.iterator
      }
    }
    val stream = eventsStream(s, d)
      .select(col("user_id"), col("tsm"), col("value"))
      .withWatermark("tsm", "10 minutes")
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionize)
    runToTable(s, stream.toDF(), "append")
      .orderBy("user_id", "start_ms")
  }

  final case class TwsEv(user_id: Long, value: Double)
  final case class TwsOut(user_id: Long, n_purchases: Long, purchase_total: Double)

  /** Per-user running purchase totals as a [[StatefulProcessor]] — the
    * transformWithState API (Spark 4's arbitrary-state surface replacing
    * flatMapGroupsWithState: typed ValueState handles, timers, TTL).
    * Emits the post-batch running total per key per micro-batch; cents ride
    * as exact integers inside the state. */
  private class PurchaseTotals extends StatefulProcessor[Long, TwsEv, TwsOut] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsEv],
        tv: TimerValues): Iterator[TwsOut] = {
      var (n, c) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { e => n += 1; c += math.floor(e.value * 100 + 0.5).toLong }
      st.update((n, c))
      Iterator.single(TwsOut(key, n, c / 100.0))
    }
  }

  /** transformWithState (§2.10 extension): per-user purchase count + total
    * through the modern arbitrary-state processor. Requires the RocksDB
    * state-store provider (the API rejects the default HDFS-backed store);
    * the provider conf is scoped to this query and restored after. The
    * stream emits one running-totals row per (user, micro-batch); the final
    * value per user — selected with ONE max_by pass, not a window — must
    * equal the batch aggregate, which is the DuckDB oracle. */
  private val streamTransformWithState: Q = (s, d) => {
    import s.implicits._
    withConfs(s, Seq(ProviderKey -> RocksProvider)) {
      val stream = eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
        .as[TwsEv]
        .groupByKey(_.user_id)
        .transformWithState(new PurchaseTotals,
          TimeMode.None(), OutputMode.Append())
      runToTable(s, stream.toDF(), "append")
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("n_purchases"), col("purchase_total")), col("n_purchases"))
          .as("fin"))
        .select(col("user_id"), col("fin.n_purchases").as("n_purchases"),
          col("fin.purchase_total").as("purchase_total"))
        .orderBy("user_id")
    }
  }

  /** foreachBatch sink — the production pattern for arbitrary sinks: each
    * micro-batch lands as parquet via the batch writer, results read back
    * after completion. Oracle: the plain batch aggregation. The bounded
    * aggregate is snapshotted with `localCheckpoint`, so the sink dir and
    * the checkpoint are reclaimed before returning, failures included. */
  private val streamForeachBatch: Q = (s, d) => {
    val purchases = eventsStream(s, d)
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    parquetSinkRun(s, d, "foreach", purchases)(identity)(
      _.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(cents(col("value"))) / 100.0).as("purchase_total"))
        .orderBy("user_id"))
  }

  /** Latest-version-per-key MERGE of one micro-batch into a keyed parquet
    * sink (the foreachBatch upsert body): current sink ∪ batch → max_by
    * (last_ms, last_event_id) per user — an idempotent, commutative,
    * associative fold, which is WHY replaying a delivered batch cannot
    * change the table. Written to a staging dir then swapped in — the
    * local-FS stand-in for a transactional table commit (Delta/Iceberg
    * MERGE at 100 TB; the batch algebra is identical). */
  private def upsertLatest(batch: DataFrame, sink: String): Unit = {
    val s = batch.sparkSession
    val cur = if (new java.io.File(sink).exists) s.read.parquet(sink) else null
    val all = if (cur == null) batch else cur.unionByName(batch)
    val merged = all.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("last_event_id"), col("last_cents"), col("last_ms")),
        struct(col("last_ms"), col("last_event_id"))).as("m"))
      .select(col("user_id"), col("m.last_event_id").as("last_event_id"),
        col("m.last_cents").as("last_cents"), col("m.last_ms").as("last_ms"))
    val staging = s"${sink}_staging"
    merged.write.mode("overwrite").parquet(staging)
    deleteTree(sink)
    if (!new java.io.File(staging).renameTo(new java.io.File(sink)))
      throw new java.io.IOException(s"staging swap failed for $sink")
  }

  /** One full AvailableNow replay of the purchase changelog into the
    * idempotent sink at `sink`, with a FRESH checkpoint — so calling this
    * twice re-delivers EVERY micro-batch a second time (the double-fire a
    * crashed-and-restarted job produces when the sink commit raced the
    * checkpoint commit). The input is staged as 4 files and read with
    * maxFilesPerTrigger=1, so the merge runs as 4 sequential batch MERGEs,
    * not one. Deliberately NO additive column (a per-key version count
    * would double under redelivery — additive state is exactly what an
    * idempotent sink must not hold outside the transaction). */
  private[graft] def idempotentUpsertReplay(s: SparkSession, d: String,
      sink: String): DataFrame = {
    val src = stagedEvents4Dir(s, d)
    withCheckpoint(s"idem_${ctr.incrementAndGet()}") { ckpt =>
      runBounded(s, ckpt)(stagedStream(s, src)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          cents(col("value")).as("last_cents"),
          unix_millis(col("tsm")).as("last_ms"))
        .writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          upsertLatest(batch.toDF(), sink) })
    }
    s.read.parquet(sink).orderBy("user_id")
  }

  /** Exactly-once landing via an idempotent foreachBatch MERGE (r14
    * verdict item 6 — the production landing path; `cdc_upsert_latest` is
    * the batch twin). Structured Streaming gives at-least-once delivery
    * into arbitrary sinks; end-to-end exactly-once is delivery ⊕ an
    * idempotent sink. The query replays the same bounded input TWICE
    * (fresh checkpoint each pass = full redelivery) into one sink and
    * returns the post-second-pass table — the oracle compares it against
    * the plain batch latest-per-key aggregate, so any redelivery
    * sensitivity (double-counting, resurrection of older versions) breaks
    * the hash. StreamingSpec additionally asserts pass-1 ≡ pass-2 row sets.
    * The final table is snapshotted with `localCheckpoint` and the sink
    * reclaimed before returning. */
  private val streamIdempotentSink: Q = (s, d) => {
    val (sink, _) = sinkDir(d, "idem_sink")
    deleteTree(sink) // fresh sink per invocation
    try {
      idempotentUpsertReplay(s, d, sink) // pass 1: normal run
      idempotentUpsertReplay(s, d, sink) // pass 2: full REDELIVERY
        .localCheckpoint(true)
    } finally deleteTree(sink)
  }

  /** Stream ⋈ static dimension enrichment (supported without watermark). */
  private val streamStaticJoin: Q = (s, d) => {
    val dim = tbl(s, d, "nation")
    runToTable(s,
      eventsStream(s, d)
        .join(dim, pmod(col("user_id"), lit(25)) === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("v_sum")),
      "complete")
      .orderBy("n_name")
  }

  /** Purchases ⋈ clicks of the same user within the preceding 15
    * minutes, with watermarks on BOTH sides + the time-range join condition
    * — the state-bounding contract Structured Streaming requires for
    * stream-stream joins (each side's state is purgeable once the watermark
    * passes the range bound) — run to a memory sink as `joinType`. */
  private def purchaseClickJoin(s: SparkSession, d: String, joinType: String)
      : DataFrame = {
    val src = eventsStream(s, d)
    def side(eventType: String, user: String, ts: String): DataFrame =
      src.where(col("event_type") === eventType)
        .select(col("user_id").as(user), col("tsm").as(ts))
        .withWatermark(ts, "15 minutes")
    val joined = side("purchase", "pu", "pts").join(side("click", "cu", "cts"),
      col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 15 MINUTES") &&
        col("cts") <= col("pts"), joinType)
    // stream-stream joins keep 4 state stores per shuffle partition; at this
    // volume 32 partitions are pure fixed cost (store init + commit per
    // batch), so pin a small stream parallelism for the query and restore.
    // At scale the same knob is sized to state volume, not CPU count.
    withConfs(s, Seq("spark.sql.shuffle.partitions" -> "4")) {
      runToTable(s, joined, "append")
    }
  }

  /** Stream-stream inner join ([[purchaseClickJoin]]); on bounded
    * AvailableNow replay the emitted matches equal the batch join →
    * DuckDB-oracle-checkable. */
  private val streamStreamJoin: Q = (s, d) =>
    purchaseClickJoin(s, d, "inner")
      .groupBy(col("pu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")

  /** Stream-stream LEFT OUTER join (same watermark + time-range contract as
    * the inner variant): an unmatched purchase emits its null-click row only
    * once the watermark proves no matching click can still arrive, so
    * purchases near the end of the bounded replay sit in state forever and
    * never emit. Both engines therefore restrict to purchases at least 31
    * minutes before the stream's effective end (15 min watermark delay +
    * 15 min join range + 1 min slack) — inside that region eviction is
    * guaranteed, the emitted set is deterministic, and the DuckDB oracle is
    * the batch left join under the same cutoff. */
  private val streamStreamOuterJoin: Q = (s, d) => {
    val out = purchaseClickJoin(s, d, "left_outer")
    val cutRow = tbl(s, d, "events").agg(least(
      max(when(col("event_type") === "purchase", tsMs(col("ts")))),
      max(when(col("event_type") === "click", tsMs(col("ts")))))).collect()(0)
    // No purchases or no clicks at all → the least(max, max) aggregate is
    // null and there is no watermark-proven eviction region: return the
    // empty frame in the output schema (the house contract for degenerate
    // slices — mirror of sim_pq_ann's empty-table early return) instead of
    // NPE-ing on the null timestamp.
    val evicted = if (cutRow.isNullAt(0)) out.limit(0)
      else out.where(col("pts") <= lit(new java.sql.Timestamp(
        cutRow.getTimestamp(0).getTime - 31L * 60 * 1000)))
    evicted.groupBy(col("pu").as("user_id"))
      .agg(count(col("cts")).as("n_matched"),
        sum(when(col("cts").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** STREAMING near-dedup — the between-increments production shape run
    * continuously: an incoming document stream (the top quarter of doc ids,
    * replayed as 4 micro-batches via maxFilesPerTrigger=1) is near-dup
    * checked against the PERSISTED standing corpus state that
    * pipeline_neardup_incremental stages (labels + hashed sets + band
    * table). Each micro-batch runs TextDedup.neardupPairStage — the same
    * vocab-guarded bitmask / banded-LSH routing as the batch path, so
    * matches are EXACT-Jaccard — and appends its (doc, standing sid, jacc)
    * matches to a parquet sink via foreachBatch; docs arrive exactly once,
    * so the final per-doc aggregate equals the whole-batch answer and the
    * DuckDB oracle is the plain batch×collapsed-corpus J ≥ 0.8 SQL. At
    * 100 TB nothing changes shape: per-micro-batch work is ∝ batch, the
    * standing side stays on disk, bands equi-join. The per-doc aggregate is
    * snapshotted with `localCheckpoint`, so the match sink and the
    * checkpoint are reclaimed before returning, failures included. */
  private val streamNeardup: Q = (s, d) => {
    val (st, split) = TextDedup.stagedNeardupState(s, d)
    val srcDir = staged(d, "documents", "stream_nd")(
      tbl(s, d, "documents").where(col("doc_id") >= split)
        .repartition(4).write.mode("overwrite").parquet(_))
    // routed ONCE over standing ∪ the full increment — every micro-batch's
    // vocabulary and set count are subsets, so routing and mask bits match
    // the batch path exactly without a per-trigger driver action
    val route = TextDedup.neardupRoute(
      TextDedup.hashedDocSets(s.read.parquet(srcDir)), st,
      s.read.parquet(srcDir).count()) // row count ≥ set count: conservative
    val docs = stagedStream(s, srcDir)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    parquetSinkRun(s, d, "stream_nd", docs) { batch =>
      // no hb checkpoint: the bitmask path reads it once (into its own
      // checkpointed mask frame) and a micro-batch re-derivation is one
      // map-only pass — a per-trigger checkpoint job costs more
      val stage = TextDedup.neardupPairStage(
        TextDedup.hashedDocSets(batch), st, route)
      stage.memberMap.join(stage.crossReps, "sa")
        .select(col("id").as("doc_id"), col("sid"), col("jacc"))
    }(_.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("sid")).as("min_sid"),
        r4(max(col("jacc"))).as("best_jacc"))
      .orderBy("doc_id"))
  }

  /** Planned-restart recovery: the SAME checkpoint carries offsets AND
    * aggregate state across two separate query STARTS. Phase 1 streams
    * the even-id half of events into a complete-mode groupBy state;
    * then the odd half lands in the source dir and phase 2 RESTARTS
    * from the checkpoint — reading only the new files (the spec pins
    * run-2 numInputRows == odd-half rows) yet emitting totals over the
    * whole input, because the agg state is recovered from the store,
    * not recomputed. Returns (phase-1 rows collected — bounded at one
    * row per event_type —, final table, rows actually read by run 2);
    * both runs' temp views, the staging dir and the checkpoint are
    * reclaimed before returning, failures included, so repeated bench
    * reps don't accumulate them (review r15). At 100 TB this is THE
    * property a daily restart relies on: recovery must neither drop nor
    * double. */
  private[graft] def checkpointResumeCore(s: SparkSession, d: String)
      : (Array[Row], DataFrame, Long) = {
    val (dir, tag) = sinkDir(d, "stream_resume")
    val ev = tbl(s, d, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // one checkpoint scope around both runs: the restart is what is tested
    try withCheckpoint(s"resume_$tag") { ckpt =>
      ev.where(col("event_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val schema = s.read.parquet(dir).schema
      def runOnce(name: String): (DataFrame, Long) = {
        val (out, q) = memorySink(s, s.readStream.schema(schema).parquet(dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("value"))).as("value_cents")),
          "complete", name, ckpt)
        (out, q.recentProgress.map(_.numInputRows).sum)
      }
      // memory-sink tables are static once their query terminates — a
      // bounded collect snapshots phase 1
      val firstRows = runOnce(s"graft_resume_a_$tag")._1.collect()
      ev.where(col("event_id") % 2 === 1)
        .coalesce(1).write.mode("append").parquet(dir)
      val (second, read2) = runOnce(s"graft_resume_b_$tag")
      // both results are bounded (one row per event_type): snapshot into a
      // local relation so the staging dir and exhausted checkpoint can be
      // reclaimed before returning
      val out = s.createDataFrame(
        java.util.Arrays.asList(second.collect(): _*), second.schema)
      (firstRows, out, read2)
    } finally deleteTree(dir)
  }

  private val streamCheckpointResume: Q = (s, d) =>
    checkpointResumeCore(s, d)._2.orderBy("event_type")

  val queries: Map[String, Q] = Map(
    "source_stream_replay" -> sourceStreamReplay,
    "stream_avro_replay" -> streamAvroReplay,
    "stream_checkpoint_resume" -> streamCheckpointResume,
    "stream_neardup" -> streamNeardup,
    "stream_tumbling_count" -> streamTumblingCount,
    "stream_mix_monitor" -> streamMixMonitor,
    "stream_constraint_monitor" -> streamConstraintMonitor,
    "stream_cms_freq" -> streamCmsFreq,
    "stream_observe_metrics" -> streamObserveMetrics,
    "stream_ohlc" -> streamOhlc,
    "stream_sliding_avg" -> streamSlidingAvg,
    "stream_session_window" -> streamSessionWindow,
    "stream_watermark_late" -> streamWatermarkLate,
    "stream_dedup" -> streamDedup,
    "stream_stateful_session" -> streamStatefulSession,
    "stream_static_join" -> streamStaticJoin,
    "stream_stream_join" -> streamStreamJoin,
    "stream_stream_outer_join" -> streamStreamOuterJoin,
    "stream_foreach_batch" -> streamForeachBatch,
    "stream_idempotent_sink" -> streamIdempotentSink,
    "stream_transform_with_state" -> streamTransformWithState,
  )

  /** Per-window CMS replay: DuckDB rebuilds each hour's d counter rows as
    * GROUP BYs over the same affine hashes (constants mirrored from
    * CatalystExt.CmsA/B — the agg_cms_freq oracle, windowed). */
  private def streamCmsOracleSql: String = {
    import graft.ext.CatalystExt.{CmsA, CmsB, CmsD, CmsP, CmsW}
    def hx(i: Int, k: String) =
      s"((${CmsA(i)} * ($k % $CmsP) + ${CmsB(i)}) % $CmsP) % $CmsW"
    val rowCtes = (0 until CmsD).map(i =>
      s"""r$i AS (SELECT w_start, ${hx(i, "user_id")} AS b,
             CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2)""")
      .mkString(",\n          ")
    val joins = (0 until CmsD).map(i =>
      s"JOIN r$i ON r$i.w_start = p.w_start AND r$i.b = ${hx(i, "p.user_id")}")
      .mkString("\n            ")
    val est = (0 until CmsD).map(i => s"r$i.c").mkString("least(", ", ", ")")
    s"""WITH e AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                          user_id FROM events),
          $rowCtes,
          probe AS (SELECT w_start, user_id,
                           CAST(count(*) AS BIGINT) AS exact_cnt
                    FROM e WHERE user_id < 3 GROUP BY 1, 2)
        SELECT p.w_start, p.user_id, p.exact_cnt,
               $est AS cms_est,
               $est >= p.exact_cnt AS no_undercount
        FROM probe p
            $joins
        ORDER BY p.w_start, p.user_id"""
  }

  val oracle: Map[String, String] = Map(
    "stream_cms_freq" -> streamCmsOracleSql,
    // the restarted run's complete-mode emit must equal the one-shot
    // batch aggregate over the WHOLE input (recovery neither drops the
    // phase-1 state nor re-reads phase-1 files — the spec pins run-2
    // input rows to the odd half)
    "stream_checkpoint_resume" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical totals to the batch observe twin: per-batch counters are
    // exact integers, so the 4-batch sum must equal the one-shot aggregate
    "stream_observe_metrics" ->
      """SELECT metric, value FROM (
           SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value
           FROM events
           UNION ALL
           SELECT 'n_null_user',
                  CAST(coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'n_bad_value',
                  CAST(coalesce(sum(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'cents_sum',
                  CAST(coalesce(sum(CAST(floor(value*100 + 0.5) AS BIGINT)), 0) AS BIGINT)
           FROM events
           UNION ALL
           SELECT 'n_kept', CAST(count(*) AS BIGINT) FROM events WHERE value > 0)
         ORDER BY metric""",
    "source_stream_replay" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",
    // the custom-source replay must equal the batch aggregate over the
    // parquet base table — file/split drop or duplication breaks the hash
    "stream_avro_replay" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_neardup" ->
      s"""WITH t AS (
            SELECT doc_id,
                   list_sort(list_distinct(string_split(
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')))
                     AS st
            FROM documents),
          sp AS (SELECT (max(doc_id)+1)*3//4 AS s FROM documents),
          corpus AS (SELECT min(doc_id) AS sid, st
                     FROM t, sp WHERE doc_id < s GROUP BY st),
          batch AS (SELECT doc_id, st FROM t, sp WHERE doc_id >= s),
          m AS (SELECT b.doc_id, c.sid,
                  CAST(len(list_intersect(b.st, c.st)) AS DOUBLE) /
                  CAST(len(b.st) + len(c.st) - len(list_intersect(b.st, c.st))
                       AS DOUBLE) AS jacc
                FROM batch b, corpus c
                WHERE CAST(len(list_intersect(b.st, c.st)) AS DOUBLE) /
                      CAST(len(b.st) + len(c.st) - len(list_intersect(b.st, c.st))
                           AS DOUBLE) >= 0.8)
          SELECT doc_id, count(*) AS n_matches, min(sid) AS min_sid,
                 floor(max(jacc)*10000 + 0.5)/10000.0 AS best_jacc
          FROM m GROUP BY doc_id ORDER BY doc_id""",
    // Deterministic replay of the watermark semantics: the staging orders
    // files (bulk minus lo/hi) -> hi -> lo, so at the straggler's arrival
    // the watermark is already max(ts) - 10min; the straggler (global
    // earliest row) is dropped, and append mode has emitted exactly the
    // windows whose end <= that final watermark. Both facts are
    // batch-derivable scalars, making the full streaming output
    // oracle-checkable.
    "stream_watermark_late" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
          lo AS (SELECT event_id AS lo_id FROM events
                 ORDER BY ts, event_id LIMIT 1)
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
                 count(*) AS n
          FROM events, wm
          WHERE event_id != (SELECT lo_id FROM lo)
            AND date_trunc('day', ts) + INTERVAL 1 DAY <= wm.wm
          GROUP BY 1 ORDER BY 1""",
    "stream_tumbling_count" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
                count(*) AS n,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
         FROM events GROUP BY w_start, event_type ORDER BY w_start, event_type""",
    "stream_constraint_monitor" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(coalesce(sum(CASE WHEN event_type NOT IN
                  ('click','error','purchase','signup','view')
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_type,
                CAST(coalesce(sum(CASE WHEN NOT (value > 0)
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_value,
                CAST(coalesce(sum(CASE WHEN user_id IS NULL
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_user,
                CAST(count(*) - count(event_id) AS BIGINT) AS v_id_null,
                CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS v_dup,
                (coalesce(sum(CASE WHEN event_type NOT IN
                    ('click','error','purchase','signup','view')
                    THEN 1 ELSE 0 END), 0)
                 + coalesce(sum(CASE WHEN NOT (value > 0)
                     THEN 1 ELSE 0 END), 0)
                 + coalesce(sum(CASE WHEN user_id IS NULL
                     THEN 1 ELSE 0 END), 0)
                 + count(*) - count(DISTINCT event_id)) = 0 AS pass
         FROM events GROUP BY w_start ORDER BY w_start""",
    "stream_mix_monitor" ->
      """WITH c AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                   event_type, count(*) AS c
            FROM events GROUP BY 1, 2),
          t AS (SELECT w_start, CAST(sum(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS k
                FROM c GROUP BY 1),
          j AS (SELECT c.w_start, c.c, t.n, t.k,
                       CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c.c AS DOUBLE))
                                  * 1000000 + 0.5) AS BIGINT) AS li
                FROM c JOIN t ON c.w_start = t.w_start)
          SELECT w_start, max(n) AS n_events, max(k) AS k_types,
                 floor(CAST(sum(c * li) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                   / 1000000.0 * 10000 + 0.5) / 10000.0 AS entropy,
                 CASE WHEN max(k) > 1 THEN
                   floor(CAST(sum(c * li) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                     / CAST(floor(ln(CAST(max(k) AS DOUBLE)) * 1000000 + 0.5)
                            AS BIGINT) * 10000 + 0.5) / 10000.0 END
                   AS evenness
          FROM j GROUP BY 1 ORDER BY 1""",
    "stream_ohlc" ->
      """SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                arg_min(value, CAST(epoch_ms(ts) AS HUGEINT) * 18446744073709551616 + event_id) AS open,
                max(value) AS high, min(value) AS low,
                arg_max(value, CAST(epoch_ms(ts) AS HUGEINT) * 18446744073709551616 + event_id) AS close,
                count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY user_id, bucket""",
    "stream_sliding_avg" ->
      """WITH e AS (
           SELECT make_timestamp(((epoch_ms(ts)//900000 - k)*900000)*1000) AS w_start,
                  value
           FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
         agg AS (
           SELECT w_start, count(*) AS n,
                  sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
           FROM e GROUP BY w_start)
         SELECT w_start, n, v_sum,
                floor((v_sum/n)*10000 + 0.5)/10000.0 AS v_avg
         FROM agg ORDER BY w_start""",
    "stream_session_window" ->
      """WITH e AS (
           SELECT user_id, CAST(date_trunc('millisecond', ts) AS TIMESTAMP) AS tsm,
                  value
           FROM events),
         flagged AS (
           SELECT *, CASE WHEN tsm - lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm)
                               < INTERVAL 30 MINUTE
                          THEN 0 ELSE 1 END AS newflag
           FROM e),
         ids AS (
           SELECT *, sum(newflag) OVER (PARTITION BY user_id ORDER BY tsm
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id, min(tsm) AS s_start, count(*) AS n,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
         FROM ids GROUP BY user_id, sid ORDER BY user_id, s_start""",
    // Bounded replay ≡ batch sessionization: the same 30-min-gap islands SQL
    // as stream_session_window, reshaped to the stateful query's output
    // (start_ms/end_ms/n_events/v_cents). Graduates the
    // flatMapGroupsWithState path from self-verified to hash-matched.
    "stream_stateful_session" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS ems, value
           FROM events),
         flagged AS (
           SELECT *, CASE WHEN ems - lag(ems) OVER (PARTITION BY user_id ORDER BY ems)
                               < 1800000 THEN 0 ELSE 1 END AS newflag
           FROM e),
         ids AS (
           SELECT *, sum(newflag) OVER (PARTITION BY user_id ORDER BY ems
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id, min(ems) AS start_ms, max(ems) AS end_ms,
                CAST(count(*) AS INTEGER) AS n_events,
                CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS v_cents
         FROM ids GROUP BY user_id, sid ORDER BY user_id, start_ms""",
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_foreach_batch" ->
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS purchase_total
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""",
    // the sink after TWO full replays must equal one batch latest-per-key
    // pass — any redelivery sensitivity in the MERGE breaks this hash
    "stream_idempotent_sink" ->
      """WITH v AS (
           SELECT user_id, event_id,
                  CAST(floor(value*100 + 0.5) AS BIGINT) AS cents,
                  epoch_ms(date_trunc('millisecond', ts)) AS ems,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY date_trunc('millisecond', ts) DESC,
                                              event_id DESC) AS rn
           FROM events WHERE event_type = 'purchase')
         SELECT user_id, event_id AS last_event_id, cents AS last_cents,
                ems AS last_ms
         FROM v WHERE rn = 1 ORDER BY user_id""",
    // bounded replay: the final running total per user ≡ the batch aggregate
    "stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS purchase_total
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""",
    "stream_static_join" ->
      """SELECT n_name, count(*) AS n,
                sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS v_sum
         FROM events JOIN nation ON user_id % 25 = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "stream_stream_join" ->
      """WITH e AS (
           SELECT user_id, event_type,
                  CAST(date_trunc('millisecond', ts) AS TIMESTAMP) AS tsm
           FROM events)
         SELECT p.user_id, count(*) AS n_pairs
         FROM (SELECT user_id, tsm FROM e WHERE event_type = 'purchase') p
         JOIN (SELECT user_id AS cu, tsm AS cts FROM e WHERE event_type = 'click') c
           ON p.user_id = c.cu
          AND c.cts >= p.tsm - INTERVAL 15 MINUTES AND c.cts <= p.tsm
         GROUP BY p.user_id ORDER BY p.user_id""",
    "stream_stream_outer_join" ->
      """WITH e AS (
           SELECT user_id, event_type,
                  CAST(date_trunc('millisecond', ts) AS TIMESTAMP) AS tsm
           FROM events),
         p AS (SELECT user_id AS pu, tsm AS pts FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS cu, tsm AS cts FROM e WHERE event_type = 'click'),
         cut AS (SELECT least((SELECT max(pts) FROM p), (SELECT max(cts) FROM c))
                        - INTERVAL 31 MINUTE AS t)
         SELECT pu AS user_id, CAST(count(cts) AS BIGINT) AS n_matched,
                CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
         FROM p CROSS JOIN cut
         LEFT JOIN c ON pu = cu
           AND cts >= pts - INTERVAL 15 MINUTES AND cts <= pts
         WHERE pts <= cut.t
         GROUP BY pu ORDER BY user_id""",
  )
}
