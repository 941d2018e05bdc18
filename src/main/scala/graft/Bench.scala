package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — prints ONE JSON line with per-query MEDIAN seconds.
  *
  * Protocol (round-3 revision): each query is timed SPARK_GRAFT_BENCH_REPS
  * times (default 3) back-to-back and the median is recorded — single-run
  * timing conflated real operator cost with whatever the previous query left
  * behind (JIT warm-up, GC of released localCheckpoint blocks, shuffle-file
  * cleanup), which is exactly what made round-2's set_union_distinct /
  * ts_interp_linear numbers drift 3-4× with no plan change. Queries run in
  * sorted-name order so round-over-round diffs compare like with like
  * (Map iteration order used to reshuffle whenever a query was added).
  * One-time staging (bucketed tables, streaming input dirs) still lands in
  * rep 1 of its query; the median then reflects steady-state cost.
  *
  * Round-4 revision: the stdout JSON line is size-bounded (slowest queries
  * only) so it fits the reader's 2 KB output window; the complete
  * per-query map lands in BENCH_FULL.json.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC like Verify/Explain/TestSession: Canon.events() casts the NTZ
      // ts column under the session zone — a non-UTC JVM default would
      // shift benched timestamps relative to the verified values (ADVICE r7)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Ambient-load telemetry (round-6 verdict item 6): the r6 driver run was
    // 1.17x inflated by machine load that had to be proven forensically from
    // rep-time outliers. Recording 1/5/15-min loadavg + core count at start
    // and end lets any reader label a run quiet/loaded directly.
    def loadavgVals(): Seq[Double] =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty }
    def loadFmt(l: Seq[Double]): String = l.map(v =>
      "%.2f".formatLocal(java.util.Locale.US, v)).mkString("[", ",", "]")
    val loadStartVals = loadavgVals()
    val loadStart = loadFmt(loadStartVals)
    val nCores = Runtime.getRuntime.availableProcessors()
    // Untimed warmup: JVM/codegen/parquet-reader spin-up otherwise lands on
    // whichever query happens to run first (measured ~5s of the round-1
    // "slowest query" was session start, not the operator).
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    Seq("region", "nation", "documents").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // Streaming warmup: MicroBatchExecution / state-store / streaming-agg
    // classloading+JIT otherwise lands on whichever stream_* query runs
    // first and inflates its median (the residual drift the 5-rep change
    // didn't kill). One trivial rate-source batch through the same bounded
    // runner as the timed queries absorbs it; the runner drops the sink
    // view and deletes the checkpoint.
    graft.ops.Streaming.runToTable(spark,
      spark.readStream.format("rate").option("numPartitions", "1")
        .option("rowsPerSecond", "1").load()
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("timestamp"), "1 second"))
        .count(),
      "complete")
    // Round-6: failures must be VISIBLE in the artifact (round-5 verdict
    // item 3) — a query that throws used to record a healthy-looking wall
    // time and nothing else. Also kept: per-rep times for the same-code
    // drifters the round-5 driver run surfaced (streaming family +
    // join_skew_salted), so environment variance is diagnosable from
    // BENCH_FULL.json instead of argued about.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val repDetail = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those
    // queries (the driver never sets it, so round artifacts stay complete).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // GC between queries so the previous query's released blocks are
      // collected on our dime, not attributed to this query's first rep
      System.gc()
      // Round-5 revision: the streaming family gets extra reps. Its cost is
      // dominated by per-query state-store/checkpoint fixed setup whose
      // variance survived median-of-3 (stream_tumbling_count drifted
      // 1.21→1.64 s across rounds 3→4 with no code change); a 5-rep median
      // tightens exactly that family without re-timing the other ~160.
      val drifter = name.startsWith("stream") ||
        name == "source_stream_replay" || name == "join_skew_salted"
      val qReps = if (drifter) math.max(reps, 5) else reps
      val times = (1 to qReps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case _: Throwable => failed += name }
        (System.nanoTime() - t0) / 1e9
      }
      if (drifter) repDetail(name) = times
      val sortedT = times.sorted
      name -> sortedT(sortedT.length / 2) // median (upper median for even reps)
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The harness that reads this output keeps only the LAST ~2000 chars of
    // stdout, and sbt appends a "[success] Total time ..." trailer after us.
    // A full-precision 157-query map is ~5 KB — it can never survive that
    // window (rounds 1-3 all came back unparsed). So: full per-query numbers
    // go to BENCH_FULL.json in the repo root, and stdout gets ONE compact
    // JSON line (slowest queries first, ms precision) kept under ~1.4 KB so
    // the whole line is visible and parseable inside the tail.
    def j(v: Double) = "%.3f".formatLocal(java.util.Locale.US, v)
    val failedArr = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val fullQs = results.map { case (k, v) => s"\"$k\":${j(v)}" }
      .mkString("{", ",", "}")
    val repsQs = repDetail.map { case (k, ts) =>
      s"\"$k\":${ts.map(j).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    // Self-labeling (round-7 verdict item 6): BASELINE.md's state-of-record
    // must only cite quiet-flagged artifacts. Round-8b recalibration: the
    // start sample runs AFTER sbt + SparkSession spin-up, so on an IDLE box
    // the 1-min term can read ~3 purely from the launcher's own startup
    // burst (measured: a demonstrably quiet run — fastest per-query total
    // on record — sampled start [3.04, 1.23, 2.13]). The 1-min start term
    // is therefore dropped; ambient load is judged by the start 5-MIN
    // sample (startup contributes ≤ 60s/300s of its burn) plus the end
    // 15-min term (self-load dilutes to ~2 over a ~10-min suite; a
    // sustained mid-run interferer pushes it past the bar — re-derive if
    // the suite ever triples). Validated against all four recorded
    // regimes: r7 LOADED driver [3.43, 3.20, ...] → loaded (5-min 3.20);
    // r8a QUIET [0.73, 1.04, 1.58] → quiet; r8b residual-load run
    // [1.51, 2.19, 2.08] (134.8 s total) → loaded; r8b quiet run
    // [3.04, 1.23, 2.13] (115.0 s total) → quiet. Labels now agree with
    // the measured totals in every case.
    val loadEndVals = loadavgVals()
    val quiet = loadStartVals.drop(1).take(1).forall(_ < nCores / 16.0) &&
      loadEndVals.drop(2).forall(_ < nCores / 8.0)
    val loadJson =
      s""""load":{"cores":$nCores,"quiet":$quiet,"start_1_5_15":$loadStart,"end_1_5_15":${loadFmt(loadEndVals)}}"""
    val fullLine = s"""{"metric":"total","value":${j(total)},"unit":"sec","n_queries":${results.length},"n_failed":${failed.size},"failed":$failedArr,"ckpt_root":"${graft.ops.Streaming.ckptRoot}",$loadJson,"queries":$fullQs,"rep_times":$repsQs,"sf":"$sfDir"}"""
    // a filtered local-iteration run must NOT clobber the round's complete
    // per-query artifact — it lands in BENCH_SUBSET.json instead, which is
    // also what quiet_bench.sh's sentinel stage reads (r9 ADVICE: the
    // sentinel calibration used to read BENCH_FULL.json, i.e. STALE numbers
    // from the previous full run, because the filtered run wrote nothing)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        if (only.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    // r18 (VERDICT r17 item 8): the driver's scaling re-run at a lower
    // SPARK_GRAFT_CPUS used to clobber the round's 32-core artifact of
    // record (the committed r17 BENCH_FULL.json was actually the 8-core
    // run). A per-core-count copy preserves every regime's artifact; the
    // stdout contract and BENCH_FULL.json itself are unchanged.
    if (only.isEmpty) java.nio.file.Files.write(
      java.nio.file.Paths.get(s"BENCH_FULL_c$cpus.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    val budget = 1400
    val sb = new StringBuilder
    var shown = 0
    results.sortBy(-_._2).foreach { case (k, v) =>
      if (sb.length < budget) {
        if (shown > 0) sb.append(',')
        sb.append(s"\"$k\":${j(v)}")
        shown += 1
      }
    }
    // Emit the JSON AFTER spark.stop() so no executor/SparkContext shutdown
    // log line can land behind it: combined with build.sbt's StdoutOutput +
    // showSuccess := false, this line is the process's final stdout output —
    // the position the harness's parser reads.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(s"""{"metric":"total","value":${j(total)},"unit":"sec","n_queries":${results.length},"n_failed":${failed.size},"failed":$failedArr,$loadJson,"shown_slowest":$shown,"full":"BENCH_FULL.json","queries":{$sb},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
