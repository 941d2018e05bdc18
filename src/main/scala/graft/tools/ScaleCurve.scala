package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-15 strong-scaling curve: the same heavy deterministic jobs at the
  * thread count given by SPARK_GRAFT_CPUS — the local-mode stand-in for
  * "does the wall actually track executor count, or is it overhead-bound?"
  *
  * Motivation (measured first): at sf0.1 the REGISTRY suite is
  * fixed-job-overhead-bound — per-query walls are FLAT or slightly worse
  * from local[4] to local[32] (pipeline_neardup_full 3.6→5.1 s, tpch_q9
  * 0.75→0.56 s) because fixture partitions are trivially small. That is a
  * statement about the fixture, not the plans — so this probe runs
  * PROBE-SCALE work instead:
  *
  *  - pagerank: 5 exact-integer rounds on the 2M-node / 8M-directed-edge
  *    ring+skip graph (the r10c probe graph; closed-form uniform rank).
  *  - cooc join: the UNCAPPED k=10⁴ hot-cell self-join
  *    (`Graph.coocEdgesCore` at `Int.MaxValue`; 50.2M emitted pairs
  *    through distinct).
  *
  * Run once per cpu count; SCALING.md r15 tabulates the curve.
  *
  * Round-16 (verdict item 3): wall-clock on this shared box is
  * regime-noise — three r15 attempts came back load-confounded. Each probe
  * now ALSO reports variance-robust Spark listener totals:
  *   - Σ executorCpuTime (pure CPU cycles — external load steals wall, not
  *     cycles; flat-across-thread-counts Σcpu with falling wall IS the
  *     strong-scaling signal, and Σcpu is the publishable number even on a
  *     loaded box),
  *   - Σ executorRunTime (includes wait — the gap vs cpu exposes I/O and
  *     contention),
  *   - shuffle read+write bytes (must be INVARIANT across thread counts —
  *     a plan whose shuffle volume grows with parallelism is broken),
  *   - utilization = Σcpu / (wall × threads).
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ambient-load telemetry: a shared box under external load flattens
    // every curve (measured r15: 20M sha2 "sped up" only 1.4× from 4→32
    // threads at loadavg 14 — the probe is only interpretable when the
    // 1-min loadavg is low at START and END)
    def load(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "?" }
    println(s"cpus=$cpus loadavg_start=[${load()}]")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("scale-curve")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")

    // variance-robust per-probe totals via listener (see object doc)
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            runMs.addAndGet(m.executorRunTime)
            cpuNs.addAndGet(m.executorCpuTime)
            shufBytes.addAndGet(
              m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })
    def metrics(label: String, wall: Double): Unit = {
      // listener posts async — settle until counters stop moving
      var last = -1L; var cur = runMs.get
      while (cur != last) { last = cur; Thread.sleep(200); cur = runMs.get }
      val cpuS = cpuNs.get / 1e9; val runS = runMs.get / 1e3
      val util = cpuS / (wall * cpus.toInt)
      println(f"cpus=$cpus $label%-10s taskrun=$runS%7.1f s taskcpu=$cpuS%7.1f s shuffle=${shufBytes.get / 1048576.0}%8.1f MB util=$util%.2f")
      runMs.set(0); cpuNs.set(0); shufBytes.set(0)
    }

    // --- pagerank @2M nodes / 8M directed edges (ring ±1, skip ±997)
    val n = 2000000L; val skip = 997L
    val ids = s.range(n)
    val dir = ids.select(col("id").as("src"),
        pmod(col("id") + 1, lit(n)).as("dst"))
      .unionAll(ids.select(col("id").as("src"),
        pmod(col("id") - 1 + n, lit(n)).as("dst")))
      .unionAll(ids.select(col("id").as("src"),
        pmod(col("id") + skip, lit(n)).as("dst")))
      .unionAll(ids.select(col("id").as("src"),
        pmod(col("id") - skip + n, lit(n)).as("dst")))
      .localCheckpoint(true)
    metrics("setup", 1.0) // drain + zero the counters before the timed probe
    val t0 = System.nanoTime()
    val pr = graft.ops.Graph.pagerankCore(dir)
    val mass = pr.agg(sum(col("pr"))).collect()(0).getLong(0)
    val wPr = (System.nanoTime() - t0) / 1e9
    // vertex-transitive ⇒ uniform rank; total mass conserved exactly
    println(f"cpus=$cpus pagerank2M: wall=$wPr%6.1f s mass_ok=${mass == 1000000000000L - (1000000000000L % n)}")
    metrics("pagerank2M", wPr)

    // --- uncapped cooc hot-cell join: 10k users in one cell + 200k
    //     background cells = 50,195,000 distinct pairs
    val bg = s.range(200000L).select(
      (lit(1000000000L) + col("id") * 2).as("u0"),
      concat(lit("bg_"), col("id")).as("event_type"),
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp")
        + expr("make_interval(0,0,0,0,0, cast(id % 1440 as int), 0)")).as("ts"))
    val ev = bg.select(col("u0").as("user_id"), col("event_type"), col("ts"))
      .unionAll(bg.select((col("u0") + 1).as("user_id"), col("event_type"),
        col("ts")))
      .unionAll(s.range(10000L).select(col("id").as("user_id"),
        lit("viral").as("event_type"),
        lit(java.sql.Timestamp.valueOf("2024-06-01 12:34:00"))
          .cast("timestamp").as("ts")))
      .localCheckpoint(true)
    metrics("setup2", 1.0)
    val t1 = System.nanoTime()
    val edges = graft.ops.Graph.coocEdgesCore(ev, Int.MaxValue).count()
    val wCo = (System.nanoTime() - t1) / 1e9
    println(f"cpus=$cpus cooc50M  : wall=$wCo%6.1f s edges_ok=${edges == 50195000L}")
    metrics("cooc50M", wCo)

    // --- pure-CPU control: 20M sha2 hashes, no shuffle at all — separates
    //     "the box/harness can scale" from "this plan is overhead-bound"
    val t2 = System.nanoTime()
    val sm = s.range(0, 20000000L, 1, cpus.toInt)
      .select(sum(length(sha2(col("id").cast("string"), 256))).as("x"))
      .collect()(0).getLong(0)
    val wSha = (System.nanoTime() - t2) / 1e9
    println(f"cpus=$cpus sha20M   : wall=$wSha%6.1f s sum_ok=${sm == 20000000L * 64}")
    metrics("sha20M", wSha)
    println(s"cpus=$cpus loadavg_end=[${load()}]")
    s.stop()
  }
}
