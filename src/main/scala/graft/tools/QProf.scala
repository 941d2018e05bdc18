package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-query profiler (optimization-guide §1: measure first).
  *
  * Runs each named query exactly like Bench (same session config, timed
  * `.count()`), n reps, and for the LAST rep prints a per-stage table from
  * a SparkListener: wall duration, summed task time, input bytes, shuffle
  * read/write bytes, spill, peak task count — so the expensive stage inside
  * a multi-job query is visible without the UI.
  *
  * Usage: QProf <sfDir> <cpus> <reps> <id> [id ...]
  */
object QProf {
  final case class StageRow(id: Int, name: String, var wallMs: Long = 0,
    var taskMs: Long = 0, var tasks: Int = 0, var input: Long = 0,
    var sr: Long = 0, var sw: Long = 0, var spill: Long = 0)

  class L extends SparkListener {
    val rows = mutable.LinkedHashMap[Int, StageRow]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val r = rows.getOrElseUpdate(si.stageId,
        StageRow(si.stageId, si.name.take(90)))
      r.wallMs += (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(0L)
      r.tasks += si.numTasks
      val m = si.taskMetrics
      r.taskMs += m.executorRunTime
      r.input += m.inputMetrics.bytesRead
      r.sr += m.shuffleReadMetrics.totalBytesRead
      r.sw += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.diskBytesSpilled
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val cpus = args(1); val reps = args(2).toInt
    val ids = args.drop(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmups as Bench so rep medians are comparable
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    Seq("region", "nation", "documents").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    for (id <- ids) {
      val fn = graft.SparkEntry.queries(id)
      System.gc()
      val times = mutable.ArrayBuffer[Double]()
      var lastL: L = null
      for (r <- 1 to reps) {
        val l = new L
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        times += (System.nanoTime() - t0) / 1e9
        // ADVICE r17: the listener bus delivers asynchronously — drain it
        // before removing the listener or tail onStageCompleted events of
        // the reported rep can be silently missed. A bus that does not
        // drain in time (a loaded box) costs this rep's tail stages, not
        // the run: warn and go on.
        try org.apache.spark.sql.GraftDatasetFactory.waitListenerBusEmpty(spark, 10000)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            System.err.println(s"[qprof] WARN: $id rep $r: listener bus not " +
              "drained in 10 s; its stage table may miss tail stages")
        }
        spark.sparkContext.removeSparkListener(l)
        lastL = l
      }
      val med = times.sorted.apply(times.length / 2)
      println(f"==== $id reps=${times.map(t => f"$t%.3f").mkString(",")} median=$med%.3f")
      val rs = lastL.rows.values.toSeq.sortBy(-_.wallMs)
      def mb(b: Long) = f"${b / 1e6}%.1f"
      for (r <- rs if r.wallMs > 0 || r.input > 0 || r.sr > 0)
        println(f"  stage ${r.id}%4d wall=${r.wallMs}%5dms task=${r.taskMs}%6dms " +
          f"n=${r.tasks}%3d in=${mb(r.input)}%8sMB sr=${mb(r.sr)}%7sMB " +
          f"sw=${mb(r.sw)}%7sMB spill=${mb(r.spill)}%6sMB  ${r.name}")
    }
    spark.stop()
  }
}
