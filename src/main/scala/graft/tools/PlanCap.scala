package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftDatasetFactory, SparkSession}

/** Plan-capture helper for PLANS.md: prints the executed plan of one
  * registered query id (FormattedMode-equivalent toString), optionally
  * filtered to lines matching a substring; a per-stage table (wall, summed
  * task time, task count, input, shuffle read/write, spill; slowest
  * first); and the Spark jobs it ran, split into build (the eager actions
  * inside the query function) and action (the final collect). One
  * listener counts the jobs and records the stages.
  *
  * Usage: runMain graft.tools.PlanCap <id> [sfDir] [filterSubstring]
  */
object PlanCap {
  /** One completed stage attempt as the listener saw it. */
  final case class StageRow(id: Int, name: String, wallMs: Long, taskMs: Long,
      tasks: Int, input: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  def main(args: Array[String]): Unit = {
    val id = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val filt = if (args.length > 2) Some(args(2)) else None
    val s = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a
        stages.add(StageRow(si.stageId, si.name.take(90), wall.getOrElse(0L),
          m.executorRunTime, si.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      }
    })
    // job-start events arrive on the async listener bus: drain it before
    // each read so a job is counted in the phase that ran it
    def jobsSoFar(): Int = {
      GraftDatasetFactory.waitListenerBusEmpty(s, 30000)
      jobs.get()
    }
    val df = graft.SparkEntry.queries(id)(s, sf)
    val buildJobs = jobsSoFar()
    df.collect() // AQE finalizes the plan only after execution
    val actionJobs = jobsSoFar() - buildJobs
    val plan = df.queryExecution.executedPlan.toString
    println(s"=== PLAN $id ===")
    filt match {
      case Some(f) => println(plan.linesIterator.filter(_.contains(f)).mkString("\n"))
      case None => println(plan)
    }
    println(s"=== STAGES $id (slowest first) ===")
    def mb(b: Long) = f"${b / 1e6}%.1f"
    for (r <- stages.toArray(Array.empty[StageRow]).sortBy(r => (-r.wallMs, r.id)))
      println(f"  stage ${r.id}%4d wall=${r.wallMs}%5dms task=${r.taskMs}%6dms " +
        f"n=${r.tasks}%3d in=${mb(r.input)}%8sMB sr=${mb(r.shuffleRead)}%7sMB " +
        f"sw=${mb(r.shuffleWrite)}%7sMB spill=${mb(r.spill)}%6sMB  ${r.name}")
    println(s"=== JOBS $id build=$buildJobs action=$actionJobs " +
      s"total=${buildJobs + actionJobs} ===")
    s.stop()
  }
}
