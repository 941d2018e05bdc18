package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftDatasetFactory, SparkSession}

/** Plan-capture helper for PLANS.md: prints the executed plan of one
  * registered query id (FormattedMode-equivalent toString), optionally
  * filtered to lines matching a substring, and the Spark jobs it ran,
  * split into build (the eager actions inside the query function) and
  * action (the final collect), counted by a listener.
  *
  * Usage: runMain graft.tools.PlanCap <id> [sfDir] [filterSubstring]
  */
object PlanCap {
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
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
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
    println(s"=== JOBS $id build=$buildJobs action=$actionJobs " +
      s"total=${buildJobs + actionJobs} ===")
    s.stop()
  }
}
