package graft.tools

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Same-JVM paired conf A/B: arms alternate per rep, rowsets asserted
  * identical across arms, after one untimed pass of each id. Arms are
  * NAME=k1:v1,k2:v2 pairs after the ids.
  *
  * Usage: ConfAB <sfDir> <reps> <id,id,...> <arm> [arm ...]
  *   e.g. ConfAB /root/testdata/sf0.1 3 dedup_semantic \
  *          base= noaqe=spark.sql.adaptive.enabled:false
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sf = args(0); val reps = args(1).toInt
    val ids = args(2).split(",").toSeq
    val arms = args.drop(3).toSeq.map { a =>
      val Array(name, confs @ _*) = a.split("=", 2): @unchecked
      val m = confs.headOption.filter(_.nonEmpty).map(_.split(",").map { kv =>
        val Array(k, v) = kv.split(":", 2); k -> v
      }.toMap).getOrElse(Map.empty[String, String])
      name -> m
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    for (id <- ids) {
      val fn = graft.SparkEntry.queries(id)
      // one untimed pass, so the first timed arm pays neither the cold
      // query cost nor a first-call staging write
      fn(spark, sf).collect()
      val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
      val rows = mutable.Map[String, Set[String]]()
      for (_ <- 1 to reps; (arm, confs) <- arms) {
        graft.util.Canon.withConfs(spark, confs.toSeq) {
          System.gc()
          val t0 = System.nanoTime()
          val r = fn(spark, sf).collect()
          times.getOrElseUpdate(arm, mutable.ArrayBuffer()) +=
            (System.nanoTime() - t0) / 1e9
          val rs = r.map(_.toSeq.map(String.valueOf).mkString("|")).toSet
          rows.get(arm) match {
            case Some(r0) => require(r0 == rs, s"$id/$arm row drift")
            case None => rows(arm) = rs
          }
        }
      }
      def med(a: Seq[Double]) = a.sorted.apply(a.length / 2)
      val ident = arms.forall { case (a, _) => rows(a) == rows(arms.head._1) }
      println(s"==== $id identical=$ident")
      for ((a, _) <- arms)
        println(f"  $a%-10s med=${med(times(a).toSeq)}%6.2f reps=${times(a).map(x => f"$x%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
