package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming ids that land micro-batches in a per-call parquet sink under
  * `/tmp/graft_io` snapshot their bounded result and delete the sink
  * before returning, so repeated calls leave nothing behind. */
class StreamReclaimSpec extends AnyFunSuite {
  import TestSession._

  private val sinks = Seq("foreach_out_", "idem_sink_", "stream_nd_out_")
  private def sinkDirs(): Set[String] =
    Option(new java.io.File("/tmp/graft_io").list()).fold(Set.empty[String])(_.toSet)
      .filter(n => sinks.exists(n.startsWith))

  for (id <- Seq("stream_foreach_batch", "stream_idempotent_sink", "stream_neardup"))
    test(s"$id leaves no sink dir behind; its result outlives the dir") {
      val before = sinkDirs()
      val first = SparkEntry.queries(id)(spark, sf)
      val left = sinkDirs() -- before
      assert(left.isEmpty, s"$id left $left under /tmp/graft_io")
      val second = SparkEntry.queries(id)(spark, sf).collect().map(_.toSeq).toSeq
      assert(second.nonEmpty)
      assert(first.collect().map(_.toSeq).toSeq == second)
      assert((sinkDirs() -- before).isEmpty)
    }
}
