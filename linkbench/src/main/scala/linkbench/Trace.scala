package linkbench

import scala.collection.mutable

import org.apache.spark.LinkbenchBus
import org.apache.spark.sql.SparkSession

/** One timed call: which span caused it, which iteration it belongs to,
  * and the job group its Spark work was attributed to. */
final class Span(val id: Int, val parent: Int, val iteration: Int,
    val name: String, val group: String, val startNs: Long) {
  var endNs: Long = -1L
  var counters: Counters = new Counters
}

/** Spans around the benchmark's calls into the engine's layers, kept in
  * memory and written out with the run result. Each span sets its own job
  * group, so the probe's counters for a span cover exactly the Spark work
  * issued inside it (children included). The listener bus is drained at
  * each boundary; that cost lands in the parent span and shows as tracing
  * overhead. */
final class Tracer(spark: SparkSession, probe: Probe) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](iteration: Int, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    LinkbenchBus.drain(sc)
    val parent = open.headOption
    val group = parent.fold(s"it$iteration")(p => s"${p.group}/$name")
    val s = new Span(spans.size, parent.fold(-1)(_.id), iteration, name,
      group, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(group, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      parent match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
      LinkbenchBus.drain(sc)
      s.counters = probe.total(group)
    }
  }
}
