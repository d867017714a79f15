package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** One traced interval; `parent` is -1 for a top-level span. Spans of
  * one operation share `op`, spans of one run share the tracer's run id.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      op: String, startNs: Long, var endNs: Long = -1L)

/** Engine work attributed to one call: jobs, stages, tasks, executor
  * run time, shuffle, spill and output rows.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var execRunMs, shuffleWriteB, spillB, outRows = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; outRows += o.outRows
  }
}

/** Attributes Spark's job, stage and task events to the job group the
  * benchmark set around the call that caused them. Jobs started under a
  * group the benchmark did not set (a streaming query's own micro-batch
  * group) go to the call running at the time. Events arrive on the one
  * listener-bus thread; the benchmark reads a group only after draining
  * the bus.
  */
final class EngineListener extends SparkListener {
  @volatile var current: String = ""
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val own = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Probe.GroupPrefix))
    val g = own.getOrElse(current)
    if (g.nonEmpty) {
      counters(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, current)
    if (g.nonEmpty) counters(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, current)
    val m = e.taskMetrics
    if (g.nonEmpty && m != null) {
      val c = counters(g)
      c.tasks += 1
      c.execRunMs += m.executorRunTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.diskBytesSpilled
      c.outRows += m.outputMetrics.recordsWritten
    }
  }
}

/** The benchmark's tracing: spans around each call into a graft layer,
  * and engine counters per call. Off, every method is a plain call.
  */
final class Probe(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new EngineListener
  private var counters = Map.empty[(Int, String, String), Counters]
  private var pass = -1
  private var op = ""
  private var on = false
  def passIndex: Int = pass

  /** Start a pass; a traced pass attaches the listener for its length. */
  def startPass(index: Int, traced: Boolean): Unit = {
    pass = index
    on = traced
    if (traced) spark.sparkContext.addSparkListener(listener)
  }

  def endPass(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  def forOp[T](name: String)(body: => T): T = {
    op = name
    try body finally op = ""
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        pass, op, System.nanoTime())
      spans += s
      stack = s :: stack
      try body finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** A span whose Spark jobs are counted under (pass, layer, op). */
  def call[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val g = s"${Probe.GroupPrefix}${spans.size}"
      sc.setJobGroup(g, s"$layer $op", interruptOnCancel = false)
      listener.current = g
      try span(layer)(body) finally {
        BusDrain(sc)
        listener.current = ""
        sc.clearJobGroup()
        val c = Option(listener.byGroup.remove(g)).getOrElse(new Counters)
        val key = (pass, layer, op)
        counters.get(key) match {
          case Some(acc) => acc += c
          case None => counters += key -> c
        }
      }
    }

  /** Engine counters of one layer in one pass, summed over its ops (or
    * for one op only).
    */
  def engine(p: Int, layer: String, opName: Option[String] = None): Counters = {
    val total = new Counters
    counters.foreach { case ((pp, l, o), c) =>
      if (pp == p && l == layer && opName.forall(_ == o)) total += c
    }
    total
  }

  /** Self time (span length minus its children's) per layer in one
    * pass, optionally for one op only.
    */
  def selfSeconds(p: Int, opName: Option[String] = None): Map[String, Double] = {
    val inPass = spans.filter(s => s.pass == p && opName.forall(_ == s.op))
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach { s =>
      if (s.pass == p && s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs
    }
    inPass.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def spansJsonl: String = spans.map { s =>
    Json.render(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "pass" -> s.pass, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.mkString("", "\n", "\n")
}

object Probe {
  val GroupPrefix = "perfbench-"
}
