package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around its own
  * call site (the program itself carries no spans). `parent` is -1 for a
  * root span; spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span name. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var runTimeMs = 0L
  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleBytes += o.shuffleBytes; runTimeMs += o.runTimeMs
  }
}

/** Listener that attributes every job, stage and task to the span that
  * was innermost when the job was submitted (carried as a local property,
  * so attribution survives the listener bus running on its own thread). */
final class OpListener extends SparkListener {
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  val counts = new ConcurrentHashMap[String, SparkCounts]()
  /** Time spent in this listener's handlers: part of tracing's cost. */
  val handlerNs = new AtomicLong

  private def of(label: String): SparkCounts =
    counts.computeIfAbsent(label, _ => new SparkCounts)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val label = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.OpProp))).getOrElse("untraced")
    e.stageInfos.foreach(s => stageLabel.put(s.stageId, label))
    val c = of(label)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val c = of(stageLabel.getOrDefault(e.stageInfo.stageId, "untraced"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val c = of(stageLabel.getOrDefault(e.stageId, "untraced"))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.runTimeMs += m.executorRunTime
      }
    }
  }
}

object Tracer {
  val OpProp = "graftbench.span"
}

/** In-memory span recorder. The client is one thread, so a plain stack
  * tracks parentage. While `on` is false `span` only runs its body.
  * `overheadNs` adds up the client time tracing itself costs: span
  * bookkeeping and every [[probe]]. */
final class Tracer(sc: SparkContext) {
  var on = false
  var overheadNs = 0L
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = 0L

  def nextOp(): Unit = op += 1

  /** Run an outside-in measurement that only a traced run makes. */
  def probe[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(Tracer.OpProp)
      sc.setLocalProperty(Tracer.OpProp, name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans(id) = Span(id, parent, op, name, t0, t1)
        stack = stack.tail
        sc.setLocalProperty(Tracer.OpProp, outer)
        overheadNs += (t0 - b0) + (System.nanoTime() - t1)
      }
    }

  /** Durations (ns) of every span called `name`. */
  def durations(name: String): Seq[Long] =
    spans.iterator.filter(s => s != null && s.name == name).map(_.durNs).toSeq

  /** Self time per span: duration minus the part its children cover. */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.map(s => s.id -> (s.durNs - childNs(s.id))).toMap
  }

  /** Total self time and call count per span name. */
  def selfByName: Map[String, (Long, Int)] = {
    val self = selfNs
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => self(s.id)).sum, ss.size)
    }
  }

  def toJson: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[", ",\n", "]")
}

object SparkCounts {
  /** Counts summed over every span name matching `p`. */
  def sum(l: OpListener, p: String => Boolean): SparkCounts = {
    val out = new SparkCounts
    l.counts.asScala.foreach { case (k, c) => if (p(k)) c.synchronized(out += c) }
    out
  }
}
