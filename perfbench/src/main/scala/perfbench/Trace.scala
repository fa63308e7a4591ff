package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into each engine layer, plus the
  * readings Spark and the JVM publish themselves (task metrics,
  * planner phase walls, streaming progress, GC/JIT, deoptimizations).
  *
  * Everything here is off unless [[enable]] ran: the measured runs
  * pay one boolean test per call. A span's layer is its name up to
  * the first '.', so `replay.capture` is billed to `replay`. Spark
  * events reach the listeners asynchronously, so every span boundary
  * drains the listener bus first; an event is then billed to the
  * innermost span open when it was posted. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
      t0: Long, t1: Long)

  /** Spark counters billed to one span name. */
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var taskCpuNs = 0L
    var shuffleWriteBytes = 0L
    var planMs = 0L
    val stageRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Widest max/mean task run time over the stages with ≥2 tasks. */
    def skew: Double = {
      val ratios = stageRunMs.values.filter(_.size >= 2).map { rs =>
        val mean = rs.sum.toDouble / rs.size
        if (mean > 0) rs.max / mean else 1.0
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  @volatile private var on = false
  private var spark: SparkSession = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var opId = 0L
  @volatile private var tag = "none"
  private val counters = mutable.Map.empty[String, Counters]
  val progress = mutable.ArrayBuffer.empty[(Long, Long)] // (addBatch, trigger) ms
  private val deopts = new AtomicLong(0)
  private var jfr: jdk.jfr.consumer.RecordingStream = _

  /** Spark counters billed to `name` (zeros if none). */
  def countersOf(name: String): Counters = counters.synchronized {
    counters.getOrElseUpdate(name, new Counters)
  }

  /** Attach the listeners and the JFR stream; spans start recording
    * when [[tracing]] switches them on. */
  def enable(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (on) { val c = countersOf(tag); c.synchronized(c.jobs += 1) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (on && e.taskInfo != null) {
          val c = countersOf(tag)
          c.synchronized {
            c.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              c.taskCpuNs += m.executorCpuTime
              c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
              c.stageRunMs.getOrElseUpdate(e.stageId,
                mutable.ArrayBuffer.empty) += m.executorRunTime
            }
          }
        }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (on) {
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          val c = countersOf(tag)
          c.synchronized(c.planMs += ms)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on && e.progress.numInputRows > 0) {
          val d = e.progress.durationMs
          def ms(k: String): Long =
            if (d.containsKey(k)) d.get(k).longValue else 0L
          progress.synchronized(progress += (ms("addBatch") -> ms("triggerExecution")))
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    jfr = new jdk.jfr.consumer.RecordingStream()
    jfr.enable("jdk.Deoptimization")
    jfr.onEvent("jdk.Deoptimization", _ => { deopts.incrementAndGet(); () })
    jfr.startAsync()
  }

  /** Run `body` with span recording switched to `traced`. */
  def tracing[T](traced: Boolean)(body: => T): T = {
    val prev = on
    drain()
    on = traced
    try body finally { drain(); on = prev }
  }

  /** Wait until the listener bus is empty. */
  private def drain(): Unit =
    if (spark != null) org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)

  /** Start a new operation: spans recorded until the next call share
    * its id. */
  def newOp(): Unit = opId += 1

  /** Record `body` as a span named `name` when tracing. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      tag = name
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        stack = stack.tail
        tag = stack.headOption.map(_._2).getOrElse("none")
        spans += Span(id, parent, name, opId, t0, t1)
      }
    }

  /** A span whose duration was measured inside the program (a
    * `graft.Phases` reading), recorded as a child of the innermost
    * span that ended last under `parentName`. Its duration is capped
    * at the parent's, so self times never go negative. */
  def virtualChild(parentName: String, name: String, seconds: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == parentName).foreach { p =>
      val d = math.min((seconds * 1e9).toLong, p.t1 - p.t0)
      spans += Span(nextId, p.id, name, p.op, p.t0, p.t0 + d)
      nextId += 1
    }

  def deoptCount: Long = deopts.get()

  def close(): Unit = if (jfr != null) jfr.close()

  /** Per-layer self time in seconds: a span's duration minus the part
    * its direct children cover. Root spans named `op` are the whole
    * operation, so their self time is the `unattributed` remainder. */
  def selfTimes: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.t1 - s.t0)
    spans.groupBy { s =>
      if (s.name == "op") "unattributed" else s.name.takeWhile(_ != '.')
    }.map { case (layer, ss) =>
      layer -> ss.map(s => s.t1 - s.t0 - childNs(s.id)).sum / 1e9
    }
  }

  /** Total duration of the root `op` spans, in seconds. */
  def tracedWall: Double =
    spans.filter(s => s.parent < 0 && s.name == "op")
      .map(s => s.t1 - s.t0).sum / 1e9

  def spanCount: Int = spans.size

  /** Write the spans as TSV (id, parent, op, name, start, end in ns
    * from the first span). */
  def writeSpans(f: java.io.File): Unit = {
    val base = if (spans.isEmpty) 0L else spans.map(_.t0).min
    val lines = spans.sortBy(_.t0).map(s =>
      s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.t0 - base}\t${s.t1 - base}")
    java.nio.file.Files.writeString(f.toPath,
      ("id\tparent\top\tname\tstart_ns\tend_ns" +: lines).mkString("\n") + "\n")
  }
}
