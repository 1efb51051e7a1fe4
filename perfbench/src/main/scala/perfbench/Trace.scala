package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One closed span: a call into one layer, timed on the client thread. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/** Scheduler work attributed to one span through the `perfbench.span` local
  * property, which Spark copies onto every job the span's thread (or a thread
  * it starts, such as a streaming query or a write pool) submits.
  */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** executor run time per task, by stage, for the skew ratio */
  val stageTaskRun = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's tracer. With tracing off every method is a pass-through, so
  * the untraced run executes exactly the program's own lazy plans. With tracing
  * on, [[layer]] materializes a layer call's output inside that call's span
  * (persist + count), so the span's self time is the layer's own work.
  *
  * Spans are kept in memory and written out at the end of the run.
  */
final class Trace(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long)]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private var nextId = 0
  private var op = -1
  /** on only during the ops of a traced window */
  var active = false

  val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Catalyst phase seconds (analysis + optimization + planning), summed */
  var planSeconds = 0.0
  /** named counters recorded at layer boundaries (candidates, bytes, ...) */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def spanList: Seq[Span] = spans.toSeq

  /** whether the current op is traced; unlike `active`, it stays set through
    * the op's check, which books the bytes the op wrote */
  private var opTraced = false

  def beginOp(id: Int, traced: Boolean): Unit = { op = id; active = on && traced; opTraced = active }

  /** Release what traced layers persisted during the op just finished. */
  def endOp(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
    active = false
  }

  def count(name: String, v: Double): Unit =
    if (opTraced) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Run `body` inside a span named `name` (a no-op when not tracing). */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = SparkSession.active.sparkContext
      val prev = sc.getLocalProperty(Trace.Key)
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, System.nanoTime()))
      sc.setLocalProperty(Trace.Key, id.toString)
      try body
      finally {
        val (_, t0) = stack.pop()
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        sc.setLocalProperty(Trace.Key, prev)
      }
    }

  /** A lazy layer call. Traced: plan it under `plans.plan`, then materialize
    * it inside its own span and hand the cached result to the next layer.
    */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!active) df
    else span(name) {
      val d = df
      plan(d)
      val p = d.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      persisted += p
      p
    }

  /** Persist a frame the op reads more than once (a traced layer's output is
    * already persisted); it is released when the op ends.
    */
  def keep(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else { persisted += df.persist(StorageLevel.MEMORY_AND_DISK); df }

  /** Force Catalyst planning of `df` inside a `plans.plan` span and book
    * the query's phase times from its planning tracker.
    */
  def plan(df: DataFrame): Unit =
    if (active) span("plans.plan") {
      val qe = df.queryExecution
      qe.executedPlan
      planSeconds += qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
    }

  /** Spark listener: jobs, tasks, waiting, shuffle and spill per span. */
  val listener: SparkListener = new SparkListener {
    private def spanOf(p: Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Trace.Key))).map(_.toInt).getOrElse(-1)
    private def workOf(s: Int): SpanWork = work.computeIfAbsent(s, _ => new SpanWork)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      workOf(s).synchronized { workOf(s).jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, s))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      val info = e.taskInfo
      val w = workOf(s)
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.runNs += m.executorRunTime * 1000000L
          val delay = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          w.waitMs += delay + m.executorDeserializeTime
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
  }

  /** Self time of every span: its duration minus the time its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = child.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> (s.endNs - s.startNs - kids) / 1e9
    }.toMap
  }

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val w = Option(work.get(s.id))
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.map(_.jobs).getOrElse(0L)},""" +
      s""""tasks":${w.map(_.tasks).getOrElse(0L)}}"""
  }
}

object Trace {
  val Key = "perfbench.span"
}
