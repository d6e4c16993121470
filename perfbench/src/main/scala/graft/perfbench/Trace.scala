package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Pre-serialized JSON, embedded verbatim by [[Json]]. */
final case class RawJson(text: String)

/** Minimal JSON encoder for the result file (maps, sequences, numbers,
  * strings); keeps the bench free of extra dependencies. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case RawJson(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Wall clock in epoch seconds with nanoTime resolution, so span times and
  * Spark's progress timestamps share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1000.0
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** In-memory span recorder. A span is (id, parent, layer, name, start, end,
  * run); spans nest by the caller's stack. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      start: Double, end: Double, run: String)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var run: String = "setup"

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current
      stack = id :: stack
      val start = Clock.now()
      try body
      finally {
        stack = stack.tail
        add(id, parent, layer, name, start, Clock.now())
      }
    }

  private def add(id: Int, parent: Int, layer: String, name: String,
      start: Double, end: Double): Unit = synchronized {
    spans += Span(id, parent, layer, name, start, end, run)
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start" -> s.start,
      "end" -> s.end, "run" -> s.run))
  }
}

/** Spark's own events, gathered from outside the program in the traced
  * run: scheduler counters, per-query planning phases, stream progress. */
final class Listeners extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, failedTasks = 0L
  private var runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  private val taskMs = collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val phases = collection.mutable.Map.empty[String, Long]
  val progress = ArrayBuffer.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
      (e.taskInfo.finishTime - e.taskInfo.launchTime)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) =>
      phases(k) = phases.getOrElse(k, 0L) + v.durationMs
    }
  }
  // a failed action also throws in the bench, which counts it
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress.json }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def toJson: Map[String, Any] = synchronized {
    // max/median task time per stage with at least two tasks
    val skews = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "executor_run_ms" -> runMs,
      "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
      "phases_ms" -> phases.toMap,
      "progress" -> progress.synchronized(progress.map(RawJson(_)).toSeq))
  }
}
