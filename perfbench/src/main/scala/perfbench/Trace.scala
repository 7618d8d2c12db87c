package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** In-memory spans, written out once when the run ends.  A disabled
  * tracer runs the body and records nothing, so the untraced run pays
  * one branch per boundary. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // (span id, trace id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Time `body` as a span; `root` starts a new trace id. */
  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val (parent, trace0) = current.get()
      val id = ids.incrementAndGet()
      val trace = if (root || trace0 == 0L) id else trace0
      current.set((id, trace))
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, if (root) 0L else parent, trace, name, t0, System.nanoTime()))
        current.set((parent, trace0))
      }
    }

  /** Id of the innermost open span on this thread (0 outside one). */
  def openSpan: (Long, Long) = current.get()

  /** Record a finished span under `parent`; returns its (id, trace). */
  def childOf(parent: (Long, Long), name: String, startNs: Long, endNs: Long): (Long, Long) =
    if (!on) parent
    else {
      val id = ids.incrementAndGet()
      add(Span(id, parent._1, parent._2, name, startNs, endNs))
      (id, parent._2)
    }

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    } finally out.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      startNs: Long, endNs: Long)
}

/** Job, stage and task counts from the scheduler's listener bus, kept
  * apart by the `perfbench.phase` local property of the job that ran
  * them (construct, execute, build, ...). */
final class SparkCounters extends SparkListener {
  val Keys = Seq("jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_records",
    "exec_s", "stage_skew_max")
  private val by = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val taskRun = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def add(label: String, k: String, v: Double): Unit = {
    val m = by.getOrElseUpdate(label, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(k) = m(k) + v
  }
  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SparkCounters.Phase))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = labelOf(e.properties)
    add(l, "jobs", 1)
    jobStart(e.jobId) = (l, e.time)
    e.stageIds.foreach(stageLabel(_) = l)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (l, t) => add(l, "exec_s", (e.time - t) / 1e3) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = stageLabel.getOrElse(e.stageId, "other")
    add(l, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(l, "cpu_s", m.executorCpuTime / 1e9)
      add(l, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(l, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(l, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(l, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(l, "input_records", m.inputMetrics.recordsRead.toDouble)
      taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val l = stageLabel.getOrElse(e.stageInfo.stageId, "other")
    add(l, "stages", 1)
    taskRun.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      // slowest over median task, on stages wide enough to be skewed;
      // run times are floored at 1 ms so idle tasks cannot blow it up
      if (ds.size >= 4) {
        val s = ds.map(d => math.max(d, 1L)).sorted
        val m = by.getOrElseUpdate(l, mutable.Map.empty[String, Double].withDefaultValue(0.0))
        m("stage_skew_max") = math.max(m("stage_skew_max"), s.last.toDouble / s(s.size / 2))
      }
    }
  }

  /** Totals over the given phase labels (skew: the maximum). */
  def sum(labels: String*): Map[String, Double] = synchronized {
    Keys.map { k =>
      val vs = labels.flatMap(by.get).map(_(k))
      k -> (if (k == "stage_skew_max") (vs :+ 0.0).max else vs.sum)
    }.toMap
  }

  def reset(): Unit = synchronized { by.clear() }
}

object SparkCounters {
  val Phase = "perfbench.phase"

  /** Run `body` with its jobs labelled `phase`. */
  def phase[T](spark: org.apache.spark.sql.SparkSession, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Phase)
    sc.setLocalProperty(Phase, phase)
    try body finally sc.setLocalProperty(Phase, prev)
  }
}

/** Every progress report of the session's streams, and the wall-clock
  * millisecond each stream started at. */
final class StreamCounters extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val started = mutable.ArrayBuffer.empty[Long]

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started += java.time.Instant.parse(e.timestamp).toEpochMilli
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    progress += e.progress
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def progressSince(n: Int): Seq[StreamingQueryProgress] = synchronized(progress.drop(n).toList)
  def startsSince(n: Int): Seq[Long] = synchronized(started.drop(n).toList)
  def counts: (Int, Int) = synchronized((progress.size, started.size))
}

object Streams {
  /** Progress phases in the order a trigger runs them. */
  val Phases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch",
    "walCommit", "commitOffsets")

  /** Trigger-level totals over a set of progress reports. */
  def totals(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val ops = ps.flatMap(_.stateOperators.toSeq)
    Map(
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"),
      "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"),
      "latest_offset_ms" -> dur("latestOffset"),
      "batches" -> ps.count(_.numInputRows > 0).toDouble,
      "input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** State held by the latest report of each query in `ps`. */
  def lastState(ps: Seq[StreamingQueryProgress]): (Double, Double) = {
    val last = ps.groupBy(_.id).values.map(_.last)
    val ops = last.flatMap(_.stateOperators.toSeq)
    (ops.map(_.numRowsTotal.toDouble).sum, ops.map(_.memoryUsedBytes.toDouble).sum)
  }

  /** Rebuild a trigger's phases as child spans, laid end to end from
    * the trigger's start in the order the engine runs them. */
  def phaseSpans(t: Tracer, parent: (Long, Long), ps: Seq[StreamingQueryProgress],
      wallToNs: Long => Long): Unit =
    ps.foreach { p =>
      val t0 = wallToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val total = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
      val trigger = t.childOf(parent, "stream.trigger", t0, t0 + total * 1000000L)
      var at = t0
      Phases.foreach { k =>
        Option(p.durationMs.get(k)).map(_.toLong).filter(_ > 0).foreach { ms =>
          t.childOf(trigger, s"stream.$k", at, at + ms * 1000000L)
          at += ms * 1000000L
        }
      }
    }
}

/** JSON for the result and span files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(kv.toMap)
}
