package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the JVM's nanoTime clock. Spans opened by the
  * harness thread nest by the open-span stack; spans reported by
  * listeners (micro-batches, jobs) get their parent at write-out: the
  * innermost span whose interval contains their end (a trigger can start
  * polling before the file it processes arrives). */
final class Span(val id: Int, var parent: Int, val layer: String,
    val name: String, val start: Long, var end: Long) {
  val counts = mutable.LinkedHashMap[String, Double]()
}

/** In-memory span recorder, one trace id per workload run; written out
  * once when the run ends. Switched off, it only runs the bodies. */
final class Tracer(initiallyOn: Boolean, val traceId: String) {
  @volatile var on: Boolean = initiallyOn
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.ArrayBuffer[Span]()
  private val recorded = mutable.HashSet[Int]()
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nanoOfWallMs(ms: Long): Long = ms * 1000000L + wallToNano

  def apply[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, stack.lastOption.fold(-1)(_.id), layer,
          name, System.nanoTime(), -1L)
        spans += s
        s
      }
      stack += s
      try body
      finally {
        s.end = System.nanoTime()
        stack.remove(stack.size - 1)
      }
    }

  /** Add a count to the innermost open harness span. */
  def count(key: String, v: Double): Unit =
    if (on) stack.lastOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** A span reported after the fact (listener thread); its parent is
    * resolved at write-out. */
  def record(layer: String, name: String, start: Long, end: Long): Span = synchronized {
    val s = new Span(spans.size, -2, layer, name, start, end)
    spans += s
    recorded += s.id
    s
  }

  /** Resolve listener spans' parents by containment, then serialize. */
  def json: String = synchronized {
    val closed = spans.filter(_.end >= 0)
    closed.filter(_.parent == -2).foreach { s =>
      // harness spans host listener spans; micro-batches and their engine
      // phases also host jobs
      val hosts = closed.filter(h => h.id != s.id &&
        (!recorded.contains(h.id) || (s.layer == "exec" && h.layer.startsWith("streaming"))) &&
        h.start <= s.end && s.end <= h.end)
      s.parent = if (hosts.isEmpty) -1 else hosts.minBy(h => h.end - h.start).id
    }
    closed.map { s =>
      val c = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(traceId)},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counts":$c}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Every micro-batch progress report of every query on the session. The
  * engine computes these with or without a listener; keeping them is how
  * the untraced run gets per-batch engine numbers. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toSeq)
  def clear(): Unit = synchronized(buf.clear())
}

/** Traced-run counters from Spark's public listeners: task metrics per
  * executed task, stage/job counts, and Catalyst phase times of every
  * completed query execution. */
final class ExecCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }
  private val jobStart = mutable.HashMap[Int, (Long, Int)]()
  private val jobTimes = mutable.ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized { c.clear(); jobTimes.clear() }
  def snapshot: Map[String, Double] = synchronized(c.toMap)
  /** (start, end) wall ms of every job completed while attached. */
  def jobs: Seq[(Long, Long)] = synchronized(jobTimes.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    jobStart(e.jobId) = (e.time, e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, nStages) =>
      jobTimes += ((t0, e.time))
      if (tracer.on) {
        val s = tracer.record("exec", s"job ${e.jobId}",
          tracer.nanoOfWallMs(t0), tracer.nanoOfWallMs(e.time))
        s.counts("stages") = nStages
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
    }
    e.reason match {
      case org.apache.spark.Success => ()
      case r: org.apache.spark.ExceptionFailure =>
        add("exec.task_failures", 1)
        if (r.className.endsWith("InjectedTaskFault")) add("exec.task_failures_injected", 1)
      case _ => add("exec.task_failures", 1)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).fold(0.0)(s => (s.endTimeMs - s.startTimeMs).toDouble)
    add("plan.analyze_ms", ms("analysis"))
    add("plan.optimize_ms", ms("optimization"))
    add("plan.physical_ms", ms("planning"))
    add("plan.queries", 1)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Minimal JSON writing for the run artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
