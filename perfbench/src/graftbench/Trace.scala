package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Wall clock in epoch microseconds from a monotonic source, so spans
  * line up with Spark's millisecond event timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Spans and events around calls into graft's layers, held in memory
  * and written at exit. Disabled tracers run the body and record
  * nothing, so timed runs carry no tracing work.
  */
final class Tracer(val enabled: Boolean) {
  private val records = ArrayBuffer[String]()
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Time spent on tracing work itself: extra probes and listener callbacks. */
  val overheadNs = new AtomicLong(0)
  @volatile var op: Long = -1

  private def add(line: String): Unit = records.synchronized(records += line)

  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val opAt = op
      stack.set(id :: stack.get)
      val start = Clock.us()
      try body
      finally {
        val end = Clock.us()
        stack.set(stack.get.tail)
        add(Json(Map("kind" -> "span", "id" -> id, "name" -> name,
          "parent" -> parent, "op" -> opAt, "start_us" -> start,
          "end_us" -> end) ++ attrs))
      }
    }

  /** A tracing-only probe: runs only when enabled, and its time counts as overhead. */
  def probe(body: => Unit): Unit = if (enabled) {
    val t = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t)
  }

  def event(kind: String, fields: (String, Any)*): Unit =
    if (enabled) add(Json(Map("kind" -> kind) ++ fields))

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try records.synchronized(records.foreach(w.println)) finally w.close()
  }
}

/** Layer observers registered from outside the engine: Spark's
  * scheduler, query-execution and streaming listener interfaces.
  */
final class Listeners(tr: Tracer) extends SparkListener
    with QueryExecutionListener {

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally tr.overheadNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    tr.event("job_start", "job" -> e.jobId, "t_ms" -> e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    tr.event("job_end", "job" -> e.jobId, "t_ms" -> e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def get(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tr.event("task", "stage" -> e.stageId, "stage_attempt" -> e.stageAttemptId,
      "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
      "failed" -> (e.reason != TaskSuccess),
      "run_ms" -> get(_.executorRunTime),
      "cpu_ns" -> get(_.executorCpuTime),
      "gc_ms" -> get(_.jvmGCTime),
      "shuffle_write" -> get(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read" -> get(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      "spill" -> get(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "input" -> get(_.inputMetrics.bytesRead))
  }

  private def query(qe: QueryExecution, ok: Boolean): Unit = timed {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    tr.event("query", "t_ms" -> System.currentTimeMillis(), "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
      "physical_ms" -> ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe, ok = false)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      tr.event("stream", "batch" -> p.batchId, "t_ms" -> System.currentTimeMillis(),
        "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
        "input_rows" -> p.numInputRows)
    }
  }
}

object Listeners {
  def install(spark: SparkSession, tr: Tracer): Unit = {
    val l = new Listeners(tr)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spark.streams.addListener(l.streams)
  }
}
