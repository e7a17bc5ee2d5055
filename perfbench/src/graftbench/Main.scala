package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (see perfbench/run.py). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, genOnly: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.getOrElse("gen-only", "0") == "1")
  }
}

/** One benchmark run's state: the session, the tracer and everything the
  * run reports (samples, counters, sizes, check verdicts, op outcomes).
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val tr: Tracer) {
  val seed: Long = opts.seed
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val info = mutable.LinkedHashMap[String, Any]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val errors = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  private var opSeq = 0L
  /** Id of the latest operation, for trace events recorded after it ends. */
  @volatile var lastOp = -1L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, ArrayBuffer()) += v
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Run one measured operation: counts it, times it into `sample` (when
    * given), traces it as an `op` span, and records a failure instead of
    * propagating it so one defect does not hide the rest of the run.
    */
  def op[T](kind: String, sampleName: String = null)(body: => T): Option[T] = {
    val id = synchronized { attempted += 1; opSeq += 1; opSeq }
    lastOp = id
    tr.op = id
    val t0 = System.nanoTime()
    try {
      val r = tr.span("op", Map("op_kind" -> kind))(body)
      if (sampleName != null) sample(sampleName, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        synchronized {
          failed += 1
          if (errors.size < 20) errors += s"$kind: ${e.getClass.getName}: ${e.getMessage}"
        }
        System.err.println(s"[perfbench] op $kind failed: $e")
        None
    } finally tr.op = -1
  }
}

/** A benchmark workload. `setup` lands seeded inputs and builds tables in
  * a fresh directory and `warmup` runs a few operations on them; a run
  * sets up (both together) several times and keeps the last call's
  * state. `run` is the timed closed loop, `verify` the checks outside it.
  */
trait Workload {
  def setup(c: Ctx, dir: String): Unit
  /** Landed inputs, name → parquet file or directory, for the input digest. */
  def inputs: Seq[(String, String)]
  def warmup(c: Ctx): Unit
  def run(c: Ctx, until: Long): Unit
  def verify(c: Ctx): Unit
}

object Main {
  val SetupReps = 2

  def workload(name: String): Workload = name match {
    case "cdc_ingest" => new CdcIngest
    case "lake_serve" => new LakeServe
    case "medallion_refresh" => new MedallionRefresh
    case "ann_search" => new AnnSearch(Seq("ivf"))
    case "ann_search_all" => new AnnSearch(Seq("ivf", "graph", "bq_ivf"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val w = workload(opts.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val ts = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val phases = mutable.LinkedHashMap[String, Any]("session_s" -> secs(ts))
    val tr = new Tracer(opts.trace)
    val c = new Ctx(spark, opts, tr)
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "cores" -> cores, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    try {
      // set-up = landing inputs, building tables and warming up
      val setups = (0 until (if (opts.genOnly) 1 else SetupReps)).map { rep =>
        val t0 = System.nanoTime()
        w.setup(c, s"${opts.work}/setup$rep")
        val land = secs(t0)
        if (!opts.genOnly) w.warmup(c)
        (secs(t0), land)
      }
      res("setup_s") = setups.map(_._1)
      res("land_s") = setups.map(_._2)
      res("inputs") = w.inputs.toMap
      if (!opts.genOnly) {
        graft.Caching.releaseAll(spark, blocking = true)
        if (opts.trace) Listeners.install(spark, tr)
        val jvm0 = Jvm.gcMs()
        val cg0 = Jvm.codegen()
        val start = Clock.us()
        val t0 = System.nanoTime()
        w.run(c, t0 + opts.seconds * 1000000000L)
        val wall = secs(t0)
        val end = Clock.us()
        val cg1 = Jvm.codegen()
        res("window") = Map("start_us" -> start, "end_us" -> end, "wall_s" -> wall,
          "gc_ms" -> (Jvm.gcMs() - jvm0),
          "codegen_ms" -> (cg1._1 - cg0._1) / 1e6, "codegen_classes" -> (cg1._2 - cg0._2))
        if (opts.trace) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val tc = System.nanoTime()
        w.verify(c)
        c.sample("harness_check_s", secs(tc))
        phases("verify_s") = secs(tc)
      }
    } catch {
      case NonFatal(e) =>
        c.failed += 1
        c.attempted += 1
        c.errors += s"run: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    res("phases") = phases
    res("jvm") = Map("rss_peak_mb" -> Jvm.rssPeakMb(), "heap_peak_mb" -> Jvm.heapPeakMb())
    res("samples") = c.samples
    res("info") = c.info
    res("checks") = c.checks
    res("attempted") = c.attempted
    res("failed") = c.failed
    res("errors") = c.errors
    if (opts.trace) {
      val path = s"${opts.work}/trace.jsonl"
      tr.write(path)
      res("trace_file") = path
      res("trace_overhead_s") = tr.overheadNs.get / 1e9
    }
    val w2 = new java.io.PrintWriter(opts.out, "UTF-8")
    try w2.println(Json(res)) finally w2.close()
    spark.stop()
  }
}

/** JVM-level readings: resident-set high-water mark, heap peaks, GC
  * time, and Spark's code-generation counters.
  */
object Jvm {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}

  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (compile ns, compiled classes) so far in this JVM. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Metadata reads of a lake table's manifest and files. */
object LakeFiles {
  def data(c: Ctx, path: String, version: Int): Seq[String] =
    graft.sources.VersionedLake.resolvedManifest(c.spark, path, version)
      .filter(_.startsWith("gbucket="))

  def bytes(path: String, rels: Iterable[String]): Long =
    rels.map(r => new java.io.File(s"$path/$r").length).sum

  def dirBytes(path: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(path))

  def bucket(rel: String): Int = rel.split("/")(0).stripPrefix("gbucket=").toInt

  /** Write one frame to `dir` as parquet (one file) and return its bytes. */
  def land(df: org.apache.spark.sql.DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dirBytes(dir)
  }

  /** Move the single part file of every `<col>=<n>` partition directory
    * under `stage` to `<out>/<prefix>_<n>.parquet`, with modification
    * times increasing in n (file streams order their input by mtime).
    */
  def flatten(stage: String, out: String, prefix: String): Seq[String] = {
    new java.io.File(out).mkdirs()
    val parts = new java.io.File(stage).listFiles().filter(_.isDirectory)
      .map(d => d.getName.split("=")(1).toInt -> d).sortBy(_._1)
    val base = System.currentTimeMillis() - 86400000L
    val moved = parts.map { case (n, d) =>
      val files = d.listFiles().filter(f => f.getName.endsWith(".parquet"))
      require(files.length == 1, s"expected one file in $d, found ${files.length}")
      val dst = new java.io.File(f"$out/${prefix}_$n%05d.parquet")
      require(files(0).renameTo(dst), s"rename to $dst failed")
      dst.setLastModified(base + n * 1000L)
      dst.getPath
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    moved.toSeq
  }
}
