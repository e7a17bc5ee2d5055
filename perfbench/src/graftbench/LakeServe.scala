package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.VersionedLake

/** Serving reads on a lineitem-keyed lake table — point lookups, range
  * reads that skip files by their statistics, time travel, change feed
  * and gold-shaped KPI aggregates — with a bulk merge of ~10% of the
  * rows about every 20th operation.
  */
final class LakeServe extends Workload {
  val Key = Seq("l_orderkey", "l_linenumber")
  val FirstDay = 9132 // 1995-01-02 in days since the epoch
  val Days = 2525
  var dir = ""
  var table = ""
  var baseDir = ""
  var mergeFiles: Seq[String] = Nil
  var rows = 0L
  val window = 30

  def inputs: Seq[(String, String)] = Seq("base" -> baseDir, "merges" -> s"$dir/merges")

  def setup(c: Ctx, d: String): Unit = {
    val spark = c.spark
    val g = new Gen(spark, c.seed)
    rows = 600000L
    val merges = math.max(4L, c.opts.seconds / 3L + 2)
    val mrows = (rows / 10).max(1L)
    dir = d
    mergeOrder.clear()
    table = s"$d/lineitem_lake"
    baseDir = s"$d/base"
    def shaped(df: DataFrame): DataFrame = df
      .withColumn("l_shipday", datediff(col("l_shipdate"), lit("1970-01-01").cast("date")))
    shaped(spark.range(rows).select((g.lineitemCols(col("id"), 0) :+
      lit(0L).as("l_seq")): _*)).write.mode("overwrite").parquet(baseDir)
    // merge b rewrites ~mrows rows: updates of existing keys, with ~5%
    // deletes and ~5% new keys; sequence numbers grow with b
    val id = col("id")
    val b = (id / mrows).cast("long")
    val u = g.unit(301, id)
    val target = when(u < 0.95, g.uni(302, rows, id)).otherwise(lit(rows) + id)
    val m = spark.range(merges * mrows).select(
      (g.lineitemCols(target, 400) ++ Seq(
        ((b + 1) * 100000000L + id).as("l_seq"),
        (u >= 0.90 && u < 0.95).as("_deleted"), b.as("b"))): _*)
    val stage = s"$d/merges_stage"
    shaped(m).repartition(col("b")).write.partitionBy("b").parquet(stage)
    mergeFiles = LakeFiles.flatten(stage, s"$d/merges", "m")
    VersionedLake.upsert(spark, table, spark.read.parquet(baseDir), Key, "l_seq")
    merge(c, 0)
    c.info("rows") = rows
    c.info("merge_rows") = mrows
    c.info("merge_files_landed") = merges
    c.info("range_days") = window
    c.info("buckets") = 16
  }

  // versions: v1 = bulk load, v(n+2) = after merge file n
  val mergeOrder = ArrayBuffer[Int]()
  private def version: Int = mergeOrder.size + 1

  private def merge(c: Ctx, n: Int): Unit = {
    val spark = c.spark
    val batch = spark.read.parquet(mergeFiles(n))
    val p = c.tr.span("sources.prepare") {
      VersionedLake.prepare(spark, table, batch, Key, "l_seq")
    }
    val r = c.tr.span("sources.commitPending") {
      VersionedLake.commitPending(spark, table, p)
    }
    mergeOrder += n
    require(r.version == version, s"merge landed as v${r.version}, expected v$version")
    c.tr.probe {
      val written = LakeFiles.bytes(table, p.adopted.filter(_.startsWith("gbucket=")))
      c.tr.event("commit", "op" -> c.tr.op, "rebase_rounds" -> r.rebaseRounds,
        "files_added" -> p.adopted.count(_.startsWith("gbucket=")),
        "bytes_written" -> written, "buckets_touched" -> p.touched.size,
        "change_bytes" -> new java.io.File(mergeFiles(n)).length)
    }
  }

  def warmup(c: Ctx): Unit = {
    val rnd = new java.util.Random(c.seed ^ 0x5eed)
    Seq("lookup", "range", "where", "travel", "changes", "daily", "monthly", "rollup")
      .foreach(kind => read(c, kind, rnd))
    results.clear()
  }

  val results = ArrayBuffer[Map[String, Any]]()

  private def keysOf(c: Ctx, ids: Seq[Long]): DataFrame = {
    import c.spark.implicits._
    ids.map(i => (i / 4, (i % 4 + 1).toInt)).toDF("l_orderkey", "l_linenumber")
  }

  private def revenue = sum(col("l_extendedprice").cast("decimal(18,2)"))

  /** `df` under a span of the lake read `name`; traced runs also record
    * the files it scans and, given its candidate files, the skip ratio.
    */
  private def resolved(c: Ctx, name: String, candidates: => Option[Seq[String]] = None)(
      df: => DataFrame): DataFrame = {
    val out = c.tr.span(s"sources.$name")(df)
    c.tr.probe {
      val live = LakeFiles.data(c, table, version).size
      val cand = candidates.map(_.size)
      c.tr.event("read", "op" -> c.tr.op, "files_scanned" -> out.inputFiles.length,
        "live_files" -> live,
        "skip_ratio" -> cand.map(n => 1.0 - n.toDouble / math.max(live, 1)))
    }
    out
  }

  /** One read of `kind`; returns the result record the oracle checks. */
  private def read(c: Ctx, kind: String, rnd: java.util.Random): Unit = {
    val spark = c.spark
    val v = version
    val lo = FirstDay + rnd.nextInt(Days - window)
    val hi = lo + window
    val rec: Map[String, Any] = kind match {
      case "lookup" =>
        val ids = Seq.fill(1 + rnd.nextInt(20))((rnd.nextDouble() * rows).toLong).distinct
        val got = resolved(c, "readKeys")(
          VersionedLake.readKeys(spark, table, keysOf(c, ids), Key))
          .select("l_orderkey", "l_linenumber", "l_seq", "l_extendedprice").collect()
        Map("ids" -> ids, "rows" -> got.map(r =>
          Seq[Any](r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
      case "range" =>
        val (l, h) = (Some(BigDecimal(lo)), Some(BigDecimal(hi)))
        val df = resolved(c, "readRange",
          Some(VersionedLake.rangeCandidates(spark, table, "l_shipday", l, h)))(
          VersionedLake.readRange(spark, table, "l_shipday", l, h))
        Map("lo" -> lo, "hi" -> hi) ++ countSum(df)
      case "where" =>
        val pred = s"l_shipday BETWEEN $lo AND $hi AND l_discount >= 0.05"
        val df = resolved(c, "readWhere",
          Some(VersionedLake.predicateCandidates(spark, table, pred)))(
          VersionedLake.readWhere(spark, table, pred))
        Map("lo" -> lo, "hi" -> hi) ++ countSum(df)
      case "travel" =>
        val at = 1 + rnd.nextInt(v)
        Map("at" -> at) ++ countSum(resolved(c, "read")(
          VersionedLake.read(spark, table, Some(at))))
      case "changes" =>
        val from = 1 + rnd.nextInt(v - 1)
        val to = from + 1 + rnd.nextInt(v - from)
        val got = resolved(c, "changes")(VersionedLake.changes(spark, table, from, to, Key,
          "l_seq", Seq("l_extendedprice")))
          .groupBy("change_type").count().collect()
        Map("from" -> from, "to" -> to,
          "counts" -> got.map(r => r.getString(0) -> r.getLong(1)).toMap)
      case "daily" =>
        val t = resolved(c, "read")(VersionedLake.read(spark, table))
          .groupBy(to_date(col("l_shipdate")).as("d")).agg(revenue.as("rev"))
          .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("d")))
          .collect()
        Map("groups" -> t.length, "total" -> t.map(_.getDecimal(1)).reduce(_ add _).toPlainString)
      case "monthly" =>
        val t = resolved(c, "read")(VersionedLake.read(spark, table))
          .groupBy(date_trunc("month", col("l_shipdate")).as("m")).agg(revenue.as("rev"))
          .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("m")))
          .collect()
        Map("groups" -> t.length, "total" -> t.map(_.getDecimal(1)).reduce(_ add _).toPlainString)
      case "rollup" =>
        val t = resolved(c, "read")(VersionedLake.read(spark, table))
          .rollup("l_returnflag", "l_linestatus").agg(count(lit(1)), revenue).collect()
        val all = t.find(r => r.isNullAt(0) && r.isNullAt(1)).get
        Map("groups" -> t.length, "total" -> all.getDecimal(3).toPlainString,
          "n" -> all.getLong(2))
    }
    results += Map("kind" -> kind, "version" -> v) ++ rec
  }

  private def countSum(df: DataFrame): Map[String, Any] = {
    val r: Row = df.agg(count(lit(1)), revenue).head()
    Map("n" -> r.getLong(0),
      "sum" -> Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private val Kinds = Seq(0.30 -> "lookup", 0.40 -> "range", 0.50 -> "where",
    0.65 -> "travel", 0.75 -> "changes", 0.85 -> "daily", 0.93 -> "monthly", 1.0 -> "rollup")

  def run(c: Ctx, until: Long): Unit = {
    val rnd = new java.util.Random(c.seed)
    var i = 0
    var reads = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() < until) {
      i += 1
      if (i % 20 == 0 && mergeOrder.size < mergeFiles.size) {
        c.op("merge", "merge_s")(merge(c, mergeOrder.size))
      } else {
        val x = rnd.nextDouble()
        val kind = Kinds.find(x < _._1).get._2
        val group = kind match {
          case "lookup" => "lookup"
          case "range" | "where" => "range"
          case "daily" | "monthly" | "rollup" => "kpi"
          case other => other
        }
        if (c.op(kind, s"read_s.$group")(read(c, kind, rnd)).nonEmpty) reads += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    c.sample("reads_per_s", reads / wall)
    c.info("reads") = reads
    c.info("merges_in_loop") = mergeOrder.size - 1
  }

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    val vs = VersionedLake.versions(spark, table)
    c.check("lake.versions", vs == (1 to version), s"${vs.size} versions, expected $version")
    val snap = s"$dir/final_snapshot"
    val snapBytes = LakeFiles.land(VersionedLake.read(spark, table), snap)
    val tableBytes = LakeFiles.dirBytes(table)
    c.sample("space_amp", tableBytes.toDouble / snapBytes)
    c.info("table_bytes") = tableBytes
    c.info("snapshot_bytes") = snapBytes
    c.info("live_files") = LakeFiles.data(c, table, vs.last).size
    c.info("base") = baseDir
    c.info("version_files") = mergeOrder.map(mergeFiles)
    val out = s"$dir/reads.json"
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json(results)) finally w.close()
    c.info("reads_file") = out
  }
}
