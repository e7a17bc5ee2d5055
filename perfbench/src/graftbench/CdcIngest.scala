package graftbench

import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.VersionedLake

/** Trickle CDC into the lake: a file-source stream applies one ~500-row
  * change file per micro-batch through `VersionedLake.upsertTxn` (the
  * exactly-once path `streaming.LakeSink` uses), then reads k of the
  * batch's keys back with `readKeys`. The first `WarmFiles` change files
  * are the warm-up: their own stream applies them before the timed one.
  */
final class CdcIngest extends Workload {
  val AppId = "perfbench_cdc"
  val Key = Seq("o_orderkey")
  val BaseRows = 150000L
  val Batch = 500L
  val K = 10
  val WarmFiles = 2
  var dir = ""
  var table = ""
  var changes = ""
  var warmChanges = ""
  var baseDir = ""
  var changeFiles: Seq[String] = Nil
  var lookupKeys: Map[Int, Seq[Long]] = Map.empty
  var schema: org.apache.spark.sql.types.StructType = _

  def inputs: Seq[(String, String)] =
    Seq("base" -> baseDir, "warm_changes" -> warmChanges, "changes" -> changes)

  def setup(c: Ctx, d: String): Unit = {
    val spark = c.spark
    val g = new Gen(spark, c.seed)
    val files = WarmFiles + math.max(40L, c.opts.seconds * 4L)
    // the seed sets the share of changes that hit recently changed keys
    val hot = 0.1 + 0.5 * new java.util.Random(c.seed).nextDouble()
    dir = d
    table = s"$d/orders_lake"
    changes = s"$d/changes"
    warmChanges = s"$d/changes_warm"
    baseDir = s"$d/base"
    g.orders(BaseRows, 15000).withColumn("seq", lit(0L))
      .write.mode("overwrite").parquet(baseDir)
    val id = col("id")
    val f = (id / Batch).cast("long")
    val u = g.unit(101, id)
    val kind = when(u < 0.7, "U").when(u < 0.9, "I").otherwise("D")
    // a hot change re-touches a key the previous file's cold changes drew
    val coldKey = g.uni(103, BaseRows, id)
    val prevKey = g.uni(103, BaseRows, (f - 1) * Batch + g.uni(104, Batch, id))
    val existing = when(f > 0 && g.unit(102, id) < hot, prevKey).otherwise(coldKey)
    val key = when(kind === "I", lit(BaseRows) + id).otherwise(existing)
    val rows = spark.range(files * Batch)
      .select((g.orderCols(id, key, 15000, salt = 200) ++ Seq(
        (id + 1).as("seq"), (kind === "D").as("_deleted"),
        f.as("f"), pmod(id, lit(Batch)).as("j"))): _*)
    val stage = s"$d/changes_stage"
    rows.drop("j").repartition(col("f")).write.partitionBy("f").parquet(stage)
    changeFiles = LakeFiles.flatten(stage, changes, "c")
    new java.io.File(warmChanges).mkdirs()
    changeFiles.take(WarmFiles).foreach { f =>
      val dst = new java.io.File(warmChanges, new java.io.File(f).getName)
      require(new java.io.File(f).renameTo(dst), s"rename to $dst failed")
    }
    changeFiles = changeFiles.map(f =>
      if (new java.io.File(f).exists) f else s"$warmChanges/${new java.io.File(f).getName}")
    lookupKeys = rows.filter(col("j") < K).select(col("f"), col("o_orderkey")).collect()
      .groupBy(_.getLong(0).toInt).map { case (fi, rs) => fi -> rs.map(_.getLong(1)).toSeq }
    schema = spark.read.parquet(changeFiles.head).schema
    VersionedLake.upsert(spark, table, spark.read.parquet(baseDir), Key, "seq")
    c.info("base_rows") = BaseRows
    c.info("batch_rows") = Batch
    c.info("change_files_landed") = files
    c.info("warmup_files") = WarmFiles
    c.info("lookup_keys") = K
    c.info("hot_share") = hot
    c.info("buckets") = 16
  }

  /** The first `WarmFiles` change files through their own stream (its
    * own application id), each commit followed by its lookup, so the
    * timed stream starts on a warm JVM and continues the same trickle.
    */
  def warmup(c: Ctx): Unit = {
    val q = stream(c, warmChanges, s"$dir/ckpt_warm") { (b, id) =>
      VersionedLake.upsertTxn(c.spark, table, b, Key, "seq", s"${AppId}_warm", id)
        .getOrElse(throw new IllegalStateException(s"warm-up batch $id was skipped"))
      VersionedLake.readKeys(c.spark, table, keysDf(c, lookupKeys(id.toInt)), Key).collect()
    }
    q.awaitTermination()
  }

  private def stream(c: Ctx, src: String, ckpt: String)(fn: (DataFrame, Long) => Unit) =
    c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) => fn(b, id) }
      .start()

  private def keysDf(c: Ctx, keys: Seq[Long]): DataFrame = {
    import c.spark.implicits._
    keys.toDF("o_orderkey")
  }

  // timed micro-batches that reached the write call: (batch id, file
  // index), and those it committed: (batch id, file index, version)
  val given = ArrayBuffer[(Long, Int)]()
  val applied = ArrayBuffer[(Long, Int, Int)]()
  val lookups = ArrayBuffer[Map[String, Any]]()

  def run(c: Ctx, until: Long): Unit = {
    val spark = c.spark
    val lock = new ReentrantLock()
    @volatile var stopping = false
    @volatile var lastEnd = 0L
    var prevVersion = VersionedLake.versions(spark, table).last
    val t0 = System.nanoTime()
    val q = stream(c, changes, s"$dir/ckpt") { (batch, id) =>
      lock.lockInterruptibly()
      try if (!stopping) {
        // maxFilesPerTrigger=1 over files ordered by mtime: batch i applies
        // the i-th timed file (verify() confirms it from the source log)
        val fi = WarmFiles + id.toInt
        given += ((id, fi))
        val r = c.op("commit", "commit_s") {
          c.tr.span("sources.upsertTxn") {
            VersionedLake.upsertTxn(spark, table, batch, Key, "seq", AppId, id)
          }
        }
        r.flatten.foreach { cr =>
          applied += ((id, fi, cr.version))
          c.tr.probe {
            val before = LakeFiles.data(c, table, prevVersion).toSet
            val added = LakeFiles.data(c, table, cr.version).filterNot(before)
            val written = LakeFiles.bytes(table, added)
            val changeBytes = new java.io.File(changeFiles(fi)).length
            c.tr.event("commit", "op" -> c.lastOp, "rebase_rounds" -> cr.rebaseRounds,
              "files_added" -> added.size, "bytes_written" -> written,
              "buckets_touched" -> added.map(LakeFiles.bucket).distinct.size,
              "change_bytes" -> changeBytes)
          }
          prevVersion = cr.version
        }
        val keys = lookupKeys.getOrElse(fi, Nil)
        c.op("lookup", "lookup_s") {
          val df = c.tr.span("sources.readKeys") {
            VersionedLake.readKeys(spark, table, keysDf(c, keys), Key)
          }
          val got = df.select("o_orderkey", "seq", "o_totalprice").collect()
          c.tr.probe(readProbe(c, df, prevVersion))
          lookups += Map("file" -> fi, "keys" -> keys,
            "rows" -> got.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
        lastEnd = System.nanoTime()
      } finally lock.unlock()
    }
    while (System.nanoTime() < until && q.isActive) Thread.sleep(20)
    lock.lock()
    try stopping = true finally lock.unlock()
    q.stop()
    q.exception.foreach(e => throw e)
    val wall = (math.max(lastEnd, t0 + 1) - t0) / 1e9
    c.info("commits") = applied.size
    c.info("stream_wall_s") = wall
    c.sample("commits_per_s", applied.size / wall)
  }

  private def readProbe(c: Ctx, df: DataFrame, version: Int): Unit =
    c.tr.event("read", "op" -> c.tr.op, "files_scanned" -> df.inputFiles.length,
      "live_files" -> LakeFiles.data(c, table, version).size)

  def verify(c: Ctx): Unit = {
    val spark = c.spark
    val vs = VersionedLake.versions(spark, table)
    // bulk load, warm-up batches, then one version per timed batch
    c.check("cdc.one_version_per_batch", vs == (1 to 1 + WarmFiles + given.size) &&
      applied.map(_._3) == (2 + WarmFiles to 1 + WarmFiles + given.size),
      s"versions ${vs.size} for $WarmFiles warm-up and ${given.size} timed micro-batches")
    // an exactly-once skip (upsertTxn returning None) of a fresh batch is
    // a defect: every batch the stream handed over must have committed
    c.check("cdc.every_batch_committed", given.map(_._1) == given.indices.map(_.toLong) &&
      applied.map(a => (a._1, a._2)) == given,
      s"${applied.size} of ${given.size} micro-batches committed")
    // the file source logs each batch's files (every 10th log compacted)
    val misrouted = applied.filterNot { case (id, fi, _) =>
      Seq(s"$id", s"$id.compact").map(n => new java.io.File(s"$dir/ckpt/sources/0/$n"))
        .filter(_.exists).exists { log =>
          val src = scala.io.Source.fromFile(log)
          try src.getLines().exists(l => l.contains(s"\"batchId\":$id}") &&
            l.contains(f"c_$fi%05d.parquet"))
          finally src.close()
        }
    }
    c.check("cdc.batch_i_applied_file_i", misrouted.isEmpty,
      s"${misrouted.size} batches applied another file than assumed")
    val ops = VersionedLake.history(spark, table).orderBy("version")
      .collect().map(_.getString(1)).drop(1).distinct.toSeq
    c.check("cdc.batch_commits_are_streaming_updates",
      applied.isEmpty || ops == Seq("STREAMING_UPDATE"), ops.mkString(","))
    val snap = s"$dir/final_snapshot"
    val snapBytes = LakeFiles.land(VersionedLake.read(spark, table), snap)
    val tableBytes = LakeFiles.dirBytes(table)
    c.info("final_snapshot") = snap
    c.info("table_bytes") = tableBytes
    c.info("snapshot_bytes") = snapBytes
    c.info("table_files") = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("gbucket=")).map(_.listFiles().length).sum
    c.info("live_files") = LakeFiles.data(c, table, vs.last).size
    c.sample("space_amp", tableBytes.toDouble / snapBytes)
    c.info("base") = baseDir
    // the oracle replays every file a batch was given, committed or not
    c.info("given_files") = changeFiles.take(WarmFiles) ++ given.map(g => changeFiles(g._2))
    val lk = s"$dir/lookups.json"
    val w = new java.io.PrintWriter(lk, "UTF-8")
    try w.println(Json(lookups)) finally w.close()
    c.info("lookups") = lk
  }
}
