package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Bq, GraphAnn, Ivf, Similarity}

/** ANN search over a seeded clustered corpus: rounds of top-k searches
  * with the named indexes (IVF, graph, binary-quantized IVF), each
  * answering every probe (vec_id % 50 == 0) of the corpus, with recall
  * checked against the exact brute-force neighbours.
  */
final class AnnSearch(indexes: Seq[String]) extends Workload {
  var dir = ""
  var corpus = ""
  var n = 0L

  /** index → (search, recall floor). IVF's floor is the clustered-regime
    * floor `Similarity.recallBounds` asserts; the others are the
    * operators' own constants.
    */
  val Indexes: Seq[(String, DataFrame => DataFrame, Double)] = Seq(
    ("ivf", (e: DataFrame) => Ivf.ivfTopK(e, 5), 0.9),
    ("graph", (e: DataFrame) => GraphAnn.graphTopK(e, 5), GraphAnn.RecallFloorClustered),
    ("bq_ivf", (e: DataFrame) => Bq.bqIvfTopK(e), Bq.IvfRecallFloor))
    .filter(i => indexes.contains(i._1))

  def inputs: Seq[(String, String)] = Seq("embeddings" -> corpus)

  def setup(c: Ctx, d: String): Unit = {
    n = 2000L
    dir = d
    corpus = s"$d/embeddings.parquet"
    new Gen(c.spark, c.seed).embeddings(n, 64, 16)
      .coalesce(1).write.mode("overwrite").parquet(corpus)
    c.info("vectors") = n
    c.info("dim") = 64
    c.info("centers") = 16
    c.info("probes_per_call") = (n + 49) / 50
    c.info("indexes") = Indexes.map(_._1)
  }

  private def emb(c: Ctx): DataFrame = c.spark.read.parquet(corpus)

  val last = scala.collection.mutable.Map[String, Array[(Long, Long)]]()

  private def search(c: Ctx, name: String, f: DataFrame => DataFrame): Unit = {
    val out = c.tr.span(s"operators.$name")(f(emb(c)))
    c.tr.probe {
      c.tr.event("ann", "op" -> c.tr.op, "index" -> name, "cached_partitions" ->
        c.spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum)
    }
    last(name) = out.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  private def release(c: Ctx): Unit = {
    val t = System.nanoTime()
    graft.Caching.releaseAll(c.spark, blocking = true)
    c.sample("harness_release_s", (System.nanoTime() - t) / 1e9)
  }

  def warmup(c: Ctx): Unit =
    Indexes.foreach { case (name, f, _) => search(c, name, f); release(c) }

  def run(c: Ctx, until: Long): Unit = {
    val t0 = System.nanoTime()
    var probes = 0L
    var i = 0
    while (System.nanoTime() < until) {
      val (name, f, _) = Indexes(i % Indexes.size)
      if (c.op(name, s"search_s.$name")(search(c, name, f)).nonEmpty)
        probes += (n + 49) / 50
      release(c)
      i += 1
    }
    c.sample("probes_per_s", probes / ((System.nanoTime() - t0) / 1e9))
    c.info("searches") = i
  }

  def verify(c: Ctx): Unit = {
    import c.spark.implicits._
    val truth = Similarity.bruteForceTopK(emb(c), 5).select("probe_id", "neighbor_id")
      .persist()
    val truthPairs = truth.collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    var hits = 0L
    var total = 0L
    val counts = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
    Indexes.foreach { case (name, _, floor) =>
      last.get(name) match {
        case None => c.check(s"ann.recall.$name", ok = false, "no completed search")
        case Some(pairs) =>
          val (h, t) = graft.Dist.hitsAndTotal(
            pairs.toSeq.toDF("probe_id", "neighbor_id"), truth)
          val r = if (t == 0) 1.0 else h.toDouble / t
          hits += h
          total += t
          counts(name) = Map("hits" -> h, "total" -> t,
            "pairs" -> pairs.map(p => Seq(p._1, p._2)).toSeq)
          c.sample(s"recall.$name", r)
          c.check(s"ann.recall.$name", r >= floor, f"recall@5 $r%.4f, floor $floor")
      }
    }
    truth.unpersist()
    c.sample("recall_at_k", if (total == 0) 0.0 else hits.toDouble / total)
    // the searches and the exact neighbours, for the recount in checks.py
    val f = s"$dir/ann_results.json"
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json(Map("truth" -> truthPairs.toSeq, "indexes" -> counts))) finally w.close()
    c.info("ann_results") = f
  }
}
