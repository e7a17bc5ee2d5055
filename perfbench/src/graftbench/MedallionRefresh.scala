package graftbench

import org.apache.spark.sql.DataFrame

import graft.operators.{Cdc, Gold, Medallion}
import graft.plans.Pipeline

/** The reference pipeline: repeated full refreshes of the medallion DAG
  * (5 silver tables, orders_enriched, 2 gold views, SCD1 and SCD2),
  * landing every table.
  */
final class MedallionRefresh extends Workload {
  var dir = ""
  var in = ""
  var refreshes = 0

  val Tables = Seq("orders", "lineitem", "customer", "nation", "region", "events")

  /** DAG table → the registered oracle SQL that verifies it (the same
    * pairing `Pipeline` uses for its manifest oracle).
    */
  val Oracles: Map[String, String] = Map(
    "silver_orders" -> Medallion.oracles("silver_orders"),
    "silver_lineitem" -> Medallion.oracles("silver_lineitem"),
    "silver_customers" -> Medallion.oracles("silver_customers"),
    "silver_payments" -> Medallion.oracles("silver_payments"),
    "silver_reviews" -> Medallion.oracles("silver_reviews"),
    "silver_orders_enriched" -> Medallion.oracles("silver_orders_enriched"),
    "gold_daily_orders" -> Gold.oracles("gold_daily_orders"),
    "gold_monthly_orders" -> Gold.oracles("gold_monthly_orders"),
    "scd1_current" -> Cdc.oracles("cdc_scd1_current"),
    "scd2_history" -> Cdc.oracles("cdc_scd2_history"))

  def inputs: Seq[(String, String)] = Tables.map(t => t -> s"$in/$t.parquet")

  def setup(c: Ctx, d: String): Unit = {
    val g = new Gen(c.spark, c.seed)
    val orders = 15000L
    val events = 10000L
    val keep = 0.9
    dir = d
    in = s"$d/in"
    // a seed-keyed sample of ~90% of the facts
    def sample(df: DataFrame, salt: Int, key: String*): DataFrame =
      df.filter(g.unit(salt, key.map(org.apache.spark.sql.functions.col): _*) < keep)
    val frames = Map(
      "orders" -> sample(g.orders(orders, orders / 10), 501, "o_orderkey"),
      "lineitem" -> sample(g.lineitem(orders), 502, "l_orderkey", "l_linenumber"),
      "customer" -> g.customer(orders / 10),
      "nation" -> g.nation(),
      "region" -> g.region(),
      "events" -> sample(g.events(events, events / 66), 503, "event_id"))
    Tables.foreach(t => frames(t).coalesce(1).write.mode("overwrite").parquet(s"$in/$t.parquet"))
    c.info("orders") = orders
    c.info("lineitem") = orders * 4
    c.info("events") = events
    c.info("sample_pct") = keep * 100
  }

  private def refresh(c: Ctx): Seq[Pipeline.NodeReport] = {
    refreshes += 1
    val lake = s"$dir/lake$refreshes"
    val (_, reports) = c.tr.span("plans.Pipeline.runWithReport") {
      Pipeline.runWithReport(c.spark, Pipeline.medallion(in), Some(lake),
        Pipeline.RunPolicy(mode = Pipeline.FullRefresh))
    }
    val bad = reports.filter(_.status != "ok")
    require(bad.isEmpty, "tables not landed: " +
      bad.map(r => s"${r.name}=${r.status} ${r.error.getOrElse("")}").mkString("; "))
    c.tr.event("refresh", "op" -> c.tr.op, "tables" -> reports.size,
      "retries" -> reports.map(_.attempts - 1).sum)
    reports
  }

  private def release(c: Ctx): Unit = {
    val t = System.nanoTime()
    graft.Caching.releaseAll(c.spark, blocking = true)
    c.sample("harness_release_s", (System.nanoTime() - t) / 1e9)
    // keep only the latest landing; the oracle checks it
    if (refreshes > 1) org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/lake${refreshes - 1}"))
  }

  def warmup(c: Ctx): Unit = {
    refresh(c)
    release(c)
  }

  def run(c: Ctx, until: Long): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (System.nanoTime() < until) {
      if (c.op("refresh", "refresh_s")(refresh(c)).nonEmpty) n += 1
      release(c)
    }
    c.sample("refreshes_per_s", n / ((System.nanoTime() - t0) / 1e9))
    c.info("refreshes") = n
  }

  def verify(c: Ctx): Unit = {
    c.info("inputs_dir") = in
    c.info("lake") = s"$dir/lake$refreshes"
    c.info("landed_files") = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(s"$dir/lake$refreshes"), Array("parquet"), true).size
    c.info("layers") = Pipeline.medallion(in).map(d => d.name -> d.layer).toMap
    c.info("oracles") = Oracles
  }
}
