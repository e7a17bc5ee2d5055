package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded synthetic inputs shaped like the sf0.1 testdata tables (same
  * column names, types and value domains). Every value is a pure
  * function of (seed, salt, row id), so one seed always yields the same
  * rows whatever the partitioning, and two seeds yield different rows.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, n). */
  def uni(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))

  /** Uniform double in [0, 1). */
  def unit(salt: Int, cs: Column*): Column = uni(salt, 1000000L, cs: _*) / 1e6

  private def pick(salt: Int, vs: Seq[String], cs: Column*): Column =
    element_at(array(vs.map(lit): _*), (uni(salt, vs.size.toLong, cs: _*) + 1).cast("int"))

  /** A two-decimal amount in [lo, hi) cents. */
  private def money(salt: Int, lo: Long, hi: Long, cs: Column*): Column =
    (uni(salt, hi - lo, cs: _*) + lit(lo)) / 100.0

  private def day(base: String, salt: Int, days: Long, cs: Column*): Column =
    date_add(lit(base).cast("date"), uni(salt, days, cs: _*).cast("int"))

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Orders columns for the row identified by `id`, keyed `key`. */
  def orderCols(id: Column, key: Column, custs: Long, salt: Int = 0): Seq[Column] = Seq(
    key.as("o_orderkey"),
    uni(salt + 1, custs, id).as("o_custkey"),
    pick(salt + 2, Seq("O", "F", "P"), id).as("o_orderstatus"),
    money(salt + 3, 100191L, 49999318L, id).as("o_totalprice"),
    day("1995-01-01", salt + 4, 2404L, id).cast(TimestampNTZType).as("o_orderdate"),
    pick(salt + 5, Priorities, id).as("o_orderpriority"))

  def orders(n: Long, custs: Long): DataFrame =
    spark.range(n).select(orderCols(col("id"), col("id"), custs): _*)

  /** Lineitem rows: four lines per order, unique (l_orderkey, l_linenumber). */
  def lineitem(orders: Long): DataFrame =
    spark.range(orders * 4).select(lineitemCols(col("id"), 0): _*)

  def lineitemCols(id: Column, salt: Int): Seq[Column] = Seq(
    (id.divide(4)).cast("long").as("l_orderkey"),
    uni(salt + 11, 20000L, id).as("l_partkey"),
    uni(salt + 12, 1000L, id).as("l_suppkey"),
    (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
    (uni(salt + 13, 50L, id) + 1).cast("double").as("l_quantity"),
    money(salt + 14, 90000L, 10494950L, id).as("l_extendedprice"),
    (uni(salt + 15, 11L, id) / 100.0).as("l_discount"),
    (uni(salt + 16, 9L, id) / 100.0).as("l_tax"),
    pick(salt + 17, Seq("A", "N", "R"), id).as("l_returnflag"),
    pick(salt + 18, Seq("O", "F"), id).as("l_linestatus"),
    day("1995-01-02", salt + 19, 2525L, id).cast(TimestampNTZType).as("l_shipdate"))

  def customer(n: Long): DataFrame = spark.range(n).select(
    col("id").as("c_custkey"),
    concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
    uni(21, 25L, col("id")).cast("int").as("c_nationkey"),
    money(22, -99999L, 1000000L, col("id")).as("c_acctbal"),
    pick(23, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      col("id")).as("c_mktsegment"))

  def nation(): DataFrame = spark.range(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
    pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))

  def region(): DataFrame = spark.range(5).select(
    col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  /** Events over 30 days of January 2024, ids in arrival order. */
  def events(n: Long, users: Long): DataFrame = spark.range(n).select(
    col("id").as("event_id"),
    timestamp_micros(lit(1704067200000000L) +
      (col("id") * (30L * 86400L * 1000000L / math.max(n, 1L))) +
      uni(31, 60000000L, col("id"))).cast(TimestampNTZType).as("ts"),
    uni(32, users, col("id")).as("user_id"),
    pick(33, Seq("click", "error", "purchase", "signup", "view"), col("id")).as("event_type"),
    (uni(34, 50000L, col("id")) / 100.0).as("value"),
    concat(lit("{\"k\": "), uni(35, 100L, col("id")).cast("string"), lit("}")).as("props"))

  /** A clustered corpus: `centers` seeded unit-variance centres in `dim`
    * dimensions, each vector its centre plus small seeded noise.
    */
  def embeddings(n: Long, dim: Int, centers: Int): DataFrame = {
    val c = uni(41, centers.toLong, col("id"))
    def gauss(salt: Int, a: Column, b: Column): Column =
      (unit(salt, a, b) + unit(salt + 1, a, b) + unit(salt + 2, a, b) - 1.5) * 2.0
    spark.range(n).select(col("id").as("vec_id"), c.as("cid"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (gauss(42, col("cid"), j) + gauss(45, col("vec_id"), j) * 0.25)
            .cast("float")).as("embedding"),
        col("cid").cast("int").as("label"))
  }
}
