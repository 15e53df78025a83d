package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture readers + the reference's domain views.
  *
  * The reference pipeline (reference: ecs/transformation/transform_task.py:159-211)
  * operates on three CSV tables `products / orders / order_items`; our engine derives
  * equivalent views from the TPC-H-ish parquet fixtures per FIXTURES.md §3 so every
  * operator can be oracle-checked by DuckDB over the same parquet.
  *
  * All views are pure column-level projections — Catalyst prunes them into the
  * parquet scan (ReadSchema), so at 100 TB only the referenced columns are read.
  */
object Tables {

  val fixtureNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fixture table, its schema resolved once per content stamp
    * ([[ArtifactStore.readParquet]]).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ArtifactStore.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet's `ts` encoding has varied across fixture generations:
    * TIMESTAMP(NANOS) (which Spark 4's parquet reader only accepts as a raw
    * long under `nanosAsLong`) and plain timestamp[us]. Adapt to whatever the
    * file actually stores instead of hard-coding one encoding:
    *   - LongType      → legacy nanos-as-long; rebuild the µs timestamp (the
    *                     fixture's ns values are µs-aligned, so lossless).
    *   - Timestamp/NTZ → native µs read; normalize NTZ to TimestampType, an
    *                     identity on the wall-clock under the UTC session TZ,
    *                     so every downstream op sees one `ts` type.
    * Both paths match DuckDB's `CAST(ts AS TIMESTAMP)` bit-for-bit.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected long (legacy nanos) or a timestamp type")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // --------------------------------------------------------------------------
  // Domain views (reference contract: ecs/validation/validate_task.py:14-18)
  // --------------------------------------------------------------------------

  /** products(id, sku, cost, category, retail_price) ⟵ part.
    * Reference required columns: validate_task.py:15.
    */
  def products(s: SparkSession, d: String): DataFrame =
    part(s, d).select(
      col("p_partkey").as("id"),
      col("p_name").as("sku"),
      (col("p_retailprice") * 0.6).as("cost"),
      col("p_type").as("category"),
      col("p_retailprice").as("retail_price"))

  /** Matching DuckDB CTE body for [[products]]. */
  val productsSql: String =
    """SELECT p_partkey AS id, p_name AS sku, p_retailprice * 0.6 AS cost,
      |       p_type AS category, p_retailprice AS retail_price
      |FROM part""".stripMargin

  /** orders(order_id, user_id, created_at [, returned_at]) ⟵ orders.
    * `returned_at` proxy: finished orders (o_orderstatus='F') count as returned —
    * the fixture has no 'R' status, and the reference only consults
    * `returned_at IS NOT NULL` (transform_task.py:204,207).
    */
  def ordersDomain(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
      col("o_orderkey").as("order_id"),
      col("o_custkey").as("user_id"),
      col("o_orderdate").as("created_at"),
      when(col("o_orderstatus") === "F", col("o_orderdate")).as("returned_at"))

  val ordersDomainSql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS user_id, o_orderdate AS created_at,
      |       CASE WHEN o_orderstatus = 'F' THEN o_orderdate END AS returned_at
      |FROM orders""".stripMargin

  /** order_items(order_id, product_id, sale_price [, returned_at, created_at]) ⟵ lineitem.
    * `sale_price` = extendedprice net of discount; `returned_at` proxy from
    * l_returnflag='R'; item-level `created_at` = l_shipdate (the reference KPI code
    * assumes an item-level created_at: transform_task.py:254).
    */
  def orderItems(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
      col("l_orderkey").as("order_id"),
      col("l_partkey").as("product_id"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sale_price"),
      when(col("l_returnflag") === "R", col("l_shipdate")).as("returned_at"),
      col("l_shipdate").as("created_at"))

  val orderItemsSql: String =
    """SELECT l_orderkey AS order_id, l_partkey AS product_id,
      |       l_extendedprice * (1.0 - l_discount) AS sale_price,
      |       CASE WHEN l_returnflag = 'R' THEN l_shipdate END AS returned_at,
      |       l_shipdate AS created_at
      |FROM lineitem""".stripMargin

  /** Shared WITH-clause prefix for oracle SQL over the domain views. */
  val domainCtes: String =
    s"""WITH products AS ($productsSql),
       |orders_v AS ($ordersDomainSql),
       |order_items AS ($orderItemsSql)""".stripMargin
}
