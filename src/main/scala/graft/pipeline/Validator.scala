package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ForkJoin
import graft.operators.Quality
import graft.sources.Csv

/** Batch validation subsystem (reference: ecs/validation/validate_task.py).
  *
  * Re-expressed Spark-first: the reference loads every file into pandas on one
  * node; here each check is a distributed plan (schema check is metadata-only,
  * null counts are one aggregate, FK checks are left_anti joins) so the same
  * validation runs unchanged over 100 TB.
  *
  * Protocol preserved exactly (SURVEY.md §2.2.6-8):
  *  - per-file checks: required columns (V1), readability (V2), critical
  *    nulls (A5);
  *  - batch-level referential integrity (J5) over the unioned parts;
  *  - ANY failure rejects the WHOLE batch (validate_task.py:209-215) with a
  *    first-5 violating-ids report (:193-195).
  */
object Validator {

  /** Table contract: required columns double as critical-null columns
    * (reference validate_task.py:14-25).
    */
  final case class Contract(table: String, required: Seq[String])

  val productsContract: Contract = Contract("products", Seq("id", "sku", "cost", "category", "retail_price"))
  val ordersContract: Contract = Contract("orders", Seq("order_id", "user_id", "created_at"))
  val orderItemsContract: Contract =
    // `created_at` added vs the reference: its KPI layer silently assumes it
    // (transform_task.py:254) while validation doesn't require it — we make
    // the dependency explicit (SURVEY.md §2.2.3).
    Contract("order_items", Seq("order_id", "product_id", "sale_price", "created_at"))

  final case class Rejection(file: String, reason: String)

  final case class Report(rejections: Seq[Rejection]) {
    def ok: Boolean = rejections.isEmpty
  }

  /** V1 + A5 on one file: header presence from a header-only read, then a
    * single null-count aggregate over the typed frame (built only once the
    * header has passed, so an unreadable file is a rejection, not a crash).
    */
  def validateFile(spark: SparkSession, file: String, df: => DataFrame,
      contract: Contract): Option[Rejection] = {
    val headerCols =
      try Csv.readHeaderColumns(spark, file)
      catch { case e: Exception => return Some(Rejection(file, s"Unreadable file: ${e.getMessage}")) }
    if (headerCols.isEmpty || (headerCols.length == 1 && headerCols.head.startsWith("_c")))
      return Some(Rejection(file, "Empty or headerless file"))
    val missing = contract.required.filterNot(headerCols.toSet)
    if (missing.nonEmpty)
      return Some(Rejection(file, s"Missing required columns: ${missing.mkString(", ")}"))
    val counts = Quality.nullCounts(df, contract.required).head()
    val withNulls = contract.required.zipWithIndex
      .map { case (c, i) => c -> counts.getLong(i) }.filter(_._2 > 0)
    if (withNulls.nonEmpty)
      Some(Rejection(file,
        "Null values in critical columns: " +
          withNulls.map { case (c, n) => s"$c=$n" }.mkString(", ")))
    else None
  }

  /** J5 batch-level referential integrity: order_items.order_id ⊆ orders,
    * order_items.product_id ⊆ products. Violations reject the whole batch
    * with the first 5 offending ids per FK (reference validate_task.py:179-217).
    */
  def validateIntegrity(products: DataFrame, orders: DataFrame,
      items: DataFrame): Seq[String] = {
    def firstFive(child: DataFrame, key: String, parent: DataFrame, pkey: String): Seq[Long] =
      Quality.fkViolationReport(child, key, parent, pkey, 5)
        .collect().map(_.getLong(0)).toSeq
    // the two FK checks are independent: run them concurrently
    val Seq(orphanOrders, orphanProducts) = ForkJoin.all(items.sparkSession)(
      () => firstFive(items, "order_id", orders, "order_id"),
      () => firstFive(items, "product_id", products, "id"))
    (if (orphanOrders.nonEmpty)
      Seq(s"order_items.order_id not in orders (first 5): ${orphanOrders.mkString(", ")}")
    else Nil) ++
      (if (orphanProducts.nonEmpty)
        Seq(s"order_items.product_id not in products (first 5): ${orphanProducts.mkString(", ")}")
      else Nil)
  }
}
