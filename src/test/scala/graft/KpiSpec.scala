package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Kpi

object TestSession {
  lazy val spark: SparkSession = Session.start(cpus = 4, warehouseDir =
    Some(java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
  val sf: String = "/root/testdata/sf0.001"
}

/** Semantics fine print from SURVEY.md §2.2 — each clause is a test. */
class KpiSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private val products = Seq((1L, "sku1", 1.0, "CAT_A", 2.0), (2L, "sku2", 1.0, "CAT_B", 2.0))
    .toDF("id", "sku", "cost", "category", "retail_price")

  // order 10: two items, one returned; order 20: no items; order 30 returned.
  private val orders = Seq(
    (10L, 100L, ts("2024-01-01"), None: Option[Timestamp]),
    (20L, 200L, ts("2024-01-01"), Some(ts("2024-01-05"))),
    (30L, 100L, ts("2024-01-02"), Some(ts("2024-01-06")))
  ).toDF("order_id", "user_id", "created_at", "returned_at")

  private val items = Seq(
    (10L, 1L, 10.0, Some(ts("2024-01-03")), ts("2024-01-01")),
    (10L, 2L, 30.0, None: Option[Timestamp], ts("2024-01-01")),
    (30L, 1L, 5.0, None: Option[Timestamp], ts("2024-01-09"))
  ).toDF("order_id", "product_id", "sale_price", "returned_at", "created_at")

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("consolidated: left joins keep unmatched items; flags are 0/1 ints") {
    val c = Kpi.consolidated(products, orders, items).cache()
    assert(c.count() == 3) // item grain
    val r = c.filter($"order_id" === 10L && $"product_id" === 1L).head()
    assert(r.getAs[String]("category") == "CAT_A")
    assert(r.getAs[Int]("returned_item_flag") == 1)
    assert(r.getAs[Int]("returned_order_flag") == 0)
    assert(r.getAs[Date]("order_date") == Date.valueOf("2024-01-01"))
  }

  test("category KPIs: avg_order_value is item-grain avg(sale_price) (§2.2.1)") {
    val k = Kpi.categoryKpis(Kpi.consolidated(products, orders, items))
    val catA = k.filter($"category" === "CAT_A" && $"order_date" === Date.valueOf("2024-01-01")).head()
    assert(catA.getAs[Double]("daily_revenue") == 10.0)
    assert(catA.getAs[Double]("avg_order_value") == 10.0)
    assert(catA.getAs[Double]("avg_return_rate") == 1.0) // the single CAT_A item was returned
  }

  test("daily KPIs: itemless orders count; items counted as rows by item date (§2.2.3/4)") {
    val k = Kpi.orderKpis(orders, items).cache()
    val d1 = k.filter($"date_key" === Date.valueOf("2024-01-01")).head()
    // orders 10 and 20 on day 1; order 20 has no items → revenue 0 survives
    assert(d1.getAs[Long]("total_orders") == 2L)
    assert(d1.getAs[Double]("total_revenue") == 40.0)
    assert(d1.getAs[Long]("unique_customers") == 2L)
    assert(d1.getAs[Double]("return_rate") == 0.5) // order 20 returned, order 10 not
    // both items of order 10 carry item created_at 2024-01-01 → 2 rows
    assert(d1.getAs[Int]("total_items_sold") == 2)
    // day 2: order 30 exists but its item shipped 2024-01-09 → items 0 via fillna
    val d2 = k.filter($"date_key" === Date.valueOf("2024-01-02")).head()
    assert(d2.getAs[Int]("total_items_sold") == 0)
    assert(d2.getAs[Double]("total_revenue") == 5.0)
  }

  test("optional returned_at synthesized as typed null when absent (P6)") {
    val ordersNoRet = orders.drop("returned_at")
    val itemsNoRet = items.drop("returned_at")
    val c = Kpi.consolidated(products, ordersNoRet, itemsNoRet)
    assert(c.select("returned_item_flag", "returned_order_flag").distinct().collect()
      .forall(r => r.getInt(0) == 0 && r.getInt(1) == 0))
  }

  test("fulfillment lag: month-grain min/avg/max of ship-minus-order days") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val orders = Seq(
      (1L, 10L, t("2024-01-01 00:00:00"), Option.empty[Timestamp]),
      (2L, 11L, t("2024-02-05 00:00:00"), Option.empty[Timestamp])
    ).toDF("order_id", "user_id", "created_at", "returned_at")
    val items = Seq(
      (1L, 100L, 5.0, Option.empty[Timestamp], t("2024-01-03 00:00:00")), // +2 d
      (1L, 101L, 5.0, Option.empty[Timestamp], t("2024-01-05 00:00:00")), // +4 d
      (2L, 102L, 5.0, Option.empty[Timestamp], t("2024-02-05 00:00:00"))  // same day
    ).toDF("order_id", "product_id", "sale_price", "returned_at", "created_at")
    val out = Kpi.fulfillmentLag(orders, items).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("min_lag_days"),
          r.getAs[Long]("max_lag_days"), r.getAs[Double]("avg_lag_days")))).toMap
    assert(out == Map(
      "2024-01-01" -> ((2L, 2L, 4L, 3.0)),
      "2024-02-01" -> ((1L, 0L, 0L, 0.0))))
  }

  test("supplier return rate: volume floor applies, rate is exact division") {
    import spark.implicits._
    val li = ((1 to 60).map(i => (1L, if (i <= 6) "R" else "N")) ++
      (1 to 10).map(_ => (2L, "R"))).toDF("l_suppkey", "l_returnflag")
    val sup = Seq((1L, "Acme"), (2L, "Tiny")).toDF("s_suppkey", "s_name")
    val out = Kpi.supplierReturnRate(li, sup).collect()
      .map(r => (r.getAs[Long]("supplier_id"), r.getAs[String]("supplier"),
        r.getAs[Long]("n_items"), r.getAs[Long]("n_returned"),
        r.getAs[Double]("return_rate")))
    // supplier 2 is under the 50-item floor despite a 100% return rate
    assert(out.toSeq == Seq((1L, "Acme", 60L, 6L, 0.1)))
  }

  test("incremental date filter prunes to target dates (F1/§2.2.5)") {
    val k = Kpi.categoryKpis(Kpi.consolidated(products, orders, items),
      Some(Seq(Date.valueOf("2024-01-02"))))
    assert(k.select("order_date").distinct().collect().map(_.getDate(0)).toSeq ==
      Seq(Date.valueOf("2024-01-02")))
  }

  test("incremental recompute is idempotent: same dates → same rows (§2.2.5)") {
    val sf = TestSession.sf
    val a = Kpi.categoryKpis(Kpi.consolidatedOf(spark, sf), Some(Kpi.incrementalDates))
    val b = Kpi.categoryKpis(Kpi.consolidatedOf(spark, sf), Some(Kpi.incrementalDates))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
