package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, Validator}
import graft.sinks.KeyValueSink

/** Executor-side probes for the concurrency tests. In local mode tasks run
  * in this JVM, so they and the test see the same counters.
  */
object ForkJoinProbe {
  val started = new AtomicInteger(0)
  val running = new AtomicInteger(0)

  /** A slow write: sleeps 1.5 s per row, counted while it runs. */
  val slow: Double => Double = { x =>
    started.incrementAndGet(); running.incrementAndGet()
    try { Thread.sleep(1500); x } finally running.decrementAndGet()
  }

  /** A failing write: throws once a slow sibling is running (or after 10 s). */
  val failing: String => String = { _ =>
    val t0 = System.nanoTime()
    while (started.get == 0 && System.nanoTime() - t0 < 10e9) Thread.sleep(10)
    throw new IllegalStateException("planted write failure")
  }

  /** A hung task: blocks until it is killed (or 60 s pass). */
  val hang: Int => Int = { x =>
    val t0 = System.nanoTime()
    while (!TaskContext.get().isInterrupted() && System.nanoTime() - t0 < 60e9) Thread.sleep(10)
    x
  }
}

/** End-to-end batch lifecycle tests (reference README.md:330-453 "Simulation
  * Steps", automated — the reference has no tests at all, SURVEY.md §5.1).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def write(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private val productsCsv =
    """id,sku,cost,category,retail_price
      |1,sku1,1.0,CAT_A,2.0
      |2,sku2,1.0,CAT_B,2.0""".stripMargin

  private val ordersCsv =
    """order_id,user_id,created_at,returned_at
      |10,100,2024-01-01 00:00:00,
      |20,200,2024-01-01 00:00:00,2024-01-05 00:00:00""".stripMargin

  private val itemsCsv =
    """order_id,product_id,sale_price,returned_at,created_at
      |10,1,10.0,,2024-01-01 00:00:00
      |10,2,30.0,2024-01-03 00:00:00,2024-01-01 00:00:00
      |20,1,5.0,,2024-01-01 00:00:00""".stripMargin

  private def setupBatch(tag: String): Path = {
    val root = Files.createTempDirectory(s"graft-pipe-$tag")
    write(root, "raw/products/products.csv", productsCsv)
    write(root, "raw/orders/2024-01-01/orders_part0.csv", ordersCsv)
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv", itemsCsv)
    root
  }

  test("happy path: validate → transform → archive; KPIs written and idempotent") {
    val root = setupBatch("ok")
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    assert(r.isInstanceOf[Pipeline.Succeeded], s"got $r")

    // lifecycle: raw empty, facts archived to processed/, products in validated/
    assert(!Files.exists(root.resolve("raw/orders/2024-01-01/orders_part0.csv")))
    assert(Files.exists(root.resolve("processed/orders/2024-01-01/orders_part0.csv")))
    assert(Files.exists(root.resolve("validated/products/products.csv")))

    val cat = KeyValueSink.readTable(spark, s"$root/kpis/category_kpis")
    assert(cat.count() == 2) // CAT_A and CAT_B on 2024-01-01
    val daily = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis").collect()
    assert(daily.length == 1)
    assert(daily.head.getAs[Long]("total_orders") == 2L)
    assert(daily.head.getAs[Double]("total_revenue") == 45.0)

    // idempotent upsert: re-running the same date overwrites, not duplicates
    write(root, "raw/products/products.csv", productsCsv)
    write(root, "raw/orders/2024-01-01/orders_part0.csv", ordersCsv)
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv", itemsCsv)
    val r2 = Pipeline.run(spark, root.toString, "2024-01-01")
    assert(r2.isInstanceOf[Pipeline.Succeeded])
    assert(KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis").count() == 1)
  }

  test("multi-batch incremental: new dates append, recomputed dates overwrite, others untouched") {
    val root = setupBatch("multi")
    assert(Pipeline.run(spark, root.toString, "2024-01-01").isInstanceOf[Pipeline.Succeeded])
    val day1 = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
      .filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-01").collect()
    assert(day1.length == 1 && day1.head.getAs[Double]("total_revenue") == 45.0)

    // batch 2: a different date arrives → its partition appends, day 1 stays
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00""".stripMargin)
    write(root, "raw/products/products.csv", productsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-02").isInstanceOf[Pipeline.Succeeded])
    val daily = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
    assert(daily.count() == 2)
    assert(daily.filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-01")
      .head().getAs[Double]("total_revenue") == 45.0) // untouched

    // batch 3: day 2 REARRIVES with corrected data → only day 2 overwritten
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,
        |31,301,2024-01-02 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00
        |31,2,13.0,,2024-01-02 00:00:00""".stripMargin)
    write(root, "raw/products/products.csv", productsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-02").isInstanceOf[Pipeline.Succeeded])
    val after = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
    assert(after.count() == 2)
    val d2 = after.filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-02").head()
    assert(d2.getAs[Long]("total_orders") == 2L && d2.getAs[Double]("total_revenue") == 20.0)
    assert(after.filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-01")
      .head().getAs[Double]("total_revenue") == 45.0)
  }

  test("straggler date in a later batch AUGMENTS the earlier batch's facts, not replaces them") {
    val root = setupBatch("straggler")
    assert(Pipeline.run(spark, root.toString, "2024-01-01").isInstanceOf[Pipeline.Succeeded])

    // batch 2 carries day-2 data PLUS a straggler order dated day 1
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,
        |40,400,2024-01-01 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00
        |40,2,100.0,,2024-01-01 00:00:00""".stripMargin)
    write(root, "raw/products/products.csv", productsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-02").isInstanceOf[Pipeline.Succeeded])

    // day 1 recomputed from the UNION of batch 1's facts and the straggler —
    // batch 1's day-1 partitions must survive the day-1 rewrite
    val daily = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
    val d1 = daily.filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-01").head()
    assert(d1.getAs[Long]("total_orders") == 3L, "batch 1's day-1 orders were lost")
    assert(d1.getAs[Double]("total_revenue") == 145.0) // 45 (batch 1) + 100 (straggler)
    assert(d1.getAs[Int]("total_items_sold") == 4)     // 3 (batch 1) + 1 (straggler)

    // rerun of batch 2 stays idempotent: its old layers replaced, day 1 stable
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,
        |40,400,2024-01-01 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00
        |40,2,100.0,,2024-01-01 00:00:00""".stripMargin)
    write(root, "raw/products/products.csv", productsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-02").isInstanceOf[Pipeline.Succeeded])
    val d1again = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
      .filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-01").head()
    assert(d1again.getAs[Long]("total_orders") == 3L
      && d1again.getAs[Double]("total_revenue") == 145.0)

    // corrected rerun WITHOUT the straggler drops its contribution entirely
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00""".stripMargin)
    write(root, "raw/products/products.csv", productsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-02").isInstanceOf[Pipeline.Succeeded])
    // note: day 1 is NOT in the corrected batch's date set, so its KPI row
    // keeps the last computed value — but the FACTS are clean: a manual
    // day-1 recompute no longer sees order 40
    val facts = graft.sources.FactStore.ordersEnriched(spark, s"$root/facts")
    assert(facts.filter(org.apache.spark.sql.functions.col("order_id") === 40L).count() == 0,
      "rerun without the straggler must drop its old layer")
  }

  test("second batch date succeeds WITHOUT re-delivered products: validated master reused") {
    val root = setupBatch("prodmaster")
    assert(Pipeline.runTracked(spark, root.toString, "2024-01-01")
      .isInstanceOf[Pipeline.Succeeded])
    // day 2 delivers ONLY facts — master data arrived once, on day 1
    write(root, "raw/orders/2024-01-02/orders_part0.csv",
      """order_id,user_id,created_at,returned_at
        |30,300,2024-01-02 00:00:00,""".stripMargin)
    write(root, "raw/order_items/2024-01-02/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |30,1,7.0,,2024-01-02 00:00:00""".stripMargin)
    val r = Pipeline.runTracked(spark, root.toString, "2024-01-02")
    assert(r.isInstanceOf[Pipeline.Succeeded], s"day-2 batch without products got $r")
    // the master survives in validated/ for batch 3; day-2 KPIs landed
    assert(Files.exists(root.resolve("validated/products/products.csv")))
    val d2 = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis")
      .filter(org.apache.spark.sql.functions.col("date_key") === "2024-01-02").collect()
    assert(d2.length == 1 && d2.head.getAs[Long]("total_orders") == 1L)
  }

  test("cross-batch re-delivery of an order is rejected loudly at the store") {
    import graft.sources.FactStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-redeliver").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String) =
      Seq((java.sql.Date.valueOf(d), 1L)).toDF("date_key", "total_items_sold_daily")

    FactStore.upsertBatch("2024-01-01",
      cons(10L -> "2024-01-01", 20L -> "2024-01-01"),
      oe(10L -> "2024-01-01", 20L -> "2024-01-01"), idaily("2024-01-01"), dir)
    // disjoint later batch (a straggler is a NEW order): fine
    FactStore.upsertBatch("2024-01-02",
      cons(30L -> "2024-01-01"), oe(30L -> "2024-01-01"), idaily("2024-01-01"), dir)
    // re-delivery of order 20 under a different batch id: loud failure, not
    // silently double-counted revenue
    val e = intercept[IllegalStateException] {
      FactStore.upsertBatch("2024-01-03",
        cons(20L -> "2024-01-01"), oe(20L -> "2024-01-01"), idaily("2024-01-01"), dir)
    }
    assert(e.getMessage.contains("re-delivers"))
    // rerun of the ORIGINAL batch id remains the sanctioned correction path
    FactStore.upsertBatch("2024-01-01",
      cons(10L -> "2024-01-01", 20L -> "2024-01-01"),
      oe(10L -> "2024-01-01", 20L -> "2024-01-01"), idaily("2024-01-01"), dir)
  }

  test("compact: seals layered history to one file per partition, reads unchanged") {
    import graft.sources.FactStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String, n: Long) =
      Seq((java.sql.Date.valueOf(d), n)).toDF("date_key", "total_items_sold_daily")

    // three batches layering two dates; a third date beyond the horizon
    FactStore.upsertBatch("b1", cons(1L -> "2024-01-01", 2L -> "2024-01-02"),
      oe(1L -> "2024-01-01", 2L -> "2024-01-02"), idaily("2024-01-01", 3L), dir)
    FactStore.upsertBatch("b2", cons(3L -> "2024-01-01"),
      oe(3L -> "2024-01-01"), idaily("2024-01-01", 2L), dir)
    FactStore.upsertBatch("b3", cons(4L -> "2024-01-05"),
      oe(4L -> "2024-01-05"), idaily("2024-01-05", 1L), dir)

    def snapshot() = FactStore.ordersEnriched(spark, dir)
      .select("order_id", "order_date", "order_revenue")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2))).toSet
    def itemsTotal() = FactStore.itemsDaily(spark, dir)
      .groupBy("date_key").sum("total_items_sold_daily")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val before = snapshot()
    val itemsBefore = itemsTotal()

    FactStore.compact(spark, dir, horizon = "2024-01-02")

    assert(snapshot() == before, "compaction must not change the row set")
    assert(itemsTotal() == itemsBefore)
    // 2024-01-01 had layers b1+b2 → now exactly one __sealed__ layer, 1 file
    val d1 = new java.io.File(s"$dir/orders_enriched/order_date=2024-01-01")
    assert(d1.listFiles().map(_.getName).toSeq == Seq(s"batch_id=${FactStore.SealedId}"))
    assert(new java.io.File(d1, s"batch_id=${FactStore.SealedId}")
      .listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // the beyond-horizon date keeps its batch layer untouched
    val d5 = new java.io.File(s"$dir/orders_enriched/order_date=2024-01-05")
    assert(d5.listFiles().map(_.getName).toSeq == Seq("batch_id=b3"))

    // idempotent: a second compact at the same horizon changes nothing
    FactStore.compact(spark, dir, horizon = "2024-01-02")
    assert(snapshot() == before)

    // a rerun of a sealed batch id is refused (its orders now live under
    // __sealed__, so the rewrite trips the cross-batch check and rolls back)
    val e = intercept[IllegalStateException] {
      FactStore.upsertBatch("b2", cons(3L -> "2024-01-01"),
        oe(3L -> "2024-01-01"), idaily("2024-01-01", 2L), dir)
    }
    assert(e.getMessage.contains("re-delivers"))
    assert(snapshot() == before, "failed rerun must roll its layers back out")
    // ingest may not impersonate the compactor
    intercept[IllegalArgumentException] {
      FactStore.upsertBatch(FactStore.SealedId, cons(9L -> "2024-01-09"),
        oe(9L -> "2024-01-09"), idaily("2024-01-09", 1L), dir)
    }
  }

  test("compact: rejected straddling rerun restores the batch's unsealed layers") {
    import graft.sources.FactStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-straddle").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String) =
      Seq((java.sql.Date.valueOf(d), 1L)).toDF("date_key", "total_items_sold_daily")

    // b1 delivers a straggler (01-01) and a current date (01-03)
    FactStore.upsertBatch("b1", cons(1L -> "2024-01-01", 2L -> "2024-01-03"),
      oe(1L -> "2024-01-01", 2L -> "2024-01-03"), idaily("2024-01-01"), dir)
    // the straggler date passes the retention horizon and is sealed
    FactStore.compact(spark, dir, horizon = "2024-01-01")
    def rows() = FactStore.ordersEnriched(spark, dir)
      .select("order_id", "order_date")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString)).toSet
    val before = rows()
    assert(before == Set((1L, "2024-01-01"), (2L, "2024-01-03")))
    // rerunning b1 now touches a sealed date → rejected — but its UNSEALED
    // 01-03 layer must survive the rejection (restored from the stash)
    val e = intercept[IllegalStateException] {
      FactStore.upsertBatch("b1", cons(1L -> "2024-01-01", 2L -> "2024-01-03"),
        oe(1L -> "2024-01-01", 2L -> "2024-01-03"), idaily("2024-01-01"), dir)
    }
    assert(e.getMessage.contains("re-delivers"))
    assert(rows() == before, "rejected rerun must leave the store byte-identical")
  }

  test("compact: crash recovery completes a half-swapped partition without touching other tables' stage") {
    import graft.sources.FactStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-crashrec").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String) =
      Seq((java.sql.Date.valueOf(d), 1L)).toDF("date_key", "total_items_sold_daily")
    FactStore.upsertBatch("b1", cons(1L -> "2024-01-01"),
      oe(1L -> "2024-01-01"), idaily("2024-01-01"), dir)
    FactStore.upsertBatch("b2", cons(2L -> "2024-01-01"),
      oe(2L -> "2024-01-01"), idaily("2024-01-01"), dir)
    val before = FactStore.ordersEnriched(spark, dir)
      .select("order_id").collect().map(_.getLong(0)).toSet

    // simulate a crash mid-swap on orders_enriched: stage the merged
    // partition under .compact_tmp, delete the live partition, "crash"
    val table = new java.io.File(s"$dir/orders_enriched")
    val staged = new java.io.File(s"$dir/.compact_tmp/orders_enriched/order_date=2024-01-01/batch_id=${FactStore.SealedId}")
    staged.mkdirs()
    val live = new java.io.File(table, "order_date=2024-01-01")
    // move every layer's files into the fake staged merge (same rows)
    live.listFiles().foreach { layer =>
      layer.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath, new java.io.File(staged, f.getName).toPath)
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(live)

    // next compact run must first complete the swap, then see nothing to do
    FactStore.compact(spark, dir, horizon = "2024-01-01")
    val after = FactStore.ordersEnriched(spark, dir)
      .select("order_id").collect().map(_.getLong(0)).toSet
    assert(after == before, s"recovered rows $after != $before")
    assert(!new java.io.File(s"$dir/.compact_tmp").exists()
      || new java.io.File(s"$dir/.compact_tmp").listFiles().isEmpty)
  }

  test("compact: pruned readers see pre-seal state through staging, post-seal after") {
    import graft.sources.FactStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compactvis").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String) =
      Seq((java.sql.Date.valueOf(d), 1L)).toDF("date_key", "total_items_sold_daily")
    FactStore.upsertBatch("b1", cons(1L -> "2024-01-01"),
      oe(1L -> "2024-01-01"), idaily("2024-01-01"), dir)
    FactStore.upsertBatch("b2", cons(2L -> "2024-01-01"),
      oe(2L -> "2024-01-01"), idaily("2024-01-01"), dir)
    def prunedRead() = FactStore.ordersEnriched(spark, dir)
      .filter($"order_date" === java.sql.Date.valueOf("2024-01-01"))
      .select("order_id").collect().map(_.getLong(0)).toSet
    val expected = prunedRead()
    assert(expected == Set(1L, 2L))
    // the staging phase dominates compaction wall-time: a reader anywhere in
    // it must get exactly the pre-seal rows through the still-defined catalog
    // table (the swap+sync tail is the documented single-writer boundary)
    val observed = scala.collection.mutable.ArrayBuffer[(String, Set[Long])]()
    FactStore.compactPhaseHook = (phase, table) =>
      if (phase == "staged" && table == "orders_enriched")
        observed += ((phase, prunedRead()))
    try FactStore.compact(spark, dir, horizon = "2024-01-01")
    finally FactStore.compactPhaseHook = (_, _) => ()
    assert(observed.toList == List(("staged", expected)),
      s"mid-compaction pruned read diverged: $observed")
    assert(prunedRead() == expected, "post-seal read must return the same rows")
  }

  test("tracker: crash after the trigger mark rolls back mark AND file moves (retryable)") {
    val root = setupBatch("trkcrash")
    // sabotage: a regular FILE where the fact store directory must go makes
    // the transform stage throw (works even when tests run as root, unlike
    // permission tricks)
    Files.writeString(root.resolve("facts"), "not a directory")
    intercept[Exception] { Pipeline.runTracked(spark, root.toString, "2024-01-01") }
    assert(!Files.exists(root.resolve("_tracker/2024-01-01.triggered")),
      "a crashed run must not leave the batch locked")
    assert(Files.exists(root.resolve("raw/orders/2024-01-01/orders_part0.csv")),
      "a crashed run must return the batch files to raw/")
    // remove the sabotage: the next poll retries end-to-end and succeeds
    Files.delete(root.resolve("facts"))
    assert(Pipeline.runTracked(spark, root.toString, "2024-01-01")
      .isInstanceOf[Pipeline.Succeeded])
  }

  test("missing required column rejects the whole batch with manifests") {
    val root = setupBatch("badcol")
    write(root, "raw/orders/2024-01-01/orders_part0.csv",
      "user_id,created_at\n100,2024-01-01 00:00:00")
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    val rej = r.asInstanceOf[Pipeline.Rejected]
    assert(rej.reasons.exists(_.reason.contains("Missing required columns: order_id")))
    // whole batch (including valid products) moved to invalid/ with manifests
    assert(Files.exists(root.resolve("invalid/products/products.csv")))
    assert(Files.exists(root.resolve("invalid/orders/2024-01-01/orders_part0.csv")))
    assert(Files.exists(root.resolve("invalid/products/products.csv_reason.json")))
    assert(!Files.exists(root.resolve("validated/products/products.csv")))
  }

  test("nulls in critical columns reject the batch") {
    val root = setupBatch("badnull")
    write(root, "raw/orders/2024-01-01/orders_part0.csv",
      "order_id,user_id,created_at\n10,100,\n20,200,2024-01-01 00:00:00")
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    val rej = r.asInstanceOf[Pipeline.Rejected]
    assert(rej.reasons.exists(_.reason.contains("Null values in critical columns: created_at=1")))
  }

  test("referential integrity violation rejects the batch, first 5 ids reported") {
    val root = setupBatch("badfk")
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv",
      """order_id,product_id,sale_price,returned_at,created_at
        |99,1,5.0,,2024-01-01 00:00:00
        |10,77,5.0,,2024-01-01 00:00:00""".stripMargin)
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    val rej = r.asInstanceOf[Pipeline.Rejected]
    assert(rej.reasons.exists(_.reason.contains("order_items.order_id not in orders (first 5): 99")))
    assert(rej.reasons.exists(_.reason.contains("order_items.product_id not in products (first 5): 77")))
  }

  test("incomplete batch reports what is missing and touches nothing") {
    val root = Files.createTempDirectory("graft-pipe-inc")
    write(root, "raw/products/products.csv", productsCsv)
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    val inc = r.asInstanceOf[Pipeline.Incomplete]
    assert(inc.missing.toSet == Set("orders for 2024-01-01", "order_items for 2024-01-01"))
  }

  test("retry wrapper retries with backoff then succeeds") {
    var calls = 0
    val out = Pipeline.withRetry(attempts = 3, initialDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    var calls2 = 0
    intercept[RuntimeException] {
      Pipeline.withRetry(attempts = 2, initialDelayMs = 1) { calls2 += 1; throw new RuntimeException("always") }
    }
    assert(calls2 == 2)
  }

  test("retry wrapper: hung stage times out, retries, then succeeds; all-hung fails loudly") {
    // first attempt wedges far past the deadline; the timeout interrupts it
    // and the second attempt answers — the batch survives a wedged FS call
    var calls = 0
    val out = Pipeline.withRetry(attempts = 2, initialDelayMs = 1, timeoutMs = 300) {
      calls += 1
      if (calls == 1) Thread.sleep(60000)
      "ok"
    }
    assert(out == "ok" && calls == 2)
    // every attempt hangs → terminal StageTimeoutException, never a block
    intercept[Pipeline.StageTimeoutException] {
      Pipeline.withRetry(attempts = 2, initialDelayMs = 1, timeoutMs = 100) {
        Thread.sleep(60000)
      }
    }
    // a stage's own failure surfaces as itself, not as a timeout artifact
    intercept[IllegalArgumentException] {
      Pipeline.withRetry(attempts = 1, initialDelayMs = 1, timeoutMs = 5000) {
        throw new IllegalArgumentException("stage bug")
      }
    }
  }

  test("terminal failure fires the alert sink; batch still compensates cleanly") {
    val root = setupBatch("alert")
    // same sabotage as the tracker-crash test: transform dies on a file
    // squatting on the fact store path
    Files.writeString(root.resolve("facts"), "not a directory")
    intercept[Exception] { Pipeline.run(spark, root.toString, "2024-01-01") }
    val alerts = Option(root.resolve("alerts").toFile.listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("pipeline_2024-01-01"))
    assert(alerts.nonEmpty, "a terminal failure must leave an alert artifact")
    val body = Files.readString(alerts.head.toPath)
    assert(body.contains("\"batch_date\": \"2024-01-01\"") && body.contains("error"))
    // compensation unaffected by the alert path: files returned to raw/
    assert(Files.exists(root.resolve("raw/orders/2024-01-01/orders_part0.csv")))
    // a REJECTED batch is a value, not a failure — no alert fires
    val root2 = setupBatch("alertrej")
    write(root2, "raw/orders/2024-01-01/orders_part0.csv",
      "user_id,created_at\n100,2024-01-01 00:00:00")
    Pipeline.run(spark, root2.toString, "2024-01-01")
    assert(!Files.exists(root2.resolve("alerts")), "rejection must not page anyone")
  }

  test("tracker: rerun of a completed batch is a no-op; re-arrived files untouched") {
    val root = setupBatch("trk")
    val r1 = Pipeline.runTracked(spark, root.toString, "2024-01-01")
    assert(r1.isInstanceOf[Pipeline.Succeeded], s"got $r1")
    assert(Files.exists(root.resolve("_tracker/2024-01-01.triggered")))

    // corrected data re-arrives AFTER the batch already triggered: the
    // exactly-once guard declines, raw files stay where they are
    write(root, "raw/orders/2024-01-01/orders_part0.csv", ordersCsv)
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv", itemsCsv)
    write(root, "raw/products/products.csv", productsCsv)
    val kpisBefore = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis").collect().toSeq
    val r2 = Pipeline.runTracked(spark, root.toString, "2024-01-01")
    assert(r2 == Pipeline.AlreadyTriggered("2024-01-01"))
    assert(Files.exists(root.resolve("raw/orders/2024-01-01/orders_part0.csv")),
      "guarded rerun must not consume raw files")
    assert(KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis").collect().toSeq == kpisBefore)

    // operator reset (the delete-the-ledger-item analog) re-admits the batch
    graft.pipeline.BatchTracker.reset(spark, root.toString, "2024-01-01")
    assert(Pipeline.runTracked(spark, root.toString, "2024-01-01")
      .isInstanceOf[Pipeline.Succeeded])
  }

  test("tracker: concurrent runs admit exactly one; ledger records arrivals and outcome") {
    val root = setupBatch("trkconc")
    // the guard itself: N racers, exactly one winner — ever
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val wins = Await.result(
      Future.sequence((1 to 16).map(_ => Future(
        graft.pipeline.BatchTracker.tryMarkTriggered(spark, root.toString, "2099-01-01")))),
      60.seconds).count(identity)
    assert(wins == 1, s"exactly-once guard admitted $wins callers")

    // full ledger cycle on the real batch
    val r = Pipeline.runTracked(spark, root.toString, "2024-01-01")
    assert(r.isInstanceOf[Pipeline.Succeeded])
    val st = graft.pipeline.BatchTracker.state(spark, root.toString, "2024-01-01")
    assert(st.triggered && st.status == "SUCCEEDED")
    assert(st.ordersKeys.exists(_.endsWith("orders_part0.csv")))
    assert(st.itemsKeys.exists(_.endsWith("order_items_part0.csv")))
    assert(st.productsReady && st.productsKeys.nonEmpty)
  }

  test("tracker: incomplete batch stays untriggered and reports missing sources") {
    val root = Files.createTempDirectory("graft-trk-inc")
    write(root, "raw/products/products.csv", productsCsv)
    val r = Pipeline.runTracked(spark, root.toString, "2024-01-01")
    assert(r == Pipeline.Incomplete("2024-01-01",
      Seq("orders for 2024-01-01", "order_items for 2024-01-01")))
    val st = graft.pipeline.BatchTracker.state(spark, root.toString, "2024-01-01")
    assert(!st.triggered && st.status == "NOT_TRIGGERED" && st.productsReady)
    // files then land → next poll flips the flags and triggers
    write(root, "raw/orders/2024-01-01/orders_part0.csv", ordersCsv)
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv", itemsCsv)
    assert(Pipeline.runTracked(spark, root.toString, "2024-01-01")
      .isInstanceOf[Pipeline.Succeeded])
  }

  test("every run leaves a log artifact under logs/pipeline/, success or rejection") {
    val root = setupBatch("log")
    assert(Pipeline.run(spark, root.toString, "2024-01-01").isInstanceOf[Pipeline.Succeeded])
    def logs(): Seq[Path] = {
      val dir = root.resolve("logs/pipeline")
      if (!Files.exists(dir)) Nil
      else Files.list(dir).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".log"))
    }
    val afterOk = logs()
    assert(afterOk.size == 1, s"expected one run log, got $afterOk")
    val content = Files.readString(afterOk.head)
    assert(content.contains("[INFO]") && content.contains("succeeded"))

    // a rejected run gets its own artifact with the rejection reasons
    write(root, "raw/products/products.csv", productsCsv)
    write(root, "raw/orders/2024-01-01/orders_part0.csv", "user_id,created_at\n1,2024-01-01 00:00:00")
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv", itemsCsv)
    assert(Pipeline.run(spark, root.toString, "2024-01-01").isInstanceOf[Pipeline.Rejected])
    val afterReject = logs()
    assert(afterReject.size == 2)
    val rejectLog = (afterReject.toSet -- afterOk.toSet).head
    assert(Files.readString(rejectLog).contains("REJECTED"))
  }

  test("csv: a part without the optional returned_at column binds created_at by name") {
    val root = setupBatch("noreturned")
    // header order_id,product_id,sale_price,created_at: read by position,
    // created_at would land in returned_at and A5 would reject the batch
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv",
      """order_id,product_id,sale_price,created_at
        |10,1,10.0,2024-01-01 00:00:00
        |10,2,30.0,2024-01-01 00:00:00
        |20,1,5.0,2024-01-01 00:00:00""".stripMargin)
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    assert(r == Pipeline.Succeeded("2024-01-01", 2L, 1L), s"got $r")
    val daily = KeyValueSink.readTable(spark, s"$root/kpis/daily_kpis").head()
    assert(daily.getAs[Double]("total_revenue") == 45.0)
    assert(daily.getAs[Int]("total_items_sold") == 3)
  }

  test("csv: reordered header columns bind by name, not position") {
    val root = setupBatch("reorder")
    // V1 passes this header; read by position the two ids would swap
    write(root, "raw/orders/2024-01-01/orders_part0.csv",
      """user_id,order_id,created_at
        |100,10,2024-01-01 00:00:00
        |200,20,2024-01-01 00:00:00""".stripMargin)
    val r = Pipeline.run(spark, root.toString, "2024-01-01")
    assert(r.isInstanceOf[Pipeline.Succeeded], s"got $r")
    val facts = graft.sources.FactStore.ordersEnriched(spark, s"$root/facts")
      .select("order_id", "user_id", "order_revenue").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(facts == Set((10L, 100L, 40.0), (20L, 200L, 5.0)))

    // parts with different headers in one read: each binds by its own header
    val canonical = root.resolve("canonical.csv")
    Files.writeString(canonical, ordersCsv)
    val mixed = graft.sources.Csv.read(spark, graft.sources.Csv.ordersSchema,
      Seq(s"$root/processed/orders/2024-01-01/orders_part0.csv", canonical.toString))
    assert(mixed.columns.toSeq == graft.sources.Csv.ordersSchema.fieldNames.toSeq)
    val rows = mixed.collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(3))).toSeq
    assert(rows == Seq((10L, 100L, true), (20L, 200L, true), (10L, 100L, true), (20L, 200L, false)))
  }

  test("a batch whose orders stage no dates leaves the store exactly as it was") {
    import graft.sources.FactStore
    import spark.implicits._
    val root = setupBatch("nodates")
    assert(Pipeline.run(spark, root.toString, "2024-01-01").isInstanceOf[Pipeline.Succeeded])
    val facts = s"$root/facts"
    def store() = Seq(FactStore.consolidated(spark, facts), FactStore.ordersEnriched(spark, facts),
      FactStore.itemsDaily(spark, facts)).map(_.collect().toSet)
    def kpis() = Seq("category_kpis", "daily_kpis")
      .map(t => KeyValueSink.readTable(spark, s"$root/kpis/$t").collect().toSet)
    val (storeBefore, kpisBefore) = (store(), kpis())

    // a rerun of the batch that delivers no rows: no date to recompute, and
    // the batch's earlier layers stay in place
    write(root, "raw/products/products.csv", productsCsv)
    write(root, "raw/orders/2024-01-01/orders_part0.csv", "order_id,user_id,created_at,returned_at")
    write(root, "raw/order_items/2024-01-01/order_items_part0.csv",
      "order_id,product_id,sale_price,returned_at,created_at")
    assert(Pipeline.run(spark, root.toString, "2024-01-01") == Pipeline.Succeeded("2024-01-01", 0L, 0L))
    assert(store() == storeBefore && kpis() == kpisBefore)

    // the same at the store: items staged without any order land nowhere
    val noOrders = FactStore.ordersEnriched(spark, facts).limit(0).drop("batch_id")
    val noItems = FactStore.consolidated(spark, facts).limit(0).drop("batch_id")
    val items = Seq((java.sql.Date.valueOf("2024-01-01"), 7L)).toDF("date_key", "total_items_sold_daily")
    assert(FactStore.upsertBatch("2024-01-01", noItems, noOrders, items, facts).isEmpty)
    assert(store() == storeBefore)
    assert(!Files.exists(Paths.get(s"$facts/.ingest_tmp/2024-01-01")))
    assert(!Files.exists(Paths.get(s"$facts/.rerun_tmp/2024-01-01")))
  }

  test("upsertBatch: a failed staged write rolls back only after its sibling writes stop") {
    import graft.sources.FactStore
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stagefail").toString + "/store"
    def oe(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, id * 10, 0, java.sql.Date.valueOf(d), 5.0) }
      .toDF("order_id", "user_id", "returned_order_flag", "order_date", "order_revenue")
    def cons(rows: (Long, String)*) = rows
      .map { case (id, d) => (id, "CAT_A", java.sql.Date.valueOf(d)) }
      .toDF("order_id", "category", "order_date")
    def idaily(d: String) =
      Seq((java.sql.Date.valueOf(d), 1L)).toDF("date_key", "total_items_sold_daily")
    assert(FactStore.upsertBatch("b1", cons(1L -> "2024-01-01"), oe(1L -> "2024-01-01"),
      idaily("2024-01-01"), dir) == Seq(java.sql.Date.valueOf("2024-01-01")))
    def store() = Seq(FactStore.consolidated(spark, dir), FactStore.ordersEnriched(spark, dir),
      FactStore.itemsDaily(spark, dir)).map(_.collect().toSet)
    val before = store()

    // rerun of b1: the consolidated write fails while the orders write is
    // still running (the repartition keeps each UDF inside its write job)
    ForkJoinProbe.started.set(0)
    val failing = cons(2L -> "2024-01-02").repartition(1)
      .withColumn("category", udf(ForkJoinProbe.failing).apply(col("category")))
    val slow = oe(2L -> "2024-01-02").repartition(1)
      .withColumn("order_revenue", udf(ForkJoinProbe.slow).apply(col("order_revenue")))
    val e = intercept[Exception] {
      FactStore.upsertBatch("b1", failing, slow, idaily("2024-01-02"), dir)
    }
    assert(ForkJoinProbe.started.get > 0, "the sibling write never ran concurrently")
    assert(ForkJoinProbe.running.get == 0, "upsertBatch threw while a sibling write was running")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("planted write failure")), e.toString)
    assert(store() == before, "a failed rerun must leave the store as it was")
    assert(!Files.exists(Paths.get(s"$dir/.ingest_tmp/b1")))
  }

  test("concurrent validation keeps today's rejection order") {
    val root = setupBatch("rejorder")
    // products fails its null check (a Spark job), orders its header check
    // (none): the orders check finishes first, yet products is listed first
    write(root, "raw/products/products.csv",
      "id,sku,cost,category,retail_price\n1,sku1,,CAT_A,2.0")
    write(root, "raw/orders/2024-01-01/orders_part0.csv",
      "user_id,created_at\n100,2024-01-01 00:00:00")
    val rej = Pipeline.run(spark, root.toString, "2024-01-01").asInstanceOf[Pipeline.Rejected]
    assert(rej.reasons.map(r => (r.file.split('/').last, r.reason)) == Seq(
      "products.csv" -> "Null values in critical columns: cost=1",
      "orders_part0.csv" -> "Missing required columns: order_id"))
  }

  test("retry wrapper: a timed-out attempt's fork-joined jobs are cancelled before the retry") {
    import scala.jdk.CollectionConverters._
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var atRetry = Seq.empty[String]
    var calls = 0
    val out = Pipeline.withRetry(attempts = 2, initialDelayMs = 1, timeoutMs = 2000) {
      calls += 1
      if (calls == 1) ForkJoin.all(spark)(Seq.fill(2)(() =>
        try spark.sparkContext.parallelize(Seq(1), 1).map(ForkJoinProbe.hang).count()
        catch { case e: Exception => ended.add(String.valueOf(e.getMessage)); throw e }): _*)
      else atRetry = ended.asScala.toSeq
      "ok"
    }
    assert(out == "ok" && calls == 2)
    assert(atRetry.size == 2 && atRetry.forall(_.contains("cancelled")),
      s"child jobs still running when the retry started: $atRetry")
  }

  test("foreachPartition KV write: no driver collect, upsert semantics") {
    import spark.implicits._
    KeyValueSink.InMemoryStore.clear("t")
    val df = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("date_key", "v")
    KeyValueSink.foreachPartitionWrite(df, Seq("date_key"),
      () => KeyValueSink.InMemoryStore.client("t"))
    val snap = KeyValueSink.InMemoryStore.snapshot("t")
    assert(snap.size == 2 && snap("2024-01-01")("v") == "1.0")
    // upsert: second write with same key overwrites
    val df2 = Seq(("2024-01-01", 9.0)).toDF("date_key", "v")
    KeyValueSink.foreachPartitionWrite(df2, Seq("date_key"),
      () => KeyValueSink.InMemoryStore.client("t"))
    assert(KeyValueSink.InMemoryStore.snapshot("t")("2024-01-01")("v") == "9.0")
  }
}
