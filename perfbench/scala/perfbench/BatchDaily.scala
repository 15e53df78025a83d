package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_date}

import graft.operators.Kpi
import graft.pipeline.{BatchTracker, Pipeline, RunLog}
import graft.sinks.KeyValueSink
import graft.sources.{Csv, FactStore}

/** `batch_daily`: consecutive one-day CSV deliveries, each sent through
  * `Pipeline.runTracked` onto one growing pipeline root, the next only after
  * the previous returns. Per-batch fixed costs dominate: the ledger poll and
  * mark, listings, per-file validation, some 40 Spark jobs, and the
  * few-partition store and sink upserts, interleaved with date-pruned KPI
  * reads of the growing fact store.
  *
  * Inputs (staged by `gen.py`): `products.csv`, `days.tsv` (date, order rows,
  * item rows in delivery order) and `days/<date>/{orders,order_items}.csv`.
  */
object BatchDaily extends Workload {

  def inputBytes(inputs: String): Long =
    Files.walk(Paths.get(inputs)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def run(h: Harness): RunResult = {
    val spark = h.spark
    val inputs = h.args.inputs
    val root = s"${h.args.out}/pipeline-root"
    val days = Files.readAllLines(Paths.get(inputs, "days.tsv")).asScala.toSeq
      .map(_.split("\t")).map(f => (f(0), f(1).toLong + f(2).toLong))
    copy(Paths.get(inputs, "products.csv"), Paths.get(root, "raw/products/products.csv"))

    val failures = mutable.LinkedHashMap.empty[String, String]
    val units = mutable.ArrayBuffer.empty[UnitRec]
    // The first batch is the cold one. Every batch plans and generates new
    // code, and the JIT keeps compiling it: the second and third batches
    // still run 10-50% slower than later ones, by how much depending on how
    // much CPU the host gives, so statistics start at the fourth. Measured
    // batches go on until --seconds have passed since the first of them, and
    // at least three are measured.
    val warmup = 3
    val minMeasured = 3
    var t0 = 0L
    while (units.size < days.size &&
        (units.size < warmup + minMeasured || (System.nanoTime() - t0) / 1e9 < h.args.seconds)) {
      val k = units.size
      if (k == warmup) t0 = System.nanoTime()
      val (day, rows) = days(k)
      for (t <- Seq("orders", "order_items"))
        copy(Paths.get(inputs, "days", day, s"$t.csv"), Paths.get(root, "raw", t, day, "part0.csv"))
      // warm-up batches and every other measured one stay untraced, so a
      // traced run also measures its own overhead
      val traced = h.args.trace && k >= warmup && (k - warmup) % 2 == 1
      val phase = if (k == 0) "cold" else if (k < warmup) "warmup" else "measured"
      units += h.unit(day, phase, traced, rows) {
        try {
          val r = if (traced) tracedRun(h, root, day) else Pipeline.runTracked(spark, root, day)
          r match {
            case _: Pipeline.Succeeded => true
            case other => failures.getOrElseUpdate(day, other.toString); false
          }
        } catch { case NonFatal(e) =>
          failures.getOrElseUpdate(day, s"${e.getClass.getSimpleName}: ${e.getMessage}"); false
        }
      }(storeWrites(root, day))
    }

    val delivered = units.map(_.id).toSeq
    checkKpis(spark, inputs, root, delivered).foreach { case (d, why) =>
      failures.getOrElseUpdate(d, why)
    }
    RunResult(Map.empty, units.toSeq, failures.toSeq, units.size,
      units.filter(_.phase == "measured").map(u => (u.filesWritten, u.partitionsWritten)).toSeq,
      Map("delivered_days" -> delivered))
  }

  private def copy(src: Path, dest: Path): Unit = {
    Files.createDirectories(dest.getParent)
    Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Data files and partition directories this batch's upsert left in the
    * fact store (its `batch_id=<day>` layers).
    */
  private def storeWrites(root: String, day: String): (Long, Long) = {
    val facts = Paths.get(root, "facts")
    if (!Files.isDirectory(facts)) return (0L, 0L)
    val files = Files.walk(facts).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.contains(s"/batch_id=$day/"))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .toSeq
    (files.size.toLong, files.map(_.getParent).distinct.size.toLong)
  }

  /** Untimed output check. The sink's category KPIs must equal
    * `Kpi.categoryKpis` over every delivered CSV; each batch's daily KPIs
    * must equal `Kpi.orderKpis` at its date over the CSVs delivered up to and
    * including that batch (later deliveries may add items shipping on an
    * earlier date, which the pipeline by design does not recompute).
    * Returns the batch dates whose sink rows differ.
    */
  private def checkKpis(spark: SparkSession, inputs: String, root: String,
      delivered: Seq[String]): Seq[(String, String)] =
    try {
      def read(t: String, ds: Seq[String]) = Csv.read(spark,
        if (t == "orders") Csv.ordersSchema else Csv.orderItemsSchema,
        ds.map(d => s"$inputs/days/$d/$t.csv"))
      val products = Csv.read(spark, Csv.productsSchema, Seq(s"$inputs/products.csv"))
      val expCategory = Kpi.categoryKpis(Kpi.consolidated(products,
        read("orders", delivered), read("order_items", delivered)))
        .withColumnRenamed("order_date", "date_key")
      val expDaily = delivered.indices.map { k =>
        val soFar = delivered.take(k + 1)
        Kpi.orderKpis(read("orders", soFar), read("order_items", soFar),
          Some(Seq(java.sql.Date.valueOf(delivered(k)))))
      }.reduce(_ unionByName _)
      def table(name: String) = KeyValueSink.readTable(spark, s"$root/kpis/$name")
      val bad = (differingDates(expCategory, table("category_kpis")) ++
        differingDates(expDaily, table("daily_kpis"))).distinct
      bad.map(d => d -> "sink KPIs differ from Kpi over the CSVs delivered so far")
    } catch { case NonFatal(e) =>
      delivered.map(d => d -> s"KPI check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def differingDates(expected: DataFrame, got: DataFrame): Seq[String] = {
    // each side feeds both differences: compute it once
    def canon(df: DataFrame) = {
      val cols = df.columns.sorted
      df.select(cols.map(c => if (c == "date_key") col(c).cast("string").as(c) else col(c)): _*)
        .persist()
    }
    val (e, g) = (canon(expected), canon(got))
    try e.exceptAll(g).unionByName(g.exceptAll(e)).select("date_key").distinct()
      .collect().map(_.getString(0)).toSeq
    finally { e.unpersist(); g.unpersist() }
  }

  /** `Pipeline.runTracked` rebuilt from the engine's public calls, in its
    * call order, with a span around each layer call. The KPI frames are
    * materialised inside the read span (then served from cache to the sink),
    * which moves no work but lets read and sink time separate. The retry
    * wrappers' stage threads are left out; the traced-minus-untraced batch
    * wall shows what that and the spans cost.
    */
  private def tracedRun(h: Harness, root: String, day: String): Pipeline.Result = {
    val spark = h.spark
    val tr = h.tracer
    tr.unit("batch", day) {
      val st = tr.span("pipeline.tracker") {
        val s = BatchTracker.recordPoll(spark, root, day)
        require(!s.triggered && s.complete, s"batch $day not ready: $s")
        require(BatchTracker.tryMarkTriggered(spark, root, day), s"batch $day already triggered")
        s
      }
      val log = new RunLog(spark, root, "pipeline")
      val files = Pipeline.BatchFiles(st.productsKeys, st.ordersKeys, st.itemsKeys)
      val report = tr.span("pipeline.validate")(Pipeline.validate(spark, root, files))
      if (!report.ok) return Pipeline.Rejected(day, report.rejections)
      val rawPrefix = s"${Csv.stripScheme(root)}/raw/"
      def rel(f: String) = Csv.stripScheme(f).stripPrefix(rawPrefix)
      val rawFiles = files.all.filter(f => Csv.stripScheme(f).startsWith(rawPrefix))
      tr.span("pipeline.lifecycle")(rawFiles.foreach(
        f => Csv.moveFile(spark, s"$root/raw", s"$root/validated", f)))
      val newOrders = files.orders.map(f => s"$root/validated/${rel(f)}")
      val newDates = tr.span("pipeline.new_dates")(
        Csv.read(spark, Csv.ordersSchema, newOrders)
          .select(to_date(col("created_at")).as("d")).distinct()
          .collect().map(_.getDate(0)).toSeq)
      val (products, orders, items) = tr.span("sources.csv_list")((
        Csv.read(spark, Csv.productsSchema, Csv.listCsv(spark, s"$root/validated/products")),
        Csv.read(spark, Csv.ordersSchema, Csv.listCsv(spark, s"$root/validated/orders")),
        Csv.read(spark, Csv.orderItemsSchema, Csv.listCsv(spark, s"$root/validated/order_items"))))
      val factsDir = s"$root/facts"
      tr.span("sources.factstore_upsert")(FactStore.upsertBatch(day,
        Kpi.consolidated(products, orders, items), Kpi.ordersEnriched(orders, items),
        Kpi.itemsDaily(items), factsDir))
      val (category, daily) = tr.span("operators.kpi_store_read") {
        val c = Kpi.categoryKpisFromStore(spark, factsDir, newDates)
          .withColumn("date_key", col("order_date")).drop("order_date").persist()
        val d = Kpi.orderKpisFromStore(spark, factsDir, newDates).persist()
        c.count(); d.count()
        (c, d)
      }
      val (nc, nd) =
        try {
          tr.span("sinks.kv_upsert") {
            KeyValueSink.upsertPartitioned(category, s"$root/kpis/category_kpis", "date_key")
            KeyValueSink.upsertPartitioned(daily, s"$root/kpis/daily_kpis", "date_key")
          }
          (category.count(), daily.count())
        } finally { category.unpersist(false); daily.unpersist(false) }
      tr.span("pipeline.lifecycle")((files.orders ++ files.items)
        .map(f => s"$root/validated/${rel(f)}")
        .foreach(f => Csv.moveFile(spark, s"$root/validated", s"$root/processed", f)))
      tr.span("pipeline.tracker")(BatchTracker.recordOutcome(spark, root, day, "SUCCEEDED"))
      tr.span("pipeline.runlog") {
        log.info(s"batch $day: succeeded ($nc category rows, $nd daily rows), archived")
        log.flush()
      }
      Pipeline.Succeeded(day, nc, nd)
    }
  }
}
