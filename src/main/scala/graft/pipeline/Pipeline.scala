package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ForkJoin, Json}
import graft.operators.Kpi
import graft.sinks.KeyValueSink
import graft.sources.{Csv, FactStore}

/** End-to-end batch pipeline (reference: Lambda coordinator + Step Function +
  * two ECS tasks — SURVEY.md §3). The AWS control plane becomes driver-side
  * Scala; the data plane is pure Spark plans.
  *
  * Layout under a root directory (the reference's S3 prefix lifecycle, §1.4):
  * {{{
  *   raw/products/products.csv
  *   raw/orders/<date>/orders_part*.csv
  *   raw/order_items/<date>/order_items_part*.csv
  *   validated/... processed/... invalid/...   (lifecycle stages)
  *   kpis/category_kpis/  kpis/daily_kpis/     (partitioned parquet KV sinks)
  * }}}
  *
  * Stages: completeness check (O1) → validate (gate, O2) → transform →
  * KPI upsert (S4/S5 as dynamic partition overwrite) → archive. Failures move
  * the whole batch to invalid/ with `<name>_reason.json` manifests (§2.2.6-7);
  * retry with backoff wraps each stage (O3).
  */
object Pipeline {

  sealed trait Result
  final case class Succeeded(batchDate: String, categoryRows: Long, dailyRows: Long) extends Result
  final case class Rejected(batchDate: String, reasons: Seq[Validator.Rejection]) extends Result
  final case class Incomplete(batchDate: String, missing: Seq[String]) extends Result
  /** The exactly-once guard declined: this batch was already triggered. */
  final case class AlreadyTriggered(batchDate: String) extends Result

  /** A stage exceeded its [[withRetry]] timeout. Retryable: a hung FS call
    * usually clears on the next attempt; if every attempt hangs, the batch
    * fails loudly instead of blocking forever.
    */
  final class StageTimeoutException(msg: String) extends RuntimeException(msg)

  /** Per-stage SLAs borrowed from the reference's Step Function task
    * TimeoutSeconds (infra/step-function-definition.json:72 — validate 120 s;
    * :166 — transform 300 s).
    */
  val validateTimeoutMs: Long = 120000
  val transformTimeoutMs: Long = 300000

  /** O3: retry with exponential backoff (reference step-function retry policy:
    * 2 retries, 3 s interval, 2.0 backoff — here parameterized and testable).
    *
    * `timeoutMs > 0` additionally bounds EACH attempt (the reference's
    * per-task `TimeoutSeconds`): the stage runs on a daemon thread; past the
    * deadline it is interrupted and the attempt counts as a retryable
    * [[StageTimeoutException]] — a wedged FS call can no longer block a batch
    * forever where the reference would kill and retry the task.
    */
  def withRetry[T](attempts: Int = 3, initialDelayMs: Long = 3000, backoff: Double = 2.0,
      timeoutMs: Long = 0, stage: Option[String] = None)(body: => T): T = {
    def once(): T =
      if (timeoutMs <= 0) body
      else {
        val task = new java.util.concurrent.FutureTask[T](() => body)
        val runner = new Thread(task, "graft-stage")
        runner.setDaemon(true) // an abandoned hung stage must not pin the JVM
        runner.start()
        try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            task.cancel(true) // interrupt the hung stage before retrying
            // give it up to one more timeout to stop: a stage waiting in
            // [[graft.ForkJoin]] cancels its children's Spark jobs and
            // returns once they have stopped, so a retry never races the
            // timed-out attempt's writers
            runner.join(timeoutMs)
            throw new StageTimeoutException(s"stage exceeded $timeoutMs ms")
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause // surface the stage's own failure, not the wrapper
        }
      }
    // Per-ATTEMPT stage wall, timed in the CALLER thread so a timed-out
    // attempt records the timeout wall, not whatever the abandoned daemon
    // thread later measures. Last attempt wins — the recorded wall is the
    // SLA-bounded unit itself (reference TimeoutSeconds bounds one task
    // attempt), never attempts + backoff summed (ADVICE r9).
    def timedOnce(): T = stage match {
      case None => once()
      case Some(name) =>
        val t0 = System.nanoTime()
        try once()
        finally lastStageWallsRef.updateAndGet(
          m => m + (name -> (System.nanoTime() - t0) / 1e9))
    }
    var delay = initialDelayMs
    var left = attempts
    while (true) {
      try return timedOnce()
      catch {
        case e: Exception if left > 1 =>
          left -= 1
          Thread.sleep(delay)
          delay = (delay * backoff).toLong
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** O1: batch completeness — products master + both fact prefixes non-empty
    * for the date (reference lambda_function.py:198-222).
    */
  def completeness(spark: SparkSession, root: String, date: String): Either[Seq[String], BatchFiles] = {
    // master data arrives once: a batch after the first reuses the validated
    // products copy (the pipeline leaves it in validated/ on purpose)
    val rawProducts = Csv.listCsv(spark, s"$root/raw/products")
    val products =
      if (rawProducts.nonEmpty) rawProducts
      else Csv.listCsv(spark, s"$root/validated/products")
    val orders = Csv.listCsv(spark, s"$root/raw/orders/$date")
    val items = Csv.listCsv(spark, s"$root/raw/order_items/$date")
    val missing =
      (if (products.isEmpty) Seq("products master data") else Nil) ++
        (if (orders.isEmpty) Seq(s"orders for $date") else Nil) ++
        (if (items.isEmpty) Seq(s"order_items for $date") else Nil)
    if (missing.nonEmpty) Left(missing) else Right(BatchFiles(products, orders, items))
  }

  final case class BatchFiles(products: Seq[String], orders: Seq[String], items: Seq[String]) {
    def all: Seq[String] = products ++ orders ++ items
  }

  /** Validation stage: per-file V1/V2/A5 + batch J5; any failure ⇒ move the
    * ENTIRE batch to invalid/ with reason manifests and reject (§2.2.6).
    */
  def validate(spark: SparkSession, root: String, files: BatchFiles): Validator.Report = {
    def typed(schema: org.apache.spark.sql.types.StructType, paths: Seq[String]) =
      Csv.read(spark, schema, paths)
    def checks(paths: Seq[String], schema: org.apache.spark.sql.types.StructType,
        contract: Validator.Contract) =
      paths.map(f => () => Validator.validateFile(spark, f, typed(schema, Seq(f)), contract))

    // the per-file checks are independent: run them concurrently, report in
    // file order
    val perFile = ForkJoin.all(spark)(
      checks(files.products, Csv.productsSchema, Validator.productsContract) ++
        checks(files.orders, Csv.ordersSchema, Validator.ordersContract) ++
        checks(files.items, Csv.orderItemsSchema, Validator.orderItemsContract): _*).flatten

    val integrity =
      if (perFile.nonEmpty) Nil
      else Validator.validateIntegrity(
        typed(Csv.productsSchema, files.products),
        typed(Csv.ordersSchema, files.orders),
        typed(Csv.orderItemsSchema, files.items))
        .map(r => Validator.Rejection("<batch>", r))

    Validator.Report(perFile ++ integrity)
  }

  /** True iff `f` is a raw/ delivery of this root (scheme-insensitively).
    * The reused validated products master is NOT: it must never be moved by
    * a daily batch's lifecycle or quarantined by its rejection.
    */
  private def underRaw(root: String, f: String): Boolean =
    Csv.stripScheme(f).startsWith(s"${Csv.stripScheme(root)}/raw/")

  private def rejectBatch(spark: SparkSession, root: String, files: BatchFiles,
      report: Validator.Report): Unit = {
    val reasons = report.rejections
    files.all.filter(underRaw(root, _)).foreach { f =>
      Csv.moveFile(spark, s"$root/raw", s"$root/invalid", f)
      val rel = relUnderRaw(root, f)
      val manifest =
        s"""{"original_key": ${Json.quote(f)},
           |"rejected_to": ${Json.quote(s"$root/invalid/$rel")},
           |"reasons": [${reasons.map(r => Json.quote(r.reason)).mkString(", ")}],
           |"timestamp": "${Instant.now()}"}""".stripMargin
      Csv.writeTextFile(spark, s"$root/invalid/${rel}_reason.json", manifest)
    }
  }

  /** Path of `file` relative to `root`/raw, scheme-insensitively. */
  private def relUnderRaw(root: String, file: String): String =
    Csv.stripScheme(file).stripPrefix(s"${Csv.stripScheme(root)}/raw/")

  /** Transformation stage (reference transform_task.py:349-447): validate the
    * batch into the date-partitioned fact store, then compute KPIs for the
    * batch's new dates (D1/F1 incremental recompute: the order dates the
    * upsert staged) from FILE-PRUNED reads of that store, and upsert by date
    * partition.
    *
    * The reference loads its full validated history and filters the target
    * dates late (transform_task.py:409-413) — a full-history scan per daily
    * batch. Here the store upsert rewrites only the batch's date partitions
    * (dynamic partition overwrite ⇒ idempotent reruns) and the KPI reads
    * open only those partitions (`PartitionFilters`), so a daily batch costs
    * one day of data no matter how much history has accumulated.
    */
  def transform(spark: SparkSession, root: String, batchId: String): (Long, Long) = {
    val products = Csv.read(spark, Csv.productsSchema,
      Csv.listCsv(spark, s"$root/validated/products"))
    val orders = Csv.read(spark, Csv.ordersSchema,
      Csv.listCsv(spark, s"$root/validated/orders"))
    val items = Csv.read(spark, Csv.orderItemsSchema,
      Csv.listCsv(spark, s"$root/validated/order_items"))

    val factsDir = s"$root/facts"
    // D1: the order dates the batch staged drive the recompute
    val newDates = FactStore.upsertBatch(batchId,
      Kpi.consolidated(products, orders, items),
      Kpi.ordersEnriched(orders, items),
      Kpi.itemsDaily(items),
      factsDir)
    if (newDates.isEmpty) return (0L, 0L)

    val category = Kpi.categoryKpisFromStore(spark, factsDir, newDates)
      .withColumn("date_key", col("order_date")).drop("order_date")
      .persist()
    val daily = Kpi.orderKpisFromStore(spark, factsDir, newDates).persist()

    // the two sinks are independent: upsert them concurrently. Counts come
    // from the cached frames — without the persist they would re-run the
    // whole KPI DAG a second time
    def upsert(kpis: DataFrame, table: String) = () => {
      KeyValueSink.upsertPartitioned(kpis, s"$root/kpis/$table", "date_key")
      kpis.count()
    }
    try {
      val Seq(c, d) = ForkJoin.all(spark)(
        upsert(category, "category_kpis"), upsert(daily, "daily_kpis"))
      (c, d)
    } finally {
      category.unpersist(false)
      daily.unpersist(false)
    }
  }

  /** Coordinated run with the persistent batch tracker (the reference
    * Lambda's poll→trigger cycle, lambda_function.py:198-265): record the
    * poll in the ledger, then process ONLY if this caller wins the atomic
    * trigger mark. Re-running a completed batch is a no-op
    * ([[AlreadyTriggered]]); two concurrent runs admit exactly one. [[run]]
    * remains the unguarded "container" entry the Step Function would invoke.
    */
  def runTracked(spark: SparkSession, root: String, date: String): Result = {
    val st = BatchTracker.recordPoll(spark, root, date)
    if (st.triggered) AlreadyTriggered(date)
    else if (!st.complete) Incomplete(date, st.missing)
    else if (!BatchTracker.tryMarkTriggered(spark, root, date)) AlreadyTriggered(date)
    else {
      // the poll already listed the batch's files — don't list again
      val files = BatchFiles(st.productsKeys, st.ordersKeys, st.itemsKeys)
      // a run that DIDN'T consume the batch must not leave it locked: roll
      // the marker back on crash (exception) or vanished files (Incomplete),
      // so a transient failure is retryable on the next poll. A Rejected
      // batch stays triggered — its files moved to invalid/, like the
      // reference's failed-but-triggered Step Function execution.
      val result =
        try run(spark, root, date, Some(files))
        catch { case e: Throwable =>
          BatchTracker.unmarkTriggered(spark, root, date); throw e
        }
      result match {
        case _: Succeeded => BatchTracker.recordOutcome(spark, root, date, "SUCCEEDED")
        case _: Rejected => BatchTracker.recordOutcome(spark, root, date, "REJECTED")
        case _ => BatchTracker.unmarkTriggered(spark, root, date)
      }
      result
    }
  }

  /** Full run for one batch date. A per-run log artifact lands under
    * `logs/pipeline/` whatever the outcome (S7; validate_task.py:45-61), and
    * a terminal failure additionally fires the [[AlertSink]] (the reference's
    * catch-all SNS publish). `knownFiles` skips the completeness listing when
    * the caller (the tracker poll) already produced the file lists.
    */
  def run(spark: SparkSession, root: String, date: String,
      knownFiles: Option[BatchFiles] = None,
      alerts: AlertSink = AlertSink.file): Result = {
    val log = new RunLog(spark, root, "pipeline")
    log.info(s"batch $date: run started")
    try runStages(spark, root, date, knownFiles, log)
    catch { case e: Throwable =>
      log.error(s"batch $date: failed: ${e.getMessage}")
      // the alert must never replace the real failure — a broken alert
      // channel is itself only a log line
      try alerts.alert(spark, root, date, e)
      catch { case ae: Throwable => log.error(s"batch $date: alert failed: ${ae.getMessage}") }
      throw e
    }
    finally {
      // the log is observability, not an outcome: a failed flush must not
      // replace the pipeline result (all side effects already happened)
      try log.flush()
      catch { case e: Throwable => System.err.println(s"[graft] log flush failed: ${e.getMessage}") }
    }
  }

  /** Wall seconds of the LAST run's timed stages (validate / transform /
    * promote / archive), keyed by stage name — the per-stage view of the
    * reference's Step Function `TimeoutSeconds` SLAs (validate 120 s,
    * transform 300 s), published by the bench artifact as
    * `pipeline_stages_s` so the SLA check is per-stage, not just the
    * aggregate wall. Conventions (also stamped into the artifact as
    * `pipeline_stages_mode`): validate/transform record the LAST completed
    * ATTEMPT's wall — the SLA-bounded unit, never attempts + backoff
    * summed — and a multi-batch run reports its last batch. Same
    * single-threaded-harness contract as [[graft.Release.interQuery]].
    */
  private val lastStageWallsRef =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Double]](Map.empty)
  def lastStageWalls: Map[String, Double] = lastStageWallsRef.get

  private def timedStage[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val w = (System.nanoTime() - t0) / 1e9
      lastStageWallsRef.updateAndGet(m => m + (name -> w))
    }
  }

  private def runStages(spark: SparkSession, root: String, date: String,
      knownFiles: Option[BatchFiles], log: RunLog): Result = {
    lastStageWallsRef.set(Map.empty)
    knownFiles.map(Right(_)).getOrElse(completeness(spark, root, date)) match {
      case Left(missing) =>
        log.warn(s"batch $date: incomplete, missing ${missing.mkString(", ")}")
        Incomplete(date, missing)
      case Right(files) =>
        log.info(s"batch $date: complete (${files.all.size} files), validating")
        // O3: transient failures (FS hiccups) retry with backoff; a Rejected
        // REPORT is a value, not an exception, so rejection never retries.
        // Each attempt is bounded by the stage SLA (reference TimeoutSeconds).
        val report =
          withRetry(timeoutMs = validateTimeoutMs, stage = Some("validate"))(
            validate(spark, root, files))
        if (!report.ok) {
          report.rejections.foreach(r => log.error(s"batch $date: REJECTED ${r.file}: ${r.reason}"))
          rejectBatch(spark, root, files, report)
          Rejected(date, report.rejections)
        } else {
          log.info(s"batch $date: validation passed, transforming")
          // rebuild destination paths on ROOT (which carries the scheme and
          // authority) — stripping the scheme from the file alone would point
          // an s3a:// root at the default filesystem
          def toValidated(f: String): String = s"$root/validated/${relUnderRaw(root, f)}"
          // raw/ → validated/ (a reused validated products master stays put)
          val rawFiles = files.all.filter(underRaw(root, _))
          // the raw/ → validated/ moves are lifecycle bookkeeping, not the
          // SLA-bounded transform — timed under their own key so the
          // "transform" wall is comparable to the reference's TimeoutSeconds
          timedStage("promote")(rawFiles.foreach(
            f => Csv.moveFile(spark, s"$root/raw", s"$root/validated", f)))
          val (c, d) =
            try withRetry(timeoutMs = transformTimeoutMs, stage = Some("transform"))(
              transform(spark, root, date))
            catch { case e: Throwable =>
              // compensate: a failed transform must leave the batch exactly
              // as delivered, so the next poll can retry it end-to-end
              // (moveFile no-ops files a partial compensation already moved)
              log.error(s"batch $date: transform failed, returning files to raw/: ${e.getMessage}")
              rawFiles.map(toValidated)
                .foreach(f => Csv.moveFile(spark, s"$root/validated", s"$root/raw", f))
              throw e
            }
          // validated/ → processed/ (products master stays in validated/)
          timedStage("archive") {
            (files.orders ++ files.items).map(toValidated)
              .foreach(f => Csv.moveFile(spark, s"$root/validated", s"$root/processed", f))
          }
          log.info(s"batch $date: succeeded ($c category rows, $d daily rows), archived")
          Succeeded(date, c, d)
        }
    }
  }
}
