package graft.pipeline

import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.Json
import graft.sources.Csv

/** Persistent batch ledger with exactly-once trigger semantics — the
  * reference's DynamoDB `BatchFileTracker` re-expressed over any Hadoop
  * filesystem (reference: Lambda/lambda_function.py:102-265).
  *
  * Semantics preserved from the reference:
  *  - one ledger item per batch id (the batch DATE) plus a global
  *    `PRODUCTS_MASTER` item (lambda_function.py:100-114);
  *  - each poll REPLACES the arrived-flags and key lists with what the
  *    listing found (:126-143 — poll-driven, not event-append);
  *  - ledger updates are skipped once the batch is triggered (:174 —
  *    `ConditionExpression: step_function_triggered ≠ true`);
  *  - the trigger mark itself is CONDITIONAL, so a batch can never be
  *    processed twice even under concurrent polls (:242-265).
  *
  * The conditional mark maps to atomic create-if-absent of a
  * `<batchId>.triggered` marker: `Files.createFile` (POSIX O_EXCL) locally,
  * `FileSystem.create(p, overwrite = false)` on HDFS (atomic in the
  * namenode); an object-store deployment would use a conditional PUT
  * (If-None-Match) the same way the reference uses DynamoDB's condition.
  *
  * The ledger itself is last-writer-wins JSON, exactly like a DynamoDB
  * UpdateItem per poll — only the trigger GUARD needs atomicity.
  */
object BatchTracker {

  val ProductsBatchId = "PRODUCTS_MASTER"

  final case class BatchState(
      batchId: String,
      ordersArrived: Boolean,
      itemsArrived: Boolean,
      ordersKeys: Seq[String],
      itemsKeys: Seq[String],
      productsReady: Boolean,
      productsKeys: Seq[String],
      triggered: Boolean,
      status: String) {
    def complete: Boolean = ordersArrived && itemsArrived && productsReady
    def missing: Seq[String] =
      Pipeline.missing(batchId, productsReady, ordersArrived, itemsArrived)
  }

  private def trackerDir(root: String) = s"$root/_tracker"
  private def ledgerPath(root: String, id: String) = s"${trackerDir(root)}/$id.json"
  private def markerPath(root: String, id: String) = s"${trackerDir(root)}/$id.triggered"

  /** One poll cycle (reference lambda steps 1-4): list the raw prefixes,
    * update the ledgers (unless the batch is already triggered), and return
    * the current state.
    */
  def recordPoll(spark: SparkSession, root: String, date: String): BatchState = {
    // products track the VALIDATED copy once raw/ is consumed, not a stale
    // raw key — otherwise day 2 would trigger with a products path that no
    // longer exists and wrongly reject the whole batch
    val Pipeline.BatchFiles(products, orders, items) = Pipeline.listBatch(spark, root, date)

    // products master ledger: only ever updated when the file is present
    // (lambda_function.py:100-114)
    if (products.nonEmpty)
      writeLedger(spark, root, ProductsBatchId,
        s"""{"batch_id": ${Json.quote(ProductsBatchId)},
           |"products_ready": true,
           |"products_keys": ${jsonArr(products)},
           |"last_updated": "${Instant.now()}"}""".stripMargin)

    val triggered = isTriggered(spark, root, date)
    if (!triggered) {
      val status = if (orders.nonEmpty || items.nonEmpty) "IN_PROGRESS" else "NOT_TRIGGERED"
      writeLedger(spark, root, date,
        s"""{"batch_id": ${Json.quote(date)},
           |"orders_arrived": ${orders.nonEmpty},
           |"order_items_arrived": ${items.nonEmpty},
           |"orders_keys": ${jsonArr(orders)},
           |"order_items_keys": ${jsonArr(items)},
           |"status": "$status",
           |"last_updated": "${Instant.now()}"}""".stripMargin)
    }
    state(spark, root, date)
  }

  /** Current ledger state for a batch date (reads both ledger items + the
    * trigger marker).
    */
  def state(spark: SparkSession, root: String, date: String): BatchState = {
    val daily = readLedger(spark, root, date)
    val prod = readLedger(spark, root, ProductsBatchId)
    BatchState(
      batchId = date,
      ordersArrived = daily.exists(bool(_, "orders_arrived")),
      itemsArrived = daily.exists(bool(_, "order_items_arrived")),
      ordersKeys = daily.map(arr(_, "orders_keys")).getOrElse(Nil),
      itemsKeys = daily.map(arr(_, "order_items_keys")).getOrElse(Nil),
      productsReady = prod.exists(bool(_, "products_ready")),
      productsKeys = prod.map(arr(_, "products_keys")).getOrElse(Nil),
      triggered = isTriggered(spark, root, date),
      status = daily.flatMap(str(_, "status")).getOrElse("PENDING"))
  }

  /** The exactly-once guard: atomically create the trigger marker; returns
    * true for exactly ONE caller per batch id, ever (reference
    * lambda_function.py:242-265). Losers must not process the batch.
    */
  def tryMarkTriggered(spark: SparkSession, root: String, date: String): Boolean = {
    val p = new Path(markerPath(root, date))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      // POSIX O_EXCL — atomic even across processes
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(uri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      // HDFS: create(overwrite=false) is atomic in the namenode; an object
      // store would use a conditional PUT here
      try { fs.create(p, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Roll back the trigger mark — for a holder whose run did NOT consume the
    * batch (crash, vanished files), so the next poll can retry. Only the
    * marker's winner may call this.
    */
  def unmarkTriggered(spark: SparkSession, root: String, date: String): Unit = {
    val p = new Path(markerPath(root, date))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  def isTriggered(spark: SparkSession, root: String, date: String): Boolean = {
    val p = new Path(markerPath(root, date))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Record the terminal status (TRIGGERED → SUCCEEDED/REJECTED) — pure
    * observability, the marker alone carries the exactly-once semantics.
    */
  def recordOutcome(spark: SparkSession, root: String, date: String, status: String): Unit = {
    val prev = readLedger(spark, root, date).getOrElse(s"""{"batch_id": ${Json.quote(date)}}""")
    val updated = prev.replaceAll(""""status":\s*"[^"]*"""", s""""status": "$status"""")
    writeLedger(spark, root, date,
      if (updated.contains("\"status\"")) updated
      else updated.stripSuffix("}") + s""", "status": "$status"}""")
  }

  /** Operator escape hatch: forget a batch so it can be reprocessed (the
    * reference analog is deleting the DynamoDB item).
    */
  def reset(spark: SparkSession, root: String, date: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(markerPath(root, date), ledgerPath(root, date)).foreach { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }

  // --------------------------------------------------------------------------
  // Ledger I/O — fixed-schema JSON, written and parsed by this object only
  // --------------------------------------------------------------------------

  private def writeLedger(spark: SparkSession, root: String, id: String, json: String): Unit =
    Csv.writeTextFile(spark, ledgerPath(root, id), json)

  private def readLedger(spark: SparkSession, root: String, id: String): Option[String] = {
    val p = new Path(ledgerPath(root, id))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  private def jsonArr(xs: Seq[String]): String = xs.map(Json.quote).mkString("[", ", ", "]")

  private def bool(json: String, name: String): Boolean =
    s""""$name":\\s*true""".r.findFirstIn(json).isDefined

  private def str(json: String, name: String): Option[String] =
    s""""$name":\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(json).map(m => unescape(m.group(1)))

  private def arr(json: String, name: String): Seq[String] =
    s""""$name":\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(json).map { m =>
      """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1)).map(x => unescape(x.group(1))).toSeq
    }.getOrElse(Nil)

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
