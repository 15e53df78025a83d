package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{Release, SparkEntry}
import graft.operators.{Kpi, Similarity}
import graft.sources.ArtifactStore

/** `query_mix`: registered ops over the generated fixture, each materialised
  * with `write.format("noop")` (every column computed, nothing kept), one at
  * a time. Pass 1 after setup is cold: it pays lazy memo builds and codegen.
  * Later passes are warm. The seed permutes the op order; the fixture is
  * the same for every seed. Setup builds, in a fresh artifact root, the two
  * stores the mix reads: the fact store (the pipeline's partitioned write at
  * history scale) and the vector codes.
  *
  * Inputs (from `gen.py`): `fixture/<table>.parquet` and `rows.txt`, the
  * fixture's total row count.
  */
object QueryMix extends Workload {

  /** The mix, grouped by what each op exercises: one or more ops of each of
    * the engine's op families, sized so a warm pass takes about six seconds
    * on four cores.
    */
  val ops: Seq[String] = Seq(
    // the reference KPI, and a store-pruned read of the fact store setup built
    "kpi_category", "kpi_daily_incremental",
    // a checkpointed iterative loop
    "graph_pagerank",
    // codegen kernels
    "dedup_simhash_pairs", "sim_topk_ivf",
    // shared memos
    "dedup_lsh_recall", "analytics_market_basket",
    // a job-heavy sessionisation
    "events_sessions")

  def inputBytes(inputs: String): Long = ArtifactStore.parquetBytes(s"$inputs/fixture")

  def run(h: Harness): RunResult = {
    val spark = h.spark
    val fx = s"${h.args.inputs}/fixture"
    val fixtureRows = new String(Files.readAllBytes(Paths.get(h.args.inputs, "rows.txt")), UTF_8).trim.toLong
    val failures = mutable.LinkedHashMap.empty[String, String]

    // the engine's stores live under java.io.tmpdir: a fresh dir makes setup
    // a full build
    val storeRoot = Paths.get(Harness.tmpRoot, "stores")
    Files.createDirectories(storeRoot)
    System.setProperty("java.io.tmpdir", storeRoot.toString)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setup = Map(
      "sources.factstore_build_s" -> timed(Kpi.ensureFixtureStore(spark, fx)),
      "operators.vector_codes_build_s" -> timed(Similarity.ensureCodes(spark, fx)))

    val order = new scala.util.Random(h.args.seed).shuffle(ops)
    val queries = SparkEntry.queries
    val opWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
    val verify = Paths.get(h.args.out, "verify")
    Files.createDirectories(verify)
    // Pass 1 writes every op's result to parquet for the DuckDB oracle
    // instead of to noop: a separate dump pass would cost a full execution
    // of the mix per run.
    def pass(p: Int, phase: String, traced: Boolean): UnitRec =
      h.unit(s"pass$p", phase, traced, fixtureRows) {
        var ok = true
        order.foreach { op =>
          val t0 = System.nanoTime()
          try {
            val tr = if (traced) h.tracer else Harness.untraced
            tr.unit("query", s"$op#$p") {
              val df = tr.span("operators.plan")(queries(op)(spark, fx))
              if (p == 1) df.write.mode("overwrite").parquet(verify.resolve(op).toString)
              else tr.span("sinks.noop_write")(df.write.format("noop").mode("overwrite").save())
            }
            opWalls.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
              ((p, (System.nanoTime() - t0) / 1e9))
          } catch { case NonFatal(e) =>
            ok = false
            failures.getOrElseUpdate(op, s"pass $p: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          Release.interQuery(spark)
        }
        ok
      }((0L, 0L))

    val units = mutable.ArrayBuffer(pass(1, "cold", traced = false))
    // The pass after the cold one still runs JIT-slower. An untraced run
    // measures it and the median leaves it out; a traced run makes it a
    // warm-up, since it would bias the traced-minus-untraced overhead.
    if (h.args.trace) units += pass(2, "warmup", traced = false)

    // Measured passes go on until --seconds have passed since the first of
    // them, and at least three (four in a traced run) are measured. They
    // alternate untraced/traced in a traced run.
    val warmup = units.size
    val minMeasured = if (h.args.trace) 4 else 3
    val t0 = System.nanoTime()
    while (units.size - warmup < minMeasured || (System.nanoTime() - t0) / 1e9 < h.args.seconds)
      units += pass(units.size + 1, "measured",
        traced = h.args.trace && (units.size - warmup) % 2 == 1)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.write(verify.resolve("oracle_sql.json"), Json.render(oracle).getBytes(UTF_8))

    val perOp = opWalls.map { case (op, ws) =>
      val warm = ws.filter(_._1 > warmup).map(_._2).toSeq
      op -> Map("cold_s" -> ws.find(_._1 == 1).map(_._2).getOrElse(0.0),
        "warm_s" -> (if (warm.isEmpty) 0.0 else Stats.median(warm)))
    }.toMap
    RunResult(setup, units.toSeq, failures.toSeq, units.size * ops.size, Seq(storeWrites(storeRoot)),
      Map("op_order" -> order, "query_s" -> perOp, "fixture_rows" -> fixtureRows,
        "pass_op_sum_s" -> units.map(u => opWalls.values.flatMap(_.filter(x => s"pass${x._1}" == u.id).map(_._2)).sum)))
  }

  /** Data files and partition directories under the stores setup built. */
  private def storeWrites(dir: java.nio.file.Path): (Long, Long) = {
    val files = Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .toSeq
    (files.size.toLong,
      files.map(_.getParent).distinct.count(_.getFileName.toString.contains("=")).toLong)
  }
}
