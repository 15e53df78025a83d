package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The stored curation state an incremental manifest loop reads — the
  * production shape of [[graft.operators.TextOps.trainingManifestIncremental]]'s
  * inputs (reference analog: the pipeline's own maintained stores,
  * transform_task.py:121-447 keeps derived state between runs; the LLM
  * extension generalizes that to curation state).
  *
  * Four narrow content-stamped tables, built ONCE per fixture version via
  * [[ArtifactStore]] (ingest-time work — a production pipeline appends to
  * these as batches land; query time reads them):
  *   - `labels`    (doc_id, cluster_id): the near-dup star forest;
  *   - `survivors` (cluster_id, survivor_id, survivor_quality): CLUSTER-grain
  *     best candidates (argmax is associative, so these stand in for all
  *     members in any later survivor merge);
  *   - `owners`    (text_key, canonical_id): digest-grain exact-dup owners;
  *   - `sigindex`  (doc_id, h1, n, sig): the MinHash signature index — the
  *     expensive text-hashing pass, paid exactly once per document ever.
  *
  * The fixture convention mirrors the suite's incremental ops: history =
  * `doc_id % 7 != 0`, the arriving batch = `doc_id % 7 == 0`. Labels are
  * built DIRECTLY (`connectedComponents(minhashPairs(hist))`), never via
  * the one-entry [[graft.operators.Dedup.clusters]] memo — a history-split
  * key there evicts the full-corpus entry and bills a re-cluster to the
  * next full-corpus query (measured r12, PERF.md).
  */
object CurationStore {

  /** Bump on any schema or build change. */
  val Version = "v1"

  def ensureFixture(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "curationstore", Version) { dir =>
      val hist = Tables.documents(spark, srcDir)
        .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val idx = Dedup.minhashIndex(hist)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.write.mode("overwrite").parquet(s"$dir/sigindex")
      val labels = hist.select(col("doc_id"))
        .join(Dedup.connectedComponents(Dedup.minhashPairs(hist))
          .select(col("node").as("doc_id"), col("label").as("cid")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      labels.write.mode("overwrite").parquet(s"$dir/labels")
      Dedup.clusterSurvivors(hist, labels)
        .select(col("cluster_id"), col("survivor_id"), col("survivor_quality"))
        .write.mode("overwrite").parquet(s"$dir/survivors")
      Dedup.exactGroups(hist)
        .select(col("text_key"), col("canonical_id"))
        .write.mode("overwrite").parquet(s"$dir/owners")
      labels.unpersist()
      idx.unpersist()
    }

  def labels(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureFixture(spark, srcDir)}/labels")

  def survivors(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureFixture(spark, srcDir)}/survivors")

  def owners(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureFixture(spark, srcDir)}/owners")

  def sigIndex(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureFixture(spark, srcDir)}/sigindex")
}
