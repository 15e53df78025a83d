package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.sources.{ArtifactStore, Tables}

/** Full-text retrieval over the documents corpus: a BM25-family ranked
  * search through an inverted index, expressed as plain joins/aggregates so
  * Catalyst plans it (term-keyed posting-list join, broadcast query side).
  *
  * Determinism contract (the repo-wide rule — no `ln`, no float sums):
  * classic BM25 is Σ_t ln((N−df+0.5)/(df+0.5)+1) · tf·(k1+1)/(tf+k1·(1−b+b·len/avgdl)).
  * We pin k1 = 3/2, b = 3/4 and score with the LOG-FREE rational surrogate
  * (the pre-log IDF ratio, the same monotone ordering per term):
  *
  *   idf    = (2N − 2df + 1) / (2df + 1)                 — ×2 clears the 0.5s
  *   adl    = TL div N                                   — avg doc length, floored
  *   tfpart = 20·tf·adl / (8·tf·adl + 3·adl + 9·len)     — k1,b cleared to integers
  *   score  = Σ_t (num div den)·2^20 + ((num mod den)·2^20) div den
  *            with num = (2N−2df+1)·20·tf·adl, den = (2df+1)·(8·tf·adl+3·adl+9·len)
  *
  * Every quantity is an exact BIGINT; the two-step quotient keeps all
  * intermediates under 2^63 through sf10 (num ≤ ~8e12, den·2^20 ≤ ~3.4e18);
  * summing longs is associative, so ranking is bit-identical under any
  * partitioning and matches the DuckDB oracle exactly.
  */
object Search {

  /** Score grid: 2^20 steps per score unit. */
  val bm25Grid: Long = 1L << 20

  /** Results per query. */
  val bm25K = 10

  /** The registered benchmark queries (fixed, like the ANN query sets). */
  val bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "hash join"),
    (2L, "window agg stream"),
    (3L, "vector scan"))

  /** Positional postings: one row per token OCCURRENCE — (doc, 0-based
    * position, token). The positional layer of the index; [[invertedIndex]]
    * is its (doc, token) aggregate, so one tokenization pass feeds both
    * artifacts at build time ([[ensureIndex]]).
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "token")))

  /** The inverted index: one posting row per (token, doc) with term
    * frequency AND the document length materialized on the posting (the
    * classic index layout — doc stats ride the posting so query time never
    * joins the corpus). Two aggregates over one tokenization pass plus a
    * doc-grain join, all hash-partitioned; at 100 TB this is the one-time
    * index build the per-query path amortizes.
    */
  def invertedIndex(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    tf.join(dl, "doc_id")
  }

  /** The full index ARTIFACT bundle a real 100 TB deployment ships: the
    * postings themselves plus the two derived tables a query needs —
    * term→document-frequency and the one-row corpus stats. Persisting all
    * three means the query path touches only query-term postings; nothing
    * at query time re-aggregates the full postings table.
    */
  final case class Bm25Index(postings: DataFrame, df: DataFrame, stats: DataFrame)

  /** Term-grain document frequency over a postings table (build-time). */
  def termDf(postings: DataFrame): DataFrame =
    postings.groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** Corpus stats frame: one row (n docs, total tokens, floored avgdl) —
    * build-time; stored beside the postings.
    */
  def corpusStats(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(first(col("len")).as("len"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("tl"))
      .select(col("n"), col("tl"), expr("tl div n").as("adl"))

  /** Build the complete index bundle from a corpus (one tokenization pass;
    * df and stats are aggregates of the postings, paid once at build time).
    */
  def buildIndex(docs: DataFrame): Bm25Index = {
    val p = invertedIndex(docs)
    Bm25Index(p, termDf(p), corpusStats(p))
  }

  /** Merge two DOC-DISJOINT index bundles — incremental maintenance.
    * Postings append (doc-disjoint rows can't collide); df merges by
    * ADDITION (each batch contributes its own docs per term — exact, not
    * approximate, precisely because batches are doc-disjoint); stats add
    * n and tl and re-derive the floored avgdl. The arriving batch is
    * hashed once, ever; stored postings are never recomputed, and the
    * merged bundle must equal a full rebuild bit-for-bit (spec-pinned).
    */
  def mergeIndex(a: Bm25Index, b: Bm25Index): Bm25Index = Bm25Index(
    a.postings.unionByName(b.postings),
    a.df.unionByName(b.df).groupBy(col("token")).agg(sum(col("df")).as("df")),
    a.stats.select(col("n"), col("tl")).unionByName(b.stats.select(col("n"), col("tl")))
      .agg(sum(col("n")).as("n"), sum(col("tl")).as("tl"))
      .select(col("n"), col("tl"), expr("tl div n").as("adl")))

  /** BM25 top-k: queries are (id, text) pairs tokenized with the corpus
    * tokenizer. The plan: postings ⋈ broadcast(query terms) — the
    * posting-list scan touches ONLY query-term postings — ⋈ broadcast
    * per-term df ⋈ broadcast one-row corpus stats, then the integer score
    * sum per (query, doc) and a per-query top-k window (partition count =
    * |queries|, each bounded by matching docs).
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)] = bm25Queries,
      k: Int = bm25K): DataFrame =
    bm25TopKFromIndex(buildIndex(docs), queries, k)

  /** Query a PREBUILT index bundle. df comes from the bundle's term-grain
    * artifact pruned to query terms (a broadcast-sized frame), corpus stats
    * from the stored one-row frame — the query plan contains NO aggregate
    * over the full postings table, which is what makes the per-query cost
    * proportional to the query-term posting lists, not the corpus.
    */
  def bm25TopKFromIndex(idx: Bm25Index, queries: Seq[(Long, String)] = bm25Queries,
      k: Int = bm25K): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qt = queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("token"))
    rankTopK(bm25Scores(idx, qt), k)
  }

  /** The BM25 scoring core against an expanded/explicit (query_id, token)
    * term frame — the shared kernel of [[bm25TopKFromIndex]] and the PRF
    * second pass. Plan: postings ⋈ broadcast(term frame ⋈ df artifact) ⋈
    * broadcast one-row stats → exact integer per-term score → (query, doc)
    * hash aggregate. The postings scan touches only the frame's terms.
    */
  private def bm25Scores(idx: Bm25Index, qt: DataFrame): DataFrame = {
    val dfr = idx.df.join(broadcast(qt), "token") // term-grain artifact, pruned to query terms
    idx.postings
      .join(broadcast(dfr), "token")
      .crossJoin(broadcast(idx.stats))
      .select(col("query_id"), col("doc_id"),
        expr("(2*n - 2*df + 1) * 20 * tf * adl").as("num"),
        expr("(2*df + 1) * (8 * tf * adl + 3 * adl + 9 * len)").as("den"))
      .select(col("query_id"), col("doc_id"),
        expr(s"(num div den) * $bm25Grid + ((num % den) * $bm25Grid) div den").as("s"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score_q"))
  }

  /** Per-query top-k of a (query_id, doc_id, score_q) frame. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------------
  // Pseudo-relevance-feedback query expansion (Rocchio-style) over the index
  // --------------------------------------------------------------------------

  /** Feedback depth: docs per query assumed relevant after pass 1. */
  val prfFeedbackDocs = 3

  /** Expansion width: new terms adopted per query. */
  val prfExpansionTerms = 2

  /** Two-pass retrieval with pseudo-relevance feedback: pass 1 ranks with
    * BM25 and takes the top-f docs as assumed-relevant; every term those
    * docs contain that is NOT already a query term is weighted by
    * `Σ_feedback tf · idfQ(t)` (the same 2^20-grid rational IDF, df-capped
    * at the [[mltDfCapOf]] stopword threshold); the top-e terms per query
    * join the original terms and pass 2 re-ranks with plain BM25 over the
    * widened term set — classic Rocchio expansion with integer weights, so
    * the final ranking is bit-deterministic under any partitioning.
    *
    * Scale shape: pass 1 is [[bm25Scores]] (query-term postings only). The
    * expansion candidate set comes from ONE postings scan semi-joined to
    * the broadcast (|queries|·f)-row feedback list — at 100 TB this is the
    * only full-scan stage and it is map-side (no shuffle; the aggregate
    * key is (query, term) over feedback-doc vocabulary only). Term weights
    * join the df ARTIFACT (never re-aggregated postings); pass 2 is
    * [[bm25Scores]] again over ≤ |q|+e terms per query. Every window is
    * per-query top-k.
    */
  def prfTopK(idx: Bm25Index, queries: Seq[(Long, String)] = bm25Queries,
      f: Int = prfFeedbackDocs, e: Int = prfExpansionTerms,
      k: Int = bm25K): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qt = queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("token"))
    val fb = rankTopK(bm25Scores(idx, qt), f).select(col("query_id"), col("doc_id"))
    val cand = idx.postings
      .join(broadcast(fb), "doc_id")
      .join(broadcast(qt), Seq("query_id", "token"), "left_anti")
      .groupBy(col("query_id"), col("token"))
      .agg(sum(col("tf")).as("tfsum"))
    val expw = idx.df.join(broadcast(cand), "token")
      .crossJoin(broadcast(idx.stats))
      .filter(col("df") <= mltDfCapOf(col("n")))
      .select(col("query_id"), col("token"),
        expr(s"tfsum * (((2*n - 2*df + 1) * $bm25Grid) div (2*df + 1))").as("wgt"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("wgt").desc, col("token"))
    val expt = expw.withColumn("r", row_number().over(we))
      .filter(col("r") <= e).select(col("query_id"), col("token"))
    val qt2 = qt.unionByName(expt).distinct()
    rankTopK(bm25Scores(idx, qt2), k)
  }

  // --------------------------------------------------------------------------
  // Related-document retrieval ("more like this") over the same index
  // --------------------------------------------------------------------------

  /** Fixed query-doc set (like the ANN/BM25 query sets). */
  val mltQueryDocs: Seq[Long] = Seq(0L, 1L, 2L)

  /** Results per query doc. */
  val mltK = 10

  /** Document-frequency cap: query terms with df above the cap are skipped —
    * champion-list pruning, THE scale lever for doc-to-doc retrieval. A
    * ubiquitous term's posting list is O(corpus) and contributes the least
    * discriminative signal; capping df bounds the candidate set by
    * Σ_{rare terms} df(t) instead of N per query doc. The default is
    * CORPUS-RELATIVE — `df ≤ (4·N) div 5`, i.e. a term in more than 80% of
    * documents is treated as a stopword — so the op stays meaningful at any
    * corpus size (an absolute cap silently empties on a small-vocabulary
    * corpus and prunes nothing on a web-scale one).
    */
  def mltDfCapOf(n: Column): Column = expr("(4 * n) div 5")

  /** Related documents for each query doc: weighted term-overlap score
    *   score(q, d) = Σ_{t ∈ q∩d, df(t) ≤ cap} min(tf_q, tf_d) · idfQ(t),
    * with idfQ the BM25 rational IDF on the 2^20 grid —
    * `((2N−2df+1)·2^20) div (2df+1)` — so everything is an exact BIGINT and
    * ranking is partitioning-invariant (the [[bm25TopK]] determinism
    * contract). min(tf) is the standard overlap tf so a term can never
    * contribute more than its occurrences on EITHER side.
    *
    * Plan shape: the query docs' own postings (a handful of rows) join the
    * df artifact and broadcast; the postings scan touches only capped
    * query-term lists; one (query_doc, doc) aggregate; per-query top-k
    * window. No full-postings aggregate anywhere — stats/df come from the
    * index bundle.
    */
  def relatedDocs(idx: Bm25Index, queryDocs: Seq[Long] = mltQueryDocs,
      k: Int = mltK, dfCap: Option[Long] = None): DataFrame = {
    val qp = idx.postings
      .filter(col("doc_id").isin(queryDocs: _*))
      .select(col("doc_id").as("query_doc"), col("token"), col("tf").as("qtf"))
    val w = idx.df.join(broadcast(qp), "token")
      .crossJoin(broadcast(idx.stats))
      .filter(col("df") <= dfCap.map(lit(_)).getOrElse(mltDfCapOf(col("n"))))
      .select(col("token"), col("query_doc"), col("qtf"),
        expr(s"((2*n - 2*df + 1) * $bm25Grid) div (2*df + 1)").as("idf_q"))
    val scored = idx.postings.join(broadcast(w), "token")
      .filter(col("doc_id") =!= col("query_doc"))
      .select(col("query_doc"), col("doc_id"),
        (least(col("tf"), col("qtf")) * col("idf_q")).as("s"))
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(sum(col("s")).as("score_q"))
    val win = Window.partitionBy(col("query_doc"))
      .orderBy(col("score_q").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------------
  // Phrase search over the positional index
  // --------------------------------------------------------------------------

  /** Fixed phrase-query set (multi-term exact phrases). */
  val phraseQueries: Seq[(Long, String)] = Seq(
    (1L, "hash join"),
    (2L, "window agg stream"),
    (3L, "fast table"))

  /** Results per phrase query. */
  val phraseK = 10

  /** Exact phrase search: rank documents by occurrences of the full
    * consecutive phrase, via the positional index. Each positional posting
    * that matches a query term nominates the candidate start offset
    * `pos − term_idx`; a start where ALL m terms of the phrase nominated
    * (distinct term_idx count = m) is one phrase occurrence — the classic
    * positional-intersection evaluation, expressed as one broadcast join +
    * one hash aggregate so Catalyst plans it.
    *
    * Scale shape: the postings scan touches only query-term occurrence
    * lists (broadcast query side prunes at the join); the aggregate key is
    * (query, doc, start) — candidate volume is Σ query-term posting sizes,
    * NEVER a per-document rescan or an m-way self-join of the index. The
    * only window is the per-query top-k. All counts exact integers.
    */
  def phraseMatch(positions: DataFrame,
      phrases: Seq[(Long, String)] = phraseQueries, k: Int = phraseK): DataFrame = {
    val spark = positions.sparkSession
    import spark.implicits._
    val qt = phrases.flatMap { case (id, p) =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) => (id, i, t, ts.length) }
    }.toDF("query_id", "term_idx", "token", "m")
    val cand = positions.join(broadcast(qt), "token")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("term_idx")).as("start"), col("term_idx"), col("m"))
    val occ = cand
      .groupBy(col("query_id"), col("doc_id"), col("start"), col("m"))
      .agg(countDistinct(col("term_idx")).as("hits"))
      .filter(col("hits") === col("m"))
    val freq = occ.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("phrase_tf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("phrase_tf").desc, col("doc_id"))
    freq.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------------
  // Hybrid retrieval: lexical ∪ dense via reciprocal-rank fusion
  // --------------------------------------------------------------------------

  /** RRF dampening constant (the standard k=60 from Cormack et al.). */
  val rrfK = 60L

  /** Hybrid related-document retrieval: the lexical ranking
    * ([[relatedDocs]] over the index bundle) FUSED with the dense ranking
    * (the query doc's in-cell cosine neighbors over its embedding) by
    * reciprocal-rank fusion — `Σ 10^6 div (60 + rank)` per ranker, exact
    * integers so the fused order is bit-stable. A doc found by only one
    * ranker keeps that ranker's contribution (full outer join); ties break
    * to the lower doc_id. This is the production RAG retrieval shape:
    * sparse and dense candidate generation run independently (each with its
    * own pruning — df caps / IVF cells), and only the tiny per-query rank
    * lists meet for fusion.
    */
  def hybridRrf(idx: Bm25Index, embs: DataFrame,
      queryDocs: Seq[Long] = mltQueryDocs, k: Int = mltK): DataFrame = {
    val lex = relatedDocs(idx, queryDocs, k)
      .select(col("query_doc"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = Similarity.ivfTopK(embs, col("vec_id").isin(queryDocs: _*), k)
      .select(col("query_id").as("query_doc"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val fused = lex.join(dense, Seq("query_doc", "doc_id"), "full_outer")
      .select(col("query_doc"), col("doc_id"),
        (coalesce(expr(s"1000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + dense_rank)"), lit(0L)))
          .cast("long").as("rrf_ppm"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // --------------------------------------------------------------------------
  // Hard-negative mining: lexically close, semantically far
  // --------------------------------------------------------------------------

  /** Lexical candidate depth for [[hardNegatives]]. */
  val hnLexK = 20

  /** Dense positives excluded per query doc. */
  val hnDenseK = 10

  /** Negatives returned per query doc. */
  val hnK = 5

  /** Hard-negative mining for embedding training: per query document, the
    * top lexically-similar documents ([[relatedDocs]], depth [[hnLexK]])
    * that are NOT among its [[hnDenseK]] exact dense cosine neighbors —
    * precisely the "shares vocabulary but means something else" pairs a
    * contrastive trainer needs (random negatives are trivially easy;
    * in-batch negatives are uncontrolled — lexical-but-not-semantic is
    * the curriculum). Ranked by lexical score, so the hardest negatives
    * come first.
    *
    * Plan: the lexical side is the df-capped champion-pruned related-docs
    * plan; the dense side broadcasts the |queries| vectors into one
    * corpus scan; the exclusion is a (query, doc)-keyed left_anti of two
    * top-k lists (both ≤ |queries|·k rows). Nothing new touches the
    * corpus beyond those two existing passes.
    */
  def hardNegatives(idx: Bm25Index, embs: DataFrame,
      queryDocs: Seq[Long] = mltQueryDocs): DataFrame = {
    val lex = relatedDocs(idx, queryDocs, hnLexK)
      .select(col("query_doc"), col("doc_id"), col("score_q"))
    val dense = Similarity
      .bruteForceTopK(embs, col("vec_id").isin(queryDocs: _*), hnDenseK)
      .select(col("query_id").as("query_doc"), col("neighbor_id").as("doc_id"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("score_q").desc, col("doc_id"))
    lex.join(dense, Seq("query_doc", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= hnK)
  }

  /** Relevant depth: dense neighbors treated as ground truth per query. */
  val mrrRelevantK = 3

  /** Mean-reciprocal-rank evaluation of the LEXICAL ranker against DENSE
    * ground truth: per query doc, the exact cosine top-[[mrrRelevantK]]
    * neighbors are "relevant", the [[relatedDocs]] top-[[mltK]] list is
    * the ranking under evaluation, and the score is `1e6 div rank` of
    * the first relevant hit (0 when the lexical list misses all of them)
    * — the cross-modal agreement audit for a hybrid retrieval stack (a
    * falling MRR here is the signal to retune RRF weights or retrain
    * embeddings). Reciprocal rank rather than nDCG because 1/r is exact
    * on the integer grid while log₂ discounts are not (the repo-wide
    * rule).
    *
    * Plan: two existing bounded plans (champion-pruned lexical, one
    * broadcast dense pass) meet at a |queries|·k pair join; zero-hit
    * queries survive via the broadcast query-doc frame.
    */
  def mrrEval(idx: Bm25Index, embs: DataFrame,
      queryDocs: Seq[Long] = mltQueryDocs): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val lex = relatedDocs(idx, queryDocs, mltK)
      .select(col("query_doc"), col("doc_id"), col("rank"))
    val rel = Similarity
      .bruteForceTopK(embs, col("vec_id").isin(queryDocs: _*), mrrRelevantK)
      .select(col("query_id").as("query_doc"), col("neighbor_id").as("doc_id"))
    val first = lex.join(rel, Seq("query_doc", "doc_id"))
      .groupBy(col("query_doc"))
      .agg(min(col("rank")).as("first_rel_rank"))
    broadcast(queryDocs.toDF("query_doc"))
      .join(first, Seq("query_doc"), "left")
      .select(col("query_doc"),
        coalesce(col("first_rel_rank"), lit(0)).as("first_rel_rank"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("rr_ppm"))
  }

  // --------------------------------------------------------------------------
  // Persisted index store (build-once, content-stamped — the FactStore/
  // SketchStore/edge-store convention): postings + df + stats land as three
  // parquet artifacts, and every registered query reads THOSE, so the plan
  // the driver benchmarks is the amortized production read path.
  // --------------------------------------------------------------------------

  /** Baked into the store dir name — bump on any index-schema/build change.
    * v2: positional postings joined the bundle (phrase search).
    */
  val IndexStoreVersion = "v2"

  /** Build-once BM25 index bundle for the documents fixture under `srcDir`
    * (content-stamped [[graft.sources.ArtifactStore]] dir, shared
    * mechanics with the edge/tokenizer/vector stores).
    */
  def ensureIndex(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "searchstore", IndexStoreVersion) { dir =>
      // ONE tokenization pass: the positional layer lands first, and the
      // (doc, token) postings aggregate off the cached occurrences, so the
      // corpus text is split exactly once per store build.
      val pos = positionalPostings(Tables.documents(spark, srcDir)).persist()
      pos.write.mode("overwrite").parquet(s"$dir/positions")
      val tf = pos.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dl = pos.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val postings = tf.join(dl, "doc_id").persist()
      postings.write.mode("overwrite").parquet(s"$dir/postings")
      // df/stats re-derive from the persisted postings: one cached pass.
      termDf(postings).write.mode("overwrite").parquet(s"$dir/df")
      corpusStats(postings).write.mode("overwrite").parquet(s"$dir/stats")
      postings.unpersist()
      pos.unpersist()
    }

  /** The stored index bundle (building it on first use). */
  def storedIndex(spark: SparkSession, srcDir: String): Bm25Index = {
    val dir = ensureIndex(spark, srcDir)
    Bm25Index(
      ArtifactStore.readParquet(spark, s"$dir/postings"),
      ArtifactStore.readParquet(spark, s"$dir/df"),
      ArtifactStore.readParquet(spark, s"$dir/stats"))
  }

  /** The stored positional layer (building the bundle on first use). */
  def storedPositions(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureIndex(spark, srcDir)}/positions")

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  private def queryValues: String =
    bm25Queries.flatMap { case (id, text) =>
      text.split(" ").map(t => s"($id, '$t')")
    }.mkString(", ")

  private val indexCtes: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM toks GROUP BY 1),
       |dfr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len) AS BIGINT) AS tl,
       |              CAST(SUM(len) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS adl
       |       FROM dl)""".stripMargin

  /** Shared by the full and incremental ops — incremental ≡ full is the claim. */
  private lazy val bm25Oracle: String =
    s"""WITH $indexCtes,
       |qt AS (SELECT * FROM (VALUES $queryValues) AS t(query_id, token)),
       |parts AS (
       |  SELECT q.query_id, f.doc_id,
       |         (2*st.n - 2*d.df + 1) * 20 * f.tf * st.adl AS num,
       |         (2*d.df + 1) * (8 * f.tf * st.adl + 3 * st.adl + 9 * l.len) AS den
       |  FROM qt q
       |  JOIN tf f ON f.token = q.token
       |  JOIN dfr d ON d.token = q.token
       |  JOIN dl l ON l.doc_id = f.doc_id
       |  CROSS JOIN st),
       |sc AS (
       |  SELECT query_id, doc_id,
       |         SUM((num // den) * $bm25Grid + ((num % den) * $bm25Grid) // den) AS score_q
       |  FROM parts GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY score_q DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |       CAST(score_q AS BIGINT) AS score_q, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $bm25K""".stripMargin

  def ops: Seq[Op] = Seq(
    // The inverted index itself (postings with materialized doc length).
    Op.sql("search_inverted_index",
      s"""WITH $indexCtes
         |SELECT f.doc_id, f.token, f.tf, l.len
         |FROM tf f JOIN dl l USING (doc_id)""".stripMargin) { (s, d) =>
      invertedIndex(Tables.documents(s, d))
        .select(col("doc_id"), col("token"), col("tf"), col("len"))
    },

    // Incremental index maintenance: the stored bundle merged with the
    // arriving batch's bundle (postings append, df adds, stats add),
    // queried — the oracle is the FULL-rebuild query verbatim.
    Op.sql("search_bm25_incremental", bm25Oracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val stored = buildIndex(docs.filter(col("doc_id") % 10 < 8))
      val arriving = buildIndex(docs.filter(col("doc_id") % 10 >= 8))
      bm25TopKFromIndex(mergeIndex(stored, arriving))
    },

    // BM25-ranked retrieval for the fixed query set, over the PERSISTED
    // index bundle — the benchmarked plan is the amortized read path
    // (no full-postings aggregate at query time; df/stats come from the
    // stored artifacts).
    Op.sql("search_bm25_topk", bm25Oracle) { (s, d) =>
      bm25TopKFromIndex(storedIndex(s, d))
    },

    // Hybrid retrieval: lexical related-docs ∪ dense in-cell neighbors,
    // fused by integer reciprocal rank — the RAG candidate-generation shape.
    Op.sql("search_hybrid_rrf",
      s"""WITH $indexCtes,
         |qp AS (SELECT doc_id AS query_doc, token, tf AS qtf
         |       FROM tf WHERE doc_id IN (${mltQueryDocs.mkString(", ")})),
         |wq AS (
         |  SELECT qp.token, qp.query_doc, qp.qtf,
         |         ((2*st.n - 2*d.df + 1) * $bm25Grid) // (2*d.df + 1) AS idf_q
         |  FROM qp JOIN dfr d ON d.token = qp.token CROSS JOIN st
         |  WHERE d.df <= (4 * st.n) // 5),
         |lsc AS (
         |  SELECT wq.query_doc, f.doc_id,
         |         CAST(SUM(LEAST(f.tf, wq.qtf) * wq.idf_q) AS BIGINT) AS score_q
         |  FROM wq JOIN tf f ON f.token = wq.token
         |  WHERE f.doc_id <> wq.query_doc
         |  GROUP BY 1, 2),
         |lexr AS (
         |  SELECT query_doc, doc_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
         |                                 ORDER BY score_q DESC, doc_id) AS rank
         |    FROM lsc) WHERE rank <= $mltK),
         |${Similarity.ivfAssignedCte},
         |qc AS (SELECT vec_id AS query_id, embedding, n2, cell FROM assigned
         |       WHERE vec_id IN (${mltQueryDocs.mkString(", ")})),
         |dsc AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM qc q JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.query_id),
         |denser AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM dsc) WHERE rank <= $mltK),
         |fused AS (
         |  SELECT COALESCE(l.query_doc, d.query_id) AS query_doc,
         |         COALESCE(l.doc_id, d.neighbor_id) AS doc_id,
         |         CAST(COALESCE(1000000 // ($rrfK + l.rank), 0)
         |              + COALESCE(1000000 // ($rrfK + d.rank), 0) AS BIGINT) AS rrf_ppm
         |  FROM lexr l FULL OUTER JOIN denser d
         |    ON d.query_id = l.query_doc AND d.neighbor_id = l.doc_id)
         |SELECT query_doc, doc_id, rrf_ppm,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_doc
         |                               ORDER BY rrf_ppm DESC, doc_id) AS INTEGER) AS rank
         |FROM fused
         |QUALIFY rank <= $mltK""".stripMargin) { (s, d) =>
      hybridRrf(storedIndex(s, d), Tables.embeddings(s, d))
    },

    // "More like this": weighted term-overlap related docs for the fixed
    // query-doc set, df-capped (champion-list pruning), over the stored
    // index bundle.
    Op.sql("search_related_docs",
      s"""WITH $indexCtes,
         |qp AS (SELECT doc_id AS query_doc, token, tf AS qtf
         |       FROM tf WHERE doc_id IN (${mltQueryDocs.mkString(", ")})),
         |w AS (
         |  SELECT qp.token, qp.query_doc, qp.qtf,
         |         ((2*st.n - 2*d.df + 1) * $bm25Grid) // (2*d.df + 1) AS idf_q
         |  FROM qp JOIN dfr d ON d.token = qp.token CROSS JOIN st
         |  WHERE d.df <= (4 * st.n) // 5),
         |sc AS (
         |  SELECT w.query_doc, f.doc_id,
         |         CAST(SUM(LEAST(f.tf, w.qtf) * w.idf_q) AS BIGINT) AS score_q
         |  FROM w JOIN tf f ON f.token = w.token
         |  WHERE f.doc_id <> w.query_doc
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
         |                               ORDER BY score_q DESC, doc_id) AS rank
         |  FROM sc)
         |SELECT query_doc, doc_id, score_q, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $mltK""".stripMargin) { (s, d) =>
      relatedDocs(storedIndex(s, d))
    },

    // Rocchio pseudo-relevance-feedback expansion: two BM25 passes with
    // the unrolled feedback/expansion stages between them, over the stored
    // index bundle.
    Op.sql("search_prf_expansion",
      s"""WITH $indexCtes,
         |qt AS (SELECT * FROM (VALUES $queryValues) AS t(query_id, token)),
         |parts1 AS (
         |  SELECT q.query_id, f.doc_id,
         |         (2*st.n - 2*d.df + 1) * 20 * f.tf * st.adl AS num,
         |         (2*d.df + 1) * (8 * f.tf * st.adl + 3 * st.adl + 9 * l.len) AS den
         |  FROM qt q
         |  JOIN tf f ON f.token = q.token
         |  JOIN dfr d ON d.token = q.token
         |  JOIN dl l ON l.doc_id = f.doc_id
         |  CROSS JOIN st),
         |sc1 AS (
         |  SELECT query_id, doc_id,
         |         SUM((num // den) * $bm25Grid + ((num % den) * $bm25Grid) // den) AS score_q
         |  FROM parts1 GROUP BY 1, 2),
         |fb AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY score_q DESC, doc_id) AS r
         |    FROM sc1) WHERE r <= $prfFeedbackDocs),
         |cand AS (
         |  SELECT fb.query_id, f.token, CAST(SUM(f.tf) AS BIGINT) AS tfsum
         |  FROM fb JOIN tf f ON f.doc_id = fb.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM qt q
         |                    WHERE q.query_id = fb.query_id AND q.token = f.token)
         |  GROUP BY 1, 2),
         |expw AS (
         |  SELECT c.query_id, c.token,
         |         c.tfsum * (((2*st.n - 2*d.df + 1) * $bm25Grid) // (2*d.df + 1)) AS wgt
         |  FROM cand c JOIN dfr d ON d.token = c.token CROSS JOIN st
         |  WHERE d.df <= (4 * st.n) // 5),
         |expt AS (
         |  SELECT query_id, token FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY wgt DESC, token) AS r
         |    FROM expw) WHERE r <= $prfExpansionTerms),
         |qt2 AS (SELECT query_id, token FROM qt
         |        UNION SELECT query_id, token FROM expt),
         |parts2 AS (
         |  SELECT q.query_id, f.doc_id,
         |         (2*st.n - 2*d.df + 1) * 20 * f.tf * st.adl AS num,
         |         (2*d.df + 1) * (8 * f.tf * st.adl + 3 * st.adl + 9 * l.len) AS den
         |  FROM qt2 q
         |  JOIN tf f ON f.token = q.token
         |  JOIN dfr d ON d.token = q.token
         |  JOIN dl l ON l.doc_id = f.doc_id
         |  CROSS JOIN st),
         |sc2 AS (
         |  SELECT query_id, doc_id,
         |         SUM((num // den) * $bm25Grid + ((num % den) * $bm25Grid) // den) AS score_q
         |  FROM parts2 GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |       CAST(score_q AS BIGINT) AS score_q,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY score_q DESC, doc_id) AS INTEGER) AS rank
         |FROM sc2
         |QUALIFY rank <= $bm25K""".stripMargin) { (s, d) =>
      prfTopK(storedIndex(s, d))
    },

    // Hard negatives: top lexical neighbors that are NOT dense neighbors,
    // ranked hardest-first — the contrastive-training curriculum miner.
    Op.sql("search_hard_negatives",
      s"""WITH $indexCtes,
         |qp AS (SELECT doc_id AS query_doc, token, tf AS qtf
         |       FROM tf WHERE doc_id IN (${mltQueryDocs.mkString(", ")})),
         |wq AS (
         |  SELECT qp.token, qp.query_doc, qp.qtf,
         |         ((2*st.n - 2*d.df + 1) * $bm25Grid) // (2*d.df + 1) AS idf_q
         |  FROM qp JOIN dfr d ON d.token = qp.token CROSS JOIN st
         |  WHERE d.df <= (4 * st.n) // 5),
         |lsc AS (
         |  SELECT wq.query_doc, f.doc_id,
         |         CAST(SUM(LEAST(f.tf, wq.qtf) * wq.idf_q) AS BIGINT) AS score_q
         |  FROM wq JOIN tf f ON f.token = wq.token
         |  WHERE f.doc_id <> wq.query_doc
         |  GROUP BY 1, 2),
         |lexr AS (
         |  SELECT query_doc, doc_id, score_q FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
         |                                 ORDER BY score_q DESC, doc_id) AS r
         |    FROM lsc) WHERE r <= $hnLexK),
         |ev AS (
         |  SELECT vec_id, embedding,
         |         ${graft.functions.GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |dsc AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |         ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM ev q JOIN ev v ON v.vec_id <> q.vec_id
         |  WHERE q.vec_id IN (${mltQueryDocs.mkString(", ")})),
         |denser AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM dsc) WHERE rank <= $hnDenseK),
         |neg AS (
         |  SELECT l.* FROM lexr l
         |  WHERE NOT EXISTS (SELECT 1 FROM denser d
         |                    WHERE d.query_id = l.query_doc
         |                      AND d.neighbor_id = l.doc_id))
         |SELECT query_doc, doc_id, score_q,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_doc
         |                               ORDER BY score_q DESC, doc_id) AS INTEGER)
         |         AS neg_rank
         |FROM neg
         |QUALIFY neg_rank <= $hnK""".stripMargin) { (s, d) =>
      hardNegatives(storedIndex(s, d), Tables.embeddings(s, d))
    },

    // MRR of the lexical ranker against dense ground truth (1/r exact).
    Op.sql("search_mrr_eval",
      s"""WITH $indexCtes,
         |qp AS (SELECT doc_id AS query_doc, token, tf AS qtf
         |       FROM tf WHERE doc_id IN (${mltQueryDocs.mkString(", ")})),
         |wq AS (
         |  SELECT qp.token, qp.query_doc, qp.qtf,
         |         ((2*st.n - 2*d.df + 1) * $bm25Grid) // (2*d.df + 1) AS idf_q
         |  FROM qp JOIN dfr d ON d.token = qp.token CROSS JOIN st
         |  WHERE d.df <= (4 * st.n) // 5),
         |lsc AS (
         |  SELECT wq.query_doc, f.doc_id,
         |         CAST(SUM(LEAST(f.tf, wq.qtf) * wq.idf_q) AS BIGINT) AS score_q
         |  FROM wq JOIN tf f ON f.token = wq.token
         |  WHERE f.doc_id <> wq.query_doc
         |  GROUP BY 1, 2),
         |lexr AS (
         |  SELECT query_doc, doc_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
         |                                 ORDER BY score_q DESC, doc_id) AS rank
         |    FROM lsc) WHERE rank <= $mltK),
         |ev AS (
         |  SELECT vec_id, embedding,
         |         ${graft.functions.GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |dsc AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |         ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM ev q JOIN ev v ON v.vec_id <> q.vec_id
         |  WHERE q.vec_id IN (${mltQueryDocs.mkString(", ")})),
         |denser AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM dsc) WHERE rank <= $mrrRelevantK),
         |fr AS (
         |  SELECT l.query_doc, MIN(l.rank) AS frr
         |  FROM lexr l JOIN denser d
         |    ON d.query_id = l.query_doc AND d.neighbor_id = l.doc_id
         |  GROUP BY 1),
         |qd AS (SELECT CAST(unnest([${mltQueryDocs.mkString(", ")}]) AS BIGINT)
         |         AS query_doc)
         |SELECT qd.query_doc,
         |       CAST(COALESCE(fr.frr, 0) AS INTEGER) AS first_rel_rank,
         |       CAST(COALESCE(1000000 // fr.frr, 0) AS BIGINT) AS rr_ppm
         |FROM qd LEFT JOIN fr USING (query_doc)""".stripMargin) { (s, d) =>
      mrrEval(storedIndex(s, d), Tables.embeddings(s, d))
    },

    // Exact phrase search over the stored positional index.
    Op.sql("search_phrase_match", {
      val phraseValues = phraseQueries.flatMap { case (id, p) =>
        val ts = p.split(" ")
        ts.zipWithIndex.map { case (t, i) => s"($id, $i, '$t', ${ts.length})" }
      }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
         |toks AS (SELECT doc_id, generate_subscripts(ls, 1) - 1 AS pos,
         |                unnest(ls) AS token
         |         FROM d),
         |qt AS (SELECT * FROM (VALUES $phraseValues)
         |       AS t(query_id, term_idx, token, m)),
         |cand AS (SELECT q.query_id, t.doc_id, t.pos - q.term_idx AS start,
         |                q.term_idx, q.m
         |         FROM toks t JOIN qt q ON q.token = t.token),
         |occ AS (SELECT query_id, doc_id, start, m,
         |               COUNT(DISTINCT term_idx) AS hits
         |        FROM cand GROUP BY 1, 2, 3, 4),
         |freq AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS phrase_tf
         |         FROM occ WHERE hits = m GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, phrase_tf,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY phrase_tf DESC, doc_id) AS INTEGER) AS rank
         |FROM freq QUALIFY rank <= $phraseK""".stripMargin
    }) { (s, d) =>
      phraseMatch(storedPositions(s, d))
    },
  )
}
