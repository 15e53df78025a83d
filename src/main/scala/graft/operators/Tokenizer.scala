package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.sources.{ArtifactStore, Tables}

/** BPE tokenizer training (Sennrich et al., "Neural Machine Translation of
  * Rare Words with Subword Units") as a distributed Spark computation — the
  * training-data-pipeline op that turns a curated corpus into a subword
  * vocabulary.
  *
  * Scale shape: the 100 TB corpus is scanned ONCE, into the word-frequency
  * table (one hash aggregate); every merge round after that runs at
  * word-vocabulary grain — (word, pos, sym) rows, millions not billions —
  * with all windows partitioned by word (no global sort anywhere). The
  * argmax pair per round is a driver artifact of exactly one row (the
  * k-means-codebook pattern); the symbol frame `localCheckpoint`s every
  * round (the iterative-loop lesson from [[Dedup.connectedComponents]]).
  *
  * Greedy left-to-right merge semantics: within a run of CONSECUTIVE
  * matches of the chosen pair (which can only happen for doubled symbols,
  * e.g. pair (a,a) on "aaaa"), BPE merges positions 0,2,4… of the run. The
  * run detection is gaps-and-islands over the match positions and the rule
  * "keep even offsets within the island" — both engines compute it
  * identically, so the trained merges are bit-identical to the oracle.
  */
object Tokenizer {

  /** Number of merge rounds for the registered query (unrolled in the oracle). */
  val bpeMerges = 8

  /** Word-end marker appended to every word's symbol sequence. */
  val wordEnd = "</w>"

  /** Corpus → (word, freq): the single full scan. */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Train `merges` BPE rounds. Returns the merge table
    * (merge_rank, left_sym, right_sym, pair_freq) — the tokenizer artifact.
    */
  def bpeTrain(docs: DataFrame, merges: Int = bpeMerges): DataFrame =
    bpeTrainState(docs, merges)._1

  /** Final symbol vocabulary after training: (sym, total_freq, n_words). */
  def bpeVocab(docs: DataFrame, merges: Int = bpeMerges): DataFrame =
    bpeVocabFromSyms(bpeTrainState(docs, merges)._2)

  /** Final word→symbols state after training — the input [[bpeEncodeFromSyms]]
    * and [[bpeFertility]] consume (what [[storedSyms]] persists).
    */
  def trainedSyms(docs: DataFrame, merges: Int = bpeMerges): DataFrame =
    bpeTrainState(docs, merges)._2

  /** Shared trainer: (merge table, final symbol frame). */
  private def bpeTrainState(docs: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFreqs(docs)
    var syms = words.select(col("word"), col("freq"),
        posexplode(concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit(wordEnd)))).as(Seq("p0", "sym")))
      .select(col("word"), col("freq"), (col("p0") + 1).cast(LongType).as("pos"), col("sym"))
      .localCheckpoint()
    val byWord = Window.partitionBy(col("word")).orderBy(col("pos"))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    (1 to merges).foreach { r =>
      val paired = syms.withColumn("nxt", lead(col("sym"), 1).over(byWord))
      val bestRow = paired.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("lft"), col("nxt").as("rgt"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (bestRow.isEmpty) return (out.result().toDF(
        "merge_rank", "left_sym", "right_sym", "pair_freq")
        .select(col("merge_rank").cast(IntegerType), col("left_sym"),
          col("right_sym"), col("pair_freq")), syms)
      val (a, b, pf) = (bestRow.head.getString(0), bestRow.head.getString(1),
        bestRow.head.getLong(2))
      out += ((r, a, b, pf))
      val m = col("nxt").isNotNull && col("sym") === lit(a) && col("nxt") === lit(b)
      val marked = paired.withColumn("m", m)
        // island id: pos − rank-among-matches is constant within a run of
        // consecutive matches (matches are adjacent symbols; pos is dense)
        .withColumn("grp", when(col("m"),
          col("pos") - sum(when(col("m"), 1L).otherwise(0L)).over(
            byWord.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      val island = Window.partitionBy(col("word"), col("grp"))
      val kept = marked.withColumn("kp",
          col("m") && (col("pos") - min(col("pos")).over(island)) % 2 === 0)
        .withColumn("dropped",
          coalesce(lag(col("kp"), 1).over(byWord), lit(false)))
      val prev = syms
      syms = kept.filter(!col("dropped"))
        .select(col("word"), col("freq"),
          row_number().over(byWord).cast(LongType).as("pos"),
          when(col("kp"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"))
        .localCheckpoint()
      // bounded in-flight state: the new checkpoint no longer reads prev's
      // blocks, so round r-1's symbol frame releases now — merges × vocab-
      // grain accumulation is storage pressure the trainer never needs.
      // (No round guard here: round 1's prev is the initial symbol
      // checkpoint, created by this loop and read by nothing later.)
      graft.Release.releaseCheckpoint(prev)
    }
    (out.result().toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"), col("pair_freq")), syms)
  }

  /** ENCODE the corpus with the trained tokenizer — the step an LLM data
    * pipeline actually ships: per-document counts of final subword symbols.
    *
    * Scale shape: the corpus is scanned once into (doc, word, n) — one hash
    * aggregate — and the symbolization is computed ONCE at word-vocabulary
    * grain (the trainer's final state), then joined back word-keyed; no
    * per-document re-derivation of merges, no window over the corpus. In a
    * production pipeline the word→symbols table is the stored tokenizer
    * artifact and the encode pass is just this join + aggregate.
    */
  def bpeEncode(docs: DataFrame, merges: Int = bpeMerges): DataFrame =
    bpeEncodeFromSyms(docs, bpeTrainState(docs, merges)._2)

  /** Tokenizer FERTILITY per source: encoded tokens divided by words — THE
    * standard tokenizer-quality metric (a fertility near 1 means the vocab
    * captures whole words of that source; high fertility means the source
    * fragments into many subwords and will cost proportionally more
    * training-token budget). Exact integer token/word masses under one ppm
    * division. Word symbol-lengths come from the trained state at
    * word-vocab grain; the corpus re-joins it word-keyed, like
    * [[bpeEncode]].
    */
  def bpeFertility(docs: DataFrame, syms: DataFrame): DataFrame = {
    val wordLen = syms.groupBy(col("word")).agg(count(lit(1)).as("k"))
    val sourceWords = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    sourceWords.join(wordLen, "word")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"), sum(col("n") * col("k")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        expr("(n_tokens * 1000000) div n_words").as("fertility_ppm"))
  }

  // --------------------------------------------------------------------------
  // Trained-tokenizer store (build-once, content-stamped — the edge-store /
  // search-store convention): the merge table and the word→symbols state
  // are THE tokenizer artifact a production pipeline ships; training runs
  // once per corpus version and every registered op reads the artifact.
  // --------------------------------------------------------------------------

  /** Baked into the store dir name — bump on any trainer/schema change. */
  val TokenizerStoreVersion = "v1"

  /** Train-once BPE artifact for the documents fixture under `srcDir`:
    * `merges` (the ranked merge table) + `syms` (the final word→symbol
    * state) — a content-stamped [[graft.sources.ArtifactStore]] dir.
    */
  def ensureTrained(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "bpestore", TokenizerStoreVersion) { dir =>
      val (merges, syms) = bpeTrainState(Tables.documents(spark, srcDir), bpeMerges)
      merges.write.mode("overwrite").parquet(s"$dir/merges")
      syms.write.mode("overwrite").parquet(s"$dir/syms")
    }

  /** Stored merge table (training on first use). */
  def storedMerges(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureTrained(spark, srcDir)}/merges")

  /** Stored final word→symbols state (training on first use). */
  def storedSyms(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureTrained(spark, srcDir)}/syms")

  /** [[bpeVocab]] over a prebuilt symbol state. */
  def bpeVocabFromSyms(syms: DataFrame): DataFrame =
    syms.groupBy(col("sym"))
      .agg(sum(col("freq")).as("total_freq"), count_distinct(col("word")).as("n_words"))

  /** [[bpeEncode]] over a prebuilt symbol state — the production encode
    * pass: one corpus scan to (doc, word, n), one word-keyed join against
    * the stored artifact.
    */
  def bpeEncodeFromSyms(docs: DataFrame, syms: DataFrame): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    val wordSyms = syms.groupBy(col("word"), col("sym")).agg(count(lit(1)).as("k"))
    docWords.join(wordSyms, "word")
      .groupBy(col("doc_id"), col("sym"))
      .agg(sum(col("n") * col("k")).as("n_tokens"))
  }

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  /** Oracle CTEs: word freqs + initial symbols, then per round the identical
    * lead/argmax/islands/merge pipeline, unrolled [[bpeMerges]] times.
    */
  private def bpeCtes(rounds: Int): String = {
    val head =
      s"""wf AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |s0 AS (
         |  SELECT word, freq, CAST(i AS BIGINT) AS pos,
         |         CASE WHEN i <= length(word) THEN substr(word, i, 1)
         |              ELSE '$wordEnd' END AS sym
         |  FROM (SELECT word, freq,
         |               unnest(generate_series(1, length(word) + 1)) AS i
         |        FROM wf))""".stripMargin
    val rs = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      s"""pp$r AS (
         |  SELECT word, freq, pos, sym,
         |         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM $prev),
         |best$r AS (
         |  SELECT sym AS lft, nxt AS rgt, SUM(freq) AS pf
         |  FROM pp$r WHERE nxt IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY pf DESC, lft, rgt LIMIT 1),
         |mk$r AS (
         |  SELECT p.*, (p.nxt IS NOT NULL AND p.sym = b.lft AND p.nxt = b.rgt) AS m
         |  FROM pp$r p CROSS JOIN best$r b),
         |g$r AS (
         |  SELECT *, CASE WHEN m THEN pos - SUM(CASE WHEN m THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY word ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS grp
         |  FROM mk$r),
         |k$r AS (
         |  SELECT *, (m AND (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0) AS kp
         |  FROM g$r),
         |d$r AS (
         |  SELECT *, COALESCE(LAG(kp) OVER (PARTITION BY word ORDER BY pos), FALSE) AS dropped
         |  FROM k$r),
         |s$r AS (
         |  SELECT word, freq,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
         |         CASE WHEN kp THEN sym || nxt ELSE sym END AS sym
         |  FROM d$r WHERE NOT dropped)""".stripMargin
    }
    (head +: rs).mkString(",\n")
  }

  private def mergesOracle: String = {
    val sel = (1 to bpeMerges).map { r =>
      s"""SELECT $r AS merge_rank, lft AS left_sym, rgt AS right_sym,
         |       CAST(pf AS BIGINT) AS pair_freq FROM best$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(bpeMerges)}
       |SELECT CAST(merge_rank AS INTEGER) AS merge_rank, left_sym, right_sym, pair_freq
       |FROM ($sel)""".stripMargin
  }

  private def vocabOracle: String =
    s"""WITH ${bpeCtes(bpeMerges)}
       |SELECT sym, CAST(SUM(freq) AS BIGINT) AS total_freq,
       |       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
       |FROM s$bpeMerges GROUP BY sym""".stripMargin

  def ops: Seq[Op] = Seq(
    // The trained merge table — the tokenizer artifact itself, read from
    // the train-once store (oracle re-derives from scratch; identical).
    Op.sql("text_bpe_merges", mergesOracle) { (s, d) =>
      storedMerges(s, d)
    },
    // The symbol vocabulary the corpus tokenizes into after those merges.
    Op.sql("text_bpe_vocab", vocabOracle) { (s, d) =>
      bpeVocabFromSyms(storedSyms(s, d))
    },
    // Tokenize the corpus with the trained tokenizer: per-doc symbol counts.
    Op.sql("text_bpe_encode",
      s"""WITH ${bpeCtes(bpeMerges)},
         |dw AS (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY 1, 2),
         |wsy AS (SELECT word, sym, CAST(COUNT(*) AS BIGINT) AS k
         |        FROM s$bpeMerges GROUP BY 1, 2)
         |SELECT dw.doc_id, w.sym, CAST(SUM(dw.n * w.k) AS BIGINT) AS n_tokens
         |FROM dw JOIN wsy w USING (word)
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      bpeEncodeFromSyms(Tables.documents(s, d), storedSyms(s, d))
    },
    // Tokens-per-word by source under the trained tokenizer — the fertility
    // report that prices each source's training-token budget.
    Op.sql("text_bpe_fertility",
      s"""WITH ${bpeCtes(bpeMerges)},
         |wl AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS k
         |       FROM s$bpeMerges GROUP BY word),
         |sw AS (
         |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY 1, 2)
         |SELECT sw.source, CAST(SUM(sw.n) AS BIGINT) AS n_words,
         |       CAST(SUM(sw.n * wl.k) AS BIGINT) AS n_tokens,
         |       CAST((CAST(SUM(sw.n * wl.k) AS BIGINT) * 1000000)
         |            // CAST(SUM(sw.n) AS BIGINT) AS BIGINT) AS fertility_ppm
         |FROM sw JOIN wl USING (word)
         |GROUP BY sw.source""".stripMargin) { (s, d) =>
      bpeFertility(Tables.documents(s, d), storedSyms(s, d))
    },
  )
}
