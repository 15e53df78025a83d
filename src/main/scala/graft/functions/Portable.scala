package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-portable building blocks for the text / sketch / vector operators.
  *
  * Everything here is chosen so Spark and the DuckDB oracle compute
  * BIT-IDENTICAL values:
  *
  *  - [[hash60]]: a 60-bit hash = first 15 hex chars of md5. Both engines have
  *    md5; Spark decodes hex via `conv(_,16,10)`, DuckDB via a '0x' cast. 60
  *    bits < 63 keeps it in signed-long range with no overflow semantics in
  *    play. (Spark's native xxhash64/crc32 would be faster but have no DuckDB
  *    twin — portability wins for the oracle-checked surface; see
  *    perf note in Dedup.)
  *  - [[dotDec]]/[[norm2Dec]]: element products computed in double (IEEE,
  *    deterministic), then summed as DECIMAL(18,9) — decimal addition is
  *    exact and order-independent, so 32-partition Spark and single-threaded
  *    DuckDB agree to the bit, and so would a 1000-executor cluster.
  *  - Ratios are written `CAST(int AS DOUBLE) / int` on both sides — a single
  *    IEEE division of identical operands.
  */
object Portable {

  /** Sum of doubles with a deterministic, order-independent result: each
    * value is cast to DECIMAL(18,4), the decimals sum exactly in any order,
    * and the total is cast back to double — bit-identical with [[dsumSql]]
    * in DuckDB, where a plain `sum(double)` drifts in the last ULP.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** SQL twin of [[dsum]] (Spark SQL and DuckDB). */
  def dsumSql(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"

  /** 60-bit portable hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB twin of [[hash60]]. */
  def hash60Sql(x: String): String =
    s"CAST(('0x'||substr(md5($x),1,15)) AS BIGINT)"

  /** One 60-bit value from a 32-hex-char md5 digest column, starting at
    * 1-based hex position `start` (use 1 and 16 for two independent halves of
    * a single digest — the md5 is computed once, both halves are free).
    */
  def hexToLong(digest: Column, start: Int): Column =
    conv(substring(digest, start, 15), 16, 10).cast(LongType)

  def hexToLongSql(digest: String, start: Int): String =
    s"CAST(('0x'||substr($digest,$start,15)) AS BIGINT)"

  /** Bit positions for an MSB-aligned Morton (Z-order) interleave of an
    * `aBits`-bit and a `bBits`-bit value: most-significant bits of BOTH
    * dimensions land in the top positions of the key, alternating while both
    * have bits left. Plain LSB interleaving would let the wider dimension's
    * high bits monopolize the top of the key — a Z-sort would then degrade
    * to a single-column sort and the narrow dimension would never cluster.
    */
  private def zorderPositions(aBits: Int, bBits: Int): (Array[Int], Array[Int]) = {
    val pa = new Array[Int](aBits)
    val pb = new Array[Int](bBits)
    var pos = aBits + bBits - 1
    (0 until math.max(aBits, bBits)).foreach { d =>
      if (d < aBits) { pa(aBits - 1 - d) = pos; pos -= 1 }
      if (d < bBits) { pb(bBits - 1 - d) = pos; pos -= 1 }
    }
    (pa, pb)
  }

  /** Morton (Z-order) clustering key over the low `aBits`/`bBits` bits of
    * two non-negative integer columns — sorting by it keeps BOTH dimensions
    * locally narrow, so parquet file/row-group min-max stats prune scans
    * filtered on EITHER column (a single-column sort leaves the other
    * dimension full-range in every file; see [[graft.sources.Layout]]).
    * Pure integer shift/mask arithmetic, bit-identical in any engine.
    * Callers size the bit widths from column stats (values above the width
    * alias into the same key range — harmless for layout, but widths should
    * cover the domain for best clustering).
    */
  def zorderKey(a: Column, aBits: Int, b: Column, bBits: Int): Column = {
    val (pa, pb) = zorderPositions(aBits, bBits)
    val terms =
      pa.zipWithIndex.map { case (p, j) =>
        shiftright(a.cast(LongType), j).bitwiseAND(lit(1L)) * lit(1L << p) } ++
      pb.zipWithIndex.map { case (p, j) =>
        shiftright(b.cast(LongType), j).bitwiseAND(lit(1L)) * lit(1L << p) }
    terms.reduce(_ + _)
  }

  /** DuckDB twin of [[zorderKey]]. */
  def zorderKeySql(a: String, aBits: Int, b: String, bBits: Int): String = {
    val (pa, pb) = zorderPositions(aBits, bBits)
    val terms =
      pa.zipWithIndex.map { case (p, j) => s"((($a) >> $j) & 1) * ${1L << p}" } ++
      pb.zipWithIndex.map { case (p, j) => s"((($b) >> $j) & 1) * ${1L << p}" }
    terms.mkString("(", " + ", ")")
  }

  /** DuckDB twin of [[HilbertKey]]: the same 16-level rotate-and-accumulate
    * walk spelled as nested subqueries (one per level) — NOT one unrolled
    * expression, which would double per level. `__SRC__` is the caller's
    * relation placeholder; the result column is `hd`, and the walk's working
    * columns `hx`/`hy` are dropped at the outermost level by the caller's
    * projection.
    */
  def hilbertKeySql(x: String, y: String): String = {
    val bits = graft.functions.HilbertKey.Bits
    val mask = graft.functions.HilbertKey.Mask
    var q = s"SELECT *, CAST($x AS BIGINT) & $mask AS hx, " +
      s"CAST($y AS BIGINT) & $mask AS hy, CAST(0 AS BIGINT) AS hd FROM __SRC__"
    for (i <- bits - 1 to 0 by -1) {
      val s = 1L << i
      val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
      q = s"SELECT * EXCLUDE (hx, hy, hd), " +
        s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx, " +
        s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy, " +
        s"hd + CAST(${s * s} AS BIGINT) * xor(3 * $rx, $ry) AS hd " +
        s"FROM ($q)"
    }
    q
  }

  /** Word n-gram shingles of a (pre-split) words array, deduplicated.
    * Caller must ensure `size(words) >= n` (Spark's `sequence(1, k)` with k<1
    * would count DOWN; the ops filter short docs out explicitly on both sides).
    */
  def shingles(words: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(1), size(words) - (n - 1)),
      i => concat_ws(" ", slice(words, i, lit(n)))))

  /** DuckDB twin of [[shingles]] (1-based inclusive slices, like Spark's). */
  def shinglesSql(ws: String, n: Int): String =
    s"list_distinct(list_transform(generate_series(1, len($ws)-${n - 1}), i -> array_to_string($ws[i:i+${n - 1}], ' ')))"

  private val dec = DecimalType(18, 9)

  /** Exact, order-independent dot product of two float-array columns. */
  def dotDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) * y.cast(DoubleType)).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(DecimalType(18, 9))).cast(DoubleType)

  def dotDecSql(a: String, b: String): String =
    s"CAST(list_sum([CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(18,9)) FOR x IN list_zip($a, $b)]) AS DOUBLE)"

  /** Exact squared L2 norm of a float-array column. */
  def norm2Dec(a: Column): Column =
    aggregate(
      transform(a, x => (x.cast(DoubleType) * x.cast(DoubleType)).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(DecimalType(18, 9))).cast(DoubleType)

  def norm2DecSql(a: String): String =
    s"CAST(list_sum([CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(18,9)) FOR x IN $a]) AS DOUBLE)"

  /** Cosine similarity, bit-identical across engines (sqrt is IEEE
    * correctly-rounded, division is a single IEEE op).
    */
  def cosine(a: Column, b: Column): Column =
    dotDec(a, b) / (sqrt(norm2Dec(a)) * sqrt(norm2Dec(b)))

  def cosineSql(a: String, b: String): String =
    s"${dotDecSql(a, b)} / (sqrt(${norm2DecSql(a)}) * sqrt(${norm2DecSql(b)}))"
}
