package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{functions => F}

/** Public Column-level API of the engine's custom functions —
  * the Scala-facing equivalent of `org.apache.spark.sql.functions`.
  *
  * {{{
  * import graft.functions._
  * embeddings.select(cosine_sim($"embedding", lit_vector(probe)))
  * }}}
  */
package object functions {

  /** Cosine similarity of two ARRAY<FLOAT> columns → DOUBLE. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftSql.column(CosineSim(GraftSql.expression(a), GraftSql.expression(b)))

  /** Null-on-dimension-mismatch cosine similarity (try_-style). */
  def try_cosine_sim(a: Column, b: Column): Column =
    GraftSql.column(TryCosineSim(GraftSql.expression(a), GraftSql.expression(b)))

  /** Dot product of two ARRAY<FLOAT> columns → DOUBLE. */
  def vector_dot(a: Column, b: Column): Column =
    GraftSql.column(VectorDot(GraftSql.expression(a), GraftSql.expression(b)))

  /** L2 distance of two ARRAY<FLOAT> columns → DOUBLE. */
  def l2_distance(a: Column, b: Column): Column =
    GraftSql.column(L2Distance(GraftSql.expression(a), GraftSql.expression(b)))

  /** L2 norm of an ARRAY<FLOAT> column → DOUBLE. */
  def vector_norm(a: Column): Column =
    GraftSql.column(VectorNorm(GraftSql.expression(a)))

  /** PQ code assignment: L2-argmin codeword index of `sv` within
    * subspace `sub` of the nested codebook literal → INT. */
  def pq_argmin(sv: Column, sub: Column, cbAll: Column): Column =
    GraftSql.column(PqArgmin(GraftSql.expression(sv),
      GraftSql.expression(sub), GraftSql.expression(cbAll)))

  /** Symmetric int8 quantization ARRAY<FLOAT> → BINARY (4× smaller;
    * cosine-compatible without a stored scale). */
  def quantize_i8(v: Column): Column =
    GraftSql.column(QuantizeI8(GraftSql.expression(v)))

  /** Cosine similarity of two int8-quantized BINARY vectors → DOUBLE. */
  def cosine_sim_i8(a: Column, b: Column): Column =
    GraftSql.column(CosineSimI8(GraftSql.expression(a), GraftSql.expression(b)))

  /** Morton/Z-order interleave of two INT columns → BIGINT layout key. */
  def zorder_key(a: Column, b: Column): Column =
    GraftSql.column(ZOrderKey(GraftSql.expression(a), GraftSql.expression(b)))

  /** Deterministic feature-hash embedding STRING → ARRAY<FLOAT>[dim]. */
  def feature_hash_embed(text: Column, dim: Int = 64, seed: Long = 42L): Column =
    GraftSql.column(FeatureHashEmbed(GraftSql.expression(text), dim, seed))

  /** Overlapping character chunks STRING → ARRAY<STRING>. */
  def chunks(text: Column, size: Int, overlap: Int): Column =
    GraftSql.column(Chunks(GraftSql.expression(text), size, overlap))

  /** Word n-grams (space tokens, duplicates kept) STRING → ARRAY<STRING>. */
  def word_ngrams(text: Column, n: Int): Column =
    GraftSql.column(WordNgrams(GraftSql.expression(text), n))

  /** k-lane MinHash signature over n-word shingles STRING → ARRAY<LONG>. */
  def minhash_shingles(text: Column, k: Int = 32, n: Int = 3,
      seed: Long = 42L): Column =
    GraftSql.column(MinHashShingles(GraftSql.expression(text), k, n, seed))

  /** Random-hyperplane LSH bucket of an ARRAY<FLOAT> → INT. */
  def lsh_bucket(v: Column, nbits: Int = 12, seed: Long = 42L): Column =
    GraftSql.column(LshBucket(GraftSql.expression(v), nbits, seed))

  /** 64-bit SimHash sketch of a STRING → LONG. */
  def simhash64(text: Column, seed: Long = 42L): Column =
    GraftSql.column(SimHash64(GraftSql.expression(text), seed))

  /** Winnowing rolling-hash fingerprint STRING → ARRAY<LONG>. */
  def winnow_fingerprint(text: Column, k: Int = 8, w: Int = 16,
      seed: Long = 42L): Column =
    GraftSql.column(WinnowFingerprint(GraftSql.expression(text), k, w, seed))

  /** A literal ARRAY<FLOAT> column from a local vector (probe vectors).
    * `lit` on a primitive float array already carries
    * ARRAY<FLOAT> (containsNull=false); casting to the same type with
    * non-null elements is rejected by the analyzer, so no cast.
    */
  def lit_vector(v: Array[Float]): Column = F.lit(v)

  /** Mutable buffer for [[VectorAvg]]: running element-wise sum + count. */
  case class VecBuf(sum: Array[Double], n: Long)

  /** Element-wise mean of ARRAY<FLOAT> groups (centroid). UDAF surface of
    * the engine: `Aggregator[IN, BUF, OUT]` with map-side partial merge —
    * a genuinely distributed centroid (no collect), usable at any scale.
    */
  class VectorAvg extends Aggregator[Array[Float], VecBuf, Array[Float]] {
    override def zero: VecBuf = VecBuf(Array.empty[Double], 0L)
    private def requireDim(expected: Int, got: Int): Unit =
      if (expected != got)
        throw new IllegalArgumentException(
          s"vector_avg: vector dimensions differ ($expected vs $got)")
    override def reduce(b: VecBuf, in: Array[Float]): VecBuf = {
      if (in == null) return b
      val acc = if (b.sum.isEmpty) new Array[Double](in.length) else b.sum
      requireDim(acc.length, in.length)
      var i = 0
      while (i < in.length) { acc(i) += in(i); i += 1 }
      VecBuf(acc, b.n + 1L)
    }
    override def merge(x: VecBuf, y: VecBuf): VecBuf = {
      if (x.sum.isEmpty) return y
      if (y.sum.isEmpty) return x
      requireDim(x.sum.length, y.sum.length)
      val acc = x.sum
      var i = 0
      while (i < acc.length) { acc(i) += y.sum(i); i += 1 }
      VecBuf(acc, x.n + y.n)
    }
    override def finish(b: VecBuf): Array[Float] =
      if (b.n == 0L) Array.empty[Float]
      else b.sum.map(x => (x / b.n).toFloat)
    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Array[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
  }

  private lazy val vectorAvgUdaf = F.udaf(new VectorAvg)

  /** vector_avg as a ready-to-use aggregate Column function. */
  def vector_avg(c: Column): Column = vectorAvgUdaf(c)

  /** Exact top-k aggregate: per group, the `k` entries best by numeric
    * `score` DESC, then `tieBreak` ASC — a `row_number()` window's total
    * order: NaN first, NULL last, -0.0 = 0.0 — as an
    * ARRAY<STRUCT<score, tieBreak, carry…>> in rank order. Spark's
    * `collect_top_k` bounded heap, partial and final: at most k entries
    * per group and task cross the exchange; nothing sorts or spills.
    * Full (score, tieBreak) ties order by the carried columns, which must
    * be orderable (no MAP).
    */
  def top_k(score: Column, tieBreak: Column, k: Int, carry: Column*): Column = {
    val entry = F.struct(
      (descending(score).as(RankKey)
        +: score +: tieBreak +: carry): _*)
    val top = GraftSql.column(new CollectTopK(GraftSql.expression(entry), k,
      true).toAggregateExpression())
    F.transform(top, _.dropFields(RankKey))
  }

  private val RankKey = "__rank_key"

  /** A [[top_k]] tie-break that prefers LARGER values of a numeric or
    * string column `c` (NULL last): its ascending order is `c` DESC.
    */
  def descending(c: Column): Column =
    GraftSql.column(DescendingKey(GraftSql.expression(c)))

  /** The rows `row_number() OVER (PARTITION BY key ORDER BY score DESC,
    * tieBreak) <= k` keeps, through [[top_k]], in the frame's column
    * order plus `rank`, the INT `row_number` would give. An empty `key`
    * ranks the whole frame.
    */
  def topKRows(frame: DataFrame, key: Seq[String], score: String,
      tieBreak: String, k: Int, rank: String): DataFrame = {
    val carry = frame.columns.toSeq
      .filterNot(c => key.contains(c) || c == score || c == tieBreak)
    frame.groupBy(key.map(F.col): _*)
      .agg(top_k(F.col(score), F.col(tieBreak), k, carry.map(F.col): _*)
        .as("__top"))
      .select(key.map(F.col) :+ F.posexplode(F.col("__top"))
        .as(Seq("__pos", "__row")): _*)
      .select(frame.columns.toSeq.map(c =>
          if (key.contains(c)) F.col(c) else F.col("__row").getField(c).as(c))
        :+ (F.col("__pos") + 1).as(rank): _*)
  }

  /** Register all SQL-callable names on a live session (idempotent). */
  def registerAll(spark: SparkSession): Unit = {
    GraftSql.registerFunction(spark, "cosine_sim", es => CosineSim(es(0), es(1)))
    GraftSql.registerFunction(spark, "vector_dot", es => VectorDot(es(0), es(1)))
    GraftSql.registerFunction(spark, "l2_distance", es => L2Distance(es(0), es(1)))
    GraftSql.registerFunction(spark, "vector_norm", es => VectorNorm(es(0)))
    GraftSql.registerFunction(spark, "quantize_i8", es => QuantizeI8(es(0)))
    GraftSql.registerFunction(spark, "cosine_sim_i8",
      es => CosineSimI8(es(0), es(1)))
    GraftSql.registerFunction(spark, "zorder_key", es => ZOrderKey(es(0), es(1)))
    GraftSql.registerFunction(spark, "pq_argmin",
      es => PqArgmin(es(0), es(1), es(2)))
  }
}
