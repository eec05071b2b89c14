package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst scalar expressions for the vector/RAG surface
  * (SURVEY.md §4.3). Each is codegen'd via a single static-kernel call
  * ([[VectorKernels]]) so they stay inside whole-stage codegen spans with
  * no boxing per element — important because at 100 TB these run per-row
  * inside the scan stage.
  */
private[graft] trait FloatArrayBinary { self: BinaryExpression =>
  protected def okElem(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  def checkFloatArrays(name: String): TypeCheckResult =
    (self.left.dataType, self.right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$name requires two ARRAY<FLOAT> arguments, got ${l.sql} and ${r.sql}")
    }
}

/** cosine_sim(ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE.
  * Spark-native replacement for the reference's OpenSearch k-NN scoring
  * (`RAG.java:51-59`): the similarity itself runs in-engine and feeds
  * standard `ORDER BY ... LIMIT k` (planned as TakeOrderedAndProject).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayBinary {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays("cosine_sim")
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** try_cosine_sim(ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE, NULL on dimension
  * mismatch (ANSI try_-style). [[CosineSim]] throws there — right when the
  * pipeline guarantees a single dimension; this variant is for scoring
  * dirty corpora where one bad row must not kill the job.
  */
case class TryCosineSim(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayBinary {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    checkFloatArrays("try_cosine_sim")
  override def prettyName: String = "try_cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.tryCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_t = graft.functions.VectorKernels.tryCosine($a, $b);
      if (${ev.value}_t == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_t.doubleValue(); }
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TryCosineSim =
    copy(left = newLeft, right = newRight)
}

/** vector_dot(ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE. */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayBinary {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays("vector_dot")
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** l2_distance(ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE. */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayBinary {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays("l2_distance")
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2Distance(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.l2Distance($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Distance =
    copy(left = newLeft, right = newRight)
}

/** quantize_i8(ARRAY<FLOAT>) → BINARY: symmetric int8 quantization
  * (q = round(127·v/max|v|)). Cosine is per-vector-scale-invariant, so
  * the quantized store needs no stored scale and is 4× smaller — the
  * memory-side lever for a 100 TB vector store ([[CosineSimI8]] scores
  * it directly).
  */
case class QuantizeI8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantize_i8"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quantize_i8 requires ARRAY<FLOAT>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantizeI8(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.quantizeI8($c)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** cosine_sim_i8(BINARY, BINARY) → DOUBLE over int8-quantized vectors:
  * integer accumulators (exact, order-independent), one double division.
  */
case class CosineSimI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim_i8"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim_i8 requires two BINARY arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineI8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosineI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimI8 =
    copy(left = newLeft, right = newRight)
}

/** zorder_key(INT, INT) → BIGINT: Morton interleave of the low 16 bits of
  * each input. Sorting by this key is the layout primitive behind
  * multi-dimensional file clustering ([[VectorKernels.interleave16]]).
  */
case class ZOrderKey(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "zorder_key"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zorder_key requires two INT arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.interleave16(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.interleave16($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderKey =
    copy(left = newLeft, right = newRight)
}

/** pq_argmin(ARRAY<FLOAT> subvector, INT sub, ARRAY<ARRAY<ARRAY<FLOAT>>>
  * codebooks) → INT: index of the L2-nearest codeword in subspace `sub`.
  * The codebook rides along as a LITERAL (O(dim·ksub·4 B) ≈ KBs — the
  * same bounded-metadata discipline as the IVF nprobe cell-id collect),
  * so PQ training/encode is one codegen'd scan instead of a store×ksub
  * join fan-out.
  */
case class PqArgmin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_argmin"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), IntegerType,
          ArrayType(ArrayType(ArrayType(FloatType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"pq_argmin requires (ARRAY<FLOAT>, INT, ARRAY<ARRAY<ARRAY<FLOAT>>>)," +
          s" got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  override def nullSafeEval(sv: Any, sub: Any, cb: Any): Any =
    VectorKernels.pqArgmin(sv.asInstanceOf[ArrayData],
      sub.asInstanceOf[Int], cb.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.VectorKernels.pqArgmin($a, $b, $c)")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): PqArgmin = copy(f, s, t)
}

/** vector_norm(ARRAY<FLOAT>) → DOUBLE (L2). */
case class VectorNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vector_norm"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vector_norm requires ARRAY<FLOAT>, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.norm(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.norm($a)")

  override protected def withNewChildInternal(nc: Expression): VectorNorm = copy(nc)
}

/** feature_hash_embed(STRING, dim, seed) → ARRAY<FLOAT>.
  * Deterministic offline embedding (stand-in for A3/A6 of the reference,
  * `RAG.java:47`): signed feature hashing, L2-normalized. dim/seed must be
  * foldable.
  */
case class FeatureHashEmbed(child: Expression, dim: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "feature_hash_embed"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"feature_hash_embed requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.featureHashEmbed(a.asInstanceOf[UTF8String].toString, dim, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.featureHashEmbed($a.toString(), $dim, ${seed}L)")

  override protected def withNewChildInternal(nc: Expression): FeatureHashEmbed =
    copy(child = nc)
}

/** word_ngrams(STRING, n) → ARRAY<STRING> — word n-grams (space tokens,
  * document order, duplicates kept). One tokenize + linear pass in a
  * static kernel; stays inside whole-stage codegen.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams(n=$n): need n>0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.wordNgrams(a.asInstanceOf[UTF8String].toString, n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.wordNgrams($a.toString(), $n)")

  override protected def withNewChildInternal(nc: Expression): WordNgrams =
    copy(child = nc)
}

/** minhash_shingles(STRING, k, n, seed) → ARRAY<LONG> — k-lane MinHash
  * signature over n-word shingles (one string hash per shingle, splitmix64
  * lane derivation). The scan-side half of MinHash+LSH dedup.
  */
case class MinHashShingles(child: Expression, k: Int, n: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_shingles"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 0 && n > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"minhash_shingles(k=$k, n=$n): need k>0 and n>0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_shingles requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.minhashShingles(
      a.asInstanceOf[UTF8String].toString, k, n, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.minhashShingles($a.toString(), $k, $n, ${seed}L)")

  override protected def withNewChildInternal(nc: Expression): MinHashShingles =
    copy(child = nc)
}

/** lsh_bucket(ARRAY<FLOAT>, nbits, seed) → INT — random-hyperplane LSH
  * bucket id; the ANN pre-filter (probe the bucket and its low-Hamming
  * neighbors instead of scanning the full store).
  */
case class LshBucket(child: Expression, nbits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bucket"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nbits > 0 && nbits <= 30 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket(nbits=$nbits): need 0 < nbits <= 30")
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires ARRAY<FLOAT>, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.lshBucket(a.asInstanceOf[ArrayData], nbits, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.lshBucket($a, $nbits, ${seed}L)")

  override protected def withNewChildInternal(nc: Expression): LshBucket =
    copy(child = nc)
}

/** simhash64(STRING, seed) → LONG — 64-bit SimHash sketch (per-bit majority
  * vote over token hashes); near-dup texts differ in few bits. Pairwise-free
  * dedup at scale: bucket by prefix/band, compare `bit_count(a ^ b)`.
  */
case class SimHash64(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.simhash64(a.asInstanceOf[UTF8String].toString, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.simhash64($a.toString(), ${seed}L)")

  override protected def withNewChildInternal(nc: Expression): SimHash64 =
    copy(child = nc)
}

/** winnow_fingerprint(STRING, k, w) → ARRAY<LONG> — winnowing rolling-hash
  * fingerprint (distinct window-min k-gram hashes, sorted). Any shared
  * substring of length >= w + k - 1 yields a shared fingerprint hash.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_fingerprint"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 0 && w > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint(k=$k, w=$w): need k>0 and w>0")
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.winnowFingerprint(
      a.asInstanceOf[UTF8String].toString, k, w, seed)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.winnowFingerprint($a.toString(), $k, $w, ${seed}L)")

  override protected def withNewChildInternal(nc: Expression): WinnowFingerprint =
    copy(child = nc)
}

/** chunks(STRING, size, overlap) → ARRAY<STRING> — fixed-size overlapping
  * character windows; `explode(chunks(...))` is the engine's text-chunking
  * UDTF surface (SURVEY.md §2.2 `text_chunk`).
  */
case class Chunks(child: Expression, size: Int, overlap: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "chunks"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if size > 0 && overlap >= 0 && overlap < size =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"chunks(size=$size, overlap=$overlap): need size>0 and 0<=overlap<size")
    case t => TypeCheckResult.TypeCheckFailure(
      s"chunks requires STRING, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.chunks(a.asInstanceOf[UTF8String].toString, size, overlap)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.chunks($a.toString(), $size, $overlap)")

  override protected def withNewChildInternal(nc: Expression): Chunks =
    copy(child = nc)
}

/** A numeric or binary-ordered string value's descending sort key, for
  * [[graft.functions.top_k]], whose `collect_top_k` heap orders entries
  * ascending only: ascending on the key is a DESC window's order, NaN
  * first, NULL last, -0.0 = 0.0. Integral values flip with `~x`, since
  * `-x` overflows at the minimum; a string flips each hex digit of its
  * bytes and ends in `G`, above every digit, so a prefix sorts after its
  * extensions.
  */
case class DescendingKey(child: Expression) extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = CreateStruct(
    IsNull(child) +: (child.dataType match {
      case FloatType | DoubleType => Seq(Not(IsNaN(child)), UnaryMinus(child))
      case ByteType | ShortType | IntegerType | LongType => Seq(BitwiseNot(child))
      case _: StringType => Seq(Concat(Seq(StringTranslate(Hex(child),
        Literal("0123456789ABCDEF"), Literal("FEDCBA9876543210")), Literal("G"))))
      case _ => Seq(UnaryMinus(child))
    }))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckSuccess // UTF8_BINARY only
    case t => TypeCheckResult.TypeCheckFailure(
      s"a descending key must be numeric or a binary-ordered string, got ${t.sql}")
  }
  override def prettyName: String = "descending_key"

  override protected def withNewChildInternal(nc: Expression): DescendingKey =
    copy(child = nc)
}
