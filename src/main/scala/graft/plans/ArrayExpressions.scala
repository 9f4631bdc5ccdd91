package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** |A ∩ B| for two SORTED, DISTINCT string arrays — the inner loop of the
  * set-similarity joins ([[graft.operators.DedupOps]]).
  *
  * Spark's generic `array_intersect` builds a hash set and materializes the
  * intersection array PER ROW — measured as the dominant cost of the
  * all-pairs Jaccard join (~170 s at sf0.1). A pair loop only needs the
  * intersection SIZE, and on pre-sorted inputs that is a two-pointer merge:
  * no allocation, no hashing, whole-stage codegen. Jaccard follows as
  * i / (|A| + |B| - i) with the sizes precomputed per side.
  *
  * Inputs MUST be sorted ascending (Spark binary string order, i.e.
  * `array_sort`) and duplicate-free (`array_distinct`) — the callers own
  * that invariant at build time, once per row, not per pair.
  * Null on either side → null (standard null-intolerant binary expression).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "sorted_intersect_size"
  override def dataType: DataType = IntegerType

  private def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isStringArray(left.dataType) && isStringArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedIntersectSize.intersectSize($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersectSize {
  /** Two-pointer merge count over two sorted distinct arrays. */
  def intersectSize(x: ArrayData, y: ArrayData): Int = {
    val n1 = x.numElements()
    val n2 = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n1 && j < n2) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** |{x ∈ A : x ∈ B}| by BINARY SEARCH of each left element into the sorted
  * right array — the asymmetric companion of [[SortedIntersectSize]]. The
  * linear merge is right when the two sides are comparably sized (the
  * dedup pair loop); when one side is much larger (decontamination probes
  * a ~50-gram document against a benchmark suite of 10⁴–10⁶ grams), the
  * merge walks the big side per row while this probe costs
  * |A|·log|B| — the per-row decontamination cost stays proportional to the
  * DOCUMENT, not the eval suite. Same invariants: both sides sorted
  * ascending (binary string order) and distinct; both sides equal the
  * merge's answer (pinned by property test).
  */
case class SortedProbeCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "sorted_probe_count"
  override def dataType: DataType = IntegerType

  private def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isStringArray(left.dataType) && isStringArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedProbeCount.probeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedProbeCount.probeCount($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedProbeCount {
  /** Binary search of each left element into the sorted right array. */
  def probeCount(x: ArrayData, y: ArrayData): Int = {
    val n1 = x.numElements()
    val n2 = y.numElements()
    var i = 0; var c = 0
    while (i < n1) {
      val needle = x.getUTF8String(i)
      var lo = 0; var hi = n2 - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val cmp = y.getUTF8String(mid).compareTo(needle)
        if (cmp == 0) { c += 1; lo = hi + 2 } // found: exit inner loop
        else if (cmp < 0) lo = mid + 1
        else hi = mid - 1
      }
      i += 1
    }
    c
  }
}

/** Dictionary-encode a DISTINCT token array against a frequency-pruned
  * vocabulary: tokens in the dictionary become bits of a multi-word bitset
  * (`bm`: array<long>, ⌈|vocab|/64⌉ words), the rare remainder stays as a
  * SORTED residual array (`rest`), and `n` carries the total distinct-token
  * count. This is the ≤64-token single-long trick
  * ([[graft.operators.DedupOps]]) generalized to corpus vocabularies: the
  * frequent tokens — the bulk of every document's set — ride through the
  * pair join as a few machine words, and exact set ops become
  * [[BitsetIntersectSize]] word ops plus a short [[SortedIntersectSize]]
  * merge over the residuals. Collision-free by construction (a dictionary,
  * not a hash), so |A∩B| stays EXACT at any vocabulary size.
  *
  * The vocabulary rides as a reference-object hash map (the broadcast-model
  * pattern); per-row cost is one lookup per token. One pass per ROW at
  * build time — never per pair.
  */
case class DictEncode(child: Expression, vocab: Seq[String]) extends UnaryExpression {
  require(vocab.nonEmpty, "dictionary must be non-empty")

  override def prettyName: String = "dict_encode"

  private def words: Int = (vocab.length + 63) / 64

  override def dataType: DataType = StructType(Seq(
    StructField("bm", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("rest", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("n", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  @transient private lazy val vocabMap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    vocab.zipWithIndex.foreach { case (t, i) =>
      m.put(UTF8String.fromString(t), Int.box(i))
    }
    m
  }

  override def nullSafeEval(v: Any): Any =
    DictEncode.encode(v.asInstanceOf[ArrayData], vocabMap, words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("vocabMap", vocabMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.DictEncode.encode($a, $mapRef, $words);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DictEncode {
  /** Shared by the interpreted and generated paths (one JIT-compiled body,
    * the [[Int8Codes]] pattern). Input tokens are assumed DISTINCT (the
    * callers build them with `array_distinct`); residuals come out sorted
    * in binary order — the [[SortedIntersectSize]] invariant.
    */
  def encode(tokens: ArrayData, vocab: java.util.HashMap[UTF8String, Integer],
      words: Int): InternalRow = {
    val n = tokens.numElements()
    val bm = new Array[Long](words)
    val rest = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val pos = vocab.get(t)
      if (pos != null) bm(pos.intValue() >> 6) |= 1L << (pos.intValue() & 63)
      else rest += t
      i += 1
    }
    val sortedRest = rest.toArray
    java.util.Arrays.sort(sortedRest.asInstanceOf[Array[Object]])
    InternalRow(new GenericArrayData(bm),
      new GenericArrayData(sortedRest.asInstanceOf[Array[Any]]), n)
  }
}

/** Σ bit_count(aᵢ & bᵢ) over two multi-word bitsets (array<long>) — the
  * pair-loop intersection of [[DictEncode]]'s dictionary half: |vocab|/64
  * AND+popcount word ops per pair, no arrays of tokens in sight. Null on a
  * word-count mismatch (two encodings from different dictionaries is a
  * caller bug surfaced as null, same contract as the vector expressions).
  */
case class BitsetIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "bitset_intersect_size"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<long> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else BitsetIntersectSize.intersectSize(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.plans.BitsetIntersectSize.intersectSize($a, $b);
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BitsetIntersectSize {
  def intersectSize(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }
}
