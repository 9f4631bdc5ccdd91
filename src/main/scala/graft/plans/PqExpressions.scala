package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the billion-vector scale path
  * the reference's server hides behind its index configuration (ref
  * `TencentVDB.py:46`; int8 scalar quantization is the ¼-footprint step,
  * PQ is the next one: dim doubles → M bytes, 64× smaller than float64
  * fixtures at M=8).
  *
  * Split each vector into M contiguous subvectors; quantize each subvector
  * to its nearest codebook centroid (per-subspace k-means, L2); a vector
  * becomes M byte codes. At query time the scan never reconstructs:
  * asymmetric distance computation (ADC) precomputes the M×K table of
  * ⟨query subvector, centroid⟩ dot products once per query, and each row
  * costs M table lookups — independent of the original dimension.
  *
  * Both expressions ship their model as codegen REFERENCE OBJECTS (the
  * broadcast-model pattern of [[NearestCentroid]]/[[Int8QueryCosine]]) and
  * stay inside whole-stage codegen.
  */
object PqModel {
  /** Flat codebook layout: sub-major then centroid then component —
    * `codebooks[(s*k + c)*subDim + i]`, total m·k·subDim doubles.
    */
  def subDim(codebooks: Array[Double], m: Int, k: Int): Int =
    codebooks.length / (m * k)
}

/** Encode array<double> (dim = m·subDim) to M PQ byte codes (BinaryType):
  * per subspace, the L2-nearest centroid index; ties resolve to the lowest
  * index (deterministic, matching [[NearestCentroid]]'s rule). K ≤ 256 so
  * a code fits one unsigned byte.
  */
case class PqCodes(child: Expression, codebooks: Seq[Double], m: Int, k: Int)
    extends UnaryExpression {

  require(m > 0 && k > 0 && k <= 256, s"PQ needs 0 < k ≤ 256 and m > 0 (m=$m, k=$k)")
  require(codebooks.nonEmpty && codebooks.length % (m * k) == 0,
    s"codebook size ${codebooks.length} is not m·k·subDim (m=$m, k=$k)")
  require(codebooks.forall(java.lang.Double.isFinite),
    "codebook components must be finite")

  override def prettyName: String = "pq_codes"
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  @transient private lazy val cbArr: Array[Double] = codebooks.toArray

  private def subDim: Int = PqModel.subDim(cbArr, m, k)
  private def dim: Int = m * subDim

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    require(x.numElements() == dim,
      s"$prettyName: vector dim ${x.numElements()} != $dim")
    PqCodes.encode(x, cbArr, m, k, subDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", cbArr, "double[]")
    nullSafeCodeGen(ctx, ev, a => s"""
       |if ($a.numElements() != $dim) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: vector dim " + $a.numElements() + " != $dim");
       |}
       |${ev.value} = graft.plans.PqCodes.encode($a, $cbRef, $m, $k, $subDim);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqCodes {
  /** Shared by interpreted eval and codegen — one definition of the
    * encoder, like [[Int8Codes.encode]].
    */
  def encode(x: ArrayData, cb: Array[Double], m: Int, k: Int, subDim: Int): Array[Byte] = {
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d = 0.0
        var i = 0
        val base = (s * k + c) * subDim
        val off = s * subDim
        while (i < subDim) {
          val dd = x.getDouble(off + i) - cb(base + i)
          d += dd * dd
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }
}

/** Training-side twin of [[PqCodes]]: the same per-subspace L2 argmin, but
  * returned as array<int> so the Lloyd update can group on the cell id
  * directly (binary gives no element access in SQL). Shares
  * [[PqCodes.encode]] — one definition of the assignment rule.
  */
case class PqSubAssign(child: Expression, codebooks: Seq[Double], m: Int, k: Int)
    extends UnaryExpression {

  require(m > 0 && k > 0 && k <= 256, s"PQ needs 0 < k ≤ 256 and m > 0 (m=$m, k=$k)")
  require(codebooks.nonEmpty && codebooks.length % (m * k) == 0,
    s"codebook size ${codebooks.length} is not m·k·subDim (m=$m, k=$k)")

  override def prettyName: String = "pq_sub_assign"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  @transient private lazy val cbArr: Array[Double] = codebooks.toArray

  private def subDim: Int = PqModel.subDim(cbArr, m, k)
  private def dim: Int = m * subDim

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    require(x.numElements() == dim,
      s"$prettyName: vector dim ${x.numElements()} != $dim")
    PqSubAssign.assign(x, cbArr, m, k, subDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", cbArr, "double[]")
    nullSafeCodeGen(ctx, ev, a => s"""
       |if ($a.numElements() != $dim) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: vector dim " + $a.numElements() + " != $dim");
       |}
       |${ev.value} = graft.plans.PqSubAssign.assign($a, $cbRef, $m, $k, $subDim);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqSubAssign {
  def assign(x: ArrayData, cb: Array[Double], m: Int, k: Int,
      subDim: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val codes = PqCodes.encode(x, cb, m, k, subDim)
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = codes(i) & 0xFF; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** ADC dot product of a PQ code row against a query lookup table:
  * Σₛ lut[s·k + code[s]] where lut[s·k + c] = ⟨query subvector s,
  * centroid c⟩ — M array reads per row, dimension-independent. The LUT is
  * query-scoped (built driver-side over the m·k·subDim model, never the
  * rows) and rides in as a reference object. Null is impossible by
  * construction (codes are fixed-width binary); a wrong-width code row
  * throws rather than scoring garbage.
  */
case class PqAdcDot(child: Expression, lut: Seq[Double], m: Int, k: Int)
    extends UnaryExpression {

  require(m > 0 && k > 0 && lut.length == m * k,
    s"LUT size ${lut.length} != m·k (m=$m, k=$k)")
  require(lut.forall(java.lang.Double.isFinite), "LUT entries must be finite")

  override def prettyName: String = "pq_adc_dot"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary codes, got ${other.simpleString}")
  }

  @transient private lazy val lutArr: Array[Double] = lut.toArray

  override def nullSafeEval(v: Any): Any =
    PqAdcDot.adcDot(v.asInstanceOf[Array[Byte]], lutArr, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("lut", lutArr, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PqAdcDot.adcDot($a, $lutRef, $m, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqAdcDot {
  def adcDot(codes: Array[Byte], lut: Array[Double], m: Int, k: Int): Double = {
    if (codes.length != m) {
      throw new IllegalArgumentException(s"pq_adc_dot: code length ${codes.length} != $m")
    }
    var s = 0.0
    var i = 0
    while (i < m) { s += lut(i * k + (codes(i) & 0xFF)); i += 1 }
    s
  }
}

/** Batch twin of [[PqAdcDot]]: where the single-query probe bakes its LUT
  * in as a reference object, a BATCH of queries arrives as a broadcast
  * column of per-query LUTs ([[graft.operators.KnnOps.topKForQueriesPq]]),
  * so both sides are expressions. Same M-lookup loop; null on a LUT whose
  * width is not m·k (a ragged LUT scores nothing, silently-wrong never).
  */
case class PqAdcDotCol(left: Expression, right: Expression, m: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(m > 0 && k > 0, s"PQ needs m > 0 and k > 0 (m=$m, k=$k)")

  override def prettyName: String = "pq_adc_dot_col"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary codes, array<double> lut), got ${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val lut = b.asInstanceOf[ArrayData]
    if (codes.length != m || lut.numElements() != m * k) null
    else PqAdcDotCol.adcDot(codes, lut, m, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.length != $m || $b.numElements() != ${m * k}) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.plans.PqAdcDotCol.adcDot($a, $b, $m, $k);
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcDotCol {
  def adcDot(codes: Array[Byte], lut: ArrayData, m: Int, k: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < m) { s += lut.getDouble(i * k + (codes(i) & 0xFF)); i += 1 }
    s
  }
}
