package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The reference's metric is server-side HNSW/COSINE (ref `TencentVDB.py:46`);
  * our v1 replaces the index with an exact scan, which makes the per-row
  * cosine THE inner loop of every knn/similarity operator. Spark's
  * `zip_with`/`aggregate` higher-order functions are CodegenFallback
  * (interpreted, boxing a Lambda per element) — measured 23 µs/pair on the
  * sf0.1 similarity join. These expressions run a tight primitive `double`
  * loop over `ArrayData` inside whole-stage codegen instead (~50× less
  * per-row overhead), which is what a 100 TB scan needs.
  *
  * Every expression here has ONE kernel, a method on its companion object:
  * `nullSafeEval` calls it and `doGenCode` emits a call to it, so the
  * interpreted and generated paths run the same JIT-compiled body and
  * agree bitwise by construction (the [[FeatureHash.embed]] pattern).
  *
  * Null elements inside the arrays are not expected (embedding fixtures and
  * ingest both produce non-null elements); element null-checks are skipped
  * deliberately to keep the loop branch-free.
  *
  * A DIMENSION MISMATCH between the two arrays returns NULL (never a
  * silently-truncated score): ragged or corrupt embeddings surface as null
  * scores that any downstream filter/agg makes visible, instead of
  * plausible-but-wrong similarity values.
  */
abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // Nullable regardless of child nullability: mismatched dims yield null.
  override def nullable: Boolean = true

  /** The companion-object kernel, called on two arrays of equal length. */
  protected def kernel(x: ArrayData, y: ArrayData): Double

  /** The same kernel's Java name, for the generated call. */
  protected def kernelName: String

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else kernel(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $kernelName($a, $b);
       |}
     """.stripMargin)
}

/** Σ aᵢ·bᵢ over two double arrays (null on length mismatch). */
case class DotProduct(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vec_dot"
  override protected def kernel(x: ArrayData, y: ArrayData): Double = DotProduct.dot(x, y)
  override protected def kernelName: String = "graft.plans.DotProduct.dot"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotProduct {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
}

/** cosine(a, b) = a·b / (‖a‖‖b‖), one fused pass over both arrays.
  * Matches the double-arithmetic accumulation order of the HOF formulation
  * (separate Σab, Σaa, Σbb accumulators), so rounded scores are identical.
  * Returns 0.0 when either norm is 0 (instead of NaN) — total-order safe.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vec_cosine"
  override protected def kernel(x: ArrayData, y: ArrayData): Double = CosineSimilarity.cosine(x, y)
  override protected def kernelName: String = "graft.plans.CosineSimilarity.cosine"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      ab += xv * yv; aa += xv * xv; bb += yv * yv
      i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }
}

/** Squared L2 distance Σ (aᵢ-bᵢ)², fused single pass. */
case class L2DistanceSq(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vec_l2sq"
  override protected def kernel(x: ArrayData, y: ArrayData): Double = L2DistanceSq.l2sq(x, y)
  override protected def kernelName: String = "graft.plans.L2DistanceSq.l2sq"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object L2DistanceSq {
  def l2sq(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val dd = x.getDouble(i) - y.getDouble(i); s += dd * dd; i += 1 }
    s
  }
}

/** a / ‖a‖ — unit-normalize an embedding (ingest-time materialization),
  * O(dim) per row: one sequential Σ aᵢ² fold, then aᵢ / √Σ. That IEEE
  * order makes it bit-identical to the higher-order form
  * `when(‖a‖ = 0, a).otherwise(transform(a, x -> x / ‖a‖))` (pinned in
  * VectorExpressionsSpec). A zero vector is returned unchanged (its signed
  * hash buckets can cancel exactly): dividing by the true 0 norm would emit
  * all-NaN components and poison every downstream score.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def prettyName: String = "vec_l2_normalize"
  // containsNull = true, the higher-order form's type: stored unit-vector
  // columns keep their Parquet schema
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = L2Normalize.normalize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.plans.L2Normalize.normalize($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object L2Normalize {
  def normalize(x: ArrayData): ArrayData = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    val norm = math.sqrt(s)
    if (norm == 0.0) return x
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = x.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }
}

/** All random-hyperplane LSH band keys of a vector in ONE fused loop:
  * key(band) = Σⱼ [dot(v, plane(band·r+j)) > 0] · 2ʲ over `rowsPerBand`
  * planes per band — the signature step of the cosine similarity join
  * ([[graft.operators.KnnOps.simJoinLsh]]).
  *
  * WHY an expression: the same signature as a per-band expression forest
  * (`bands × rowsPerBand` DotProduct nodes over 64-element literal arrays)
  * produces a plan so large Spark truncates its string form, and the
  * generated method overflows out of whole-stage codegen. Here the plane
  * matrix is ONE flat reference object and the `bands·r·dim` multiply-adds
  * are one tight primitive loop — per-row cost is a dense matrix-vector
  * product, exactly what a 100 TB signature scan needs.
  *
  * `planes` is row-major `(bands·rowsPerBand) × dim`; a dim mismatch with
  * the data raises (a wrong plane matrix is a config bug, not a data
  * quality event). Output: array<long> of `bands` keys.
  */
case class HyperplaneBandKeys(
    child: Expression,
    planes: Seq[Double],
    bands: Int,
    rowsPerBand: Int) extends UnaryExpression {

  require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 63,
    s"invalid banding: $bands bands × $rowsPerBand rows")
  require(planes.nonEmpty && planes.length % (bands * rowsPerBand) == 0,
    s"plane matrix size ${planes.length} is not (bands·rowsPerBand)×dim")

  override def prettyName: String = "vec_band_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  // One flat primitive copy shared by interpreted + codegen paths.
  @transient private lazy val planesArr: Array[Double] = planes.toArray

  override def nullSafeEval(v: Any): Any =
    HyperplaneBandKeys.bandKeys(v.asInstanceOf[ArrayData], planesArr, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planesArr, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.HyperplaneBandKeys.bandKeys($a, $pRef, $bands, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBandKeys {
  def bandKeys(x: ArrayData, planes: Array[Double], bands: Int, rowsPerBand: Int): ArrayData = {
    val n = x.numElements()
    val dim = planes.length / (bands * rowsPerBand)
    if (n != dim) {
      throw new IllegalArgumentException(s"vec_band_keys: vector dim $n != plane dim $dim")
    }
    val keys = new Array[Long](bands)
    var off = 0
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < rowsPerBand) {
        var s = 0.0
        var i = 0
        while (i < n) { s += x.getDouble(i) * planes(off + i); i += 1 }
        if (s > 0) key |= (1L << j)
        off += n
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** Index of the nearest centroid by cosine similarity — the IVF cell
  * assignment step ([[graft.operators.KnnOps]] k-means coarse quantizer;
  * the reference's latent IVFFLAT surface, ref `TencentVDB.py:7`).
  * `centroids` is row-major k × dim; ties and zero-norm vectors resolve to
  * the LOWEST cell index (deterministic assignment). One fused loop over
  * the centroid matrix per row — same shape as [[HyperplaneBandKeys]]: a
  * reference-object matrix, no literal expression forest.
  */
case class NearestCentroid(
    child: Expression,
    centroids: Seq[Double],
    k: Int) extends UnaryExpression {

  require(k > 0 && centroids.nonEmpty && centroids.length % k == 0,
    s"centroid matrix size ${centroids.length} is not k×dim (k=$k)")

  override def prettyName: String = "vec_nearest_centroid"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  @transient private lazy val centArr: Array[Double] = centroids.toArray
  // Centroid norms are constant across rows — precompute once.
  @transient private lazy val centNorm: Array[Double] = NearestCentroid.norms(centArr, k)

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.nearest(v.asInstanceOf[ArrayData], centArr, centNorm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centArr, "double[]")
    val nRef = ctx.addReferenceObj("centNorms", centNorm, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.NearestCentroid.nearest($a, $cRef, $nRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** L2 norms of the k rows of a row-major k × dim centroid matrix. */
  def norms(centroids: Array[Double], k: Int): Array[Double] = {
    val dim = centroids.length / k
    Array.tabulate(k) { c =>
      var s = 0.0; var i = 0
      while (i < dim) { val v = centroids(c * dim + i); s += v * v; i += 1 }
      math.sqrt(s)
    }
  }

  /** The argmax-cosine cell, followed by the runner-up when the best score
    * beats it by less than `epsilon`. The vector's own norm is constant
    * per row, so it is left out of the score; ties keep the lowest index.
    */
  def nearestCells(x: ArrayData, centroids: Array[Double], norms: Array[Double],
      epsilon: Double): Array[Int] = {
    val n = x.numElements()
    val k = norms.length
    val dim = centroids.length / k
    if (n != dim) {
      throw new IllegalArgumentException(s"vec_nearest_centroid: vector dim $n != centroid dim $dim")
    }
    var best = 0; var bestScore = Double.NegativeInfinity
    var second = -1; var secondScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var ab = 0.0; var i = 0
      while (i < n) { ab += x.getDouble(i) * centroids(c * n + i); i += 1 }
      val d = norms(c)
      val score = if (d == 0.0) 0.0 else ab / d
      if (score > bestScore) {
        second = best; secondScore = bestScore
        best = c; bestScore = score
      } else if (score > secondScore) { second = c; secondScore = score }
      c += 1
    }
    if (k > 1 && second >= 0 && bestScore - secondScore < epsilon) Array(best, second)
    else Array(best)
  }

  def nearest(x: ArrayData, centroids: Array[Double], norms: Array[Double]): Int =
    nearestCells(x, centroids, norms, 0.0)(0)
}

/** Multi-assignment variant of [[NearestCentroid]] for SemDeDup boundary
  * probing: the nearest cell ALWAYS, plus the second-nearest cell when the
  * cosine margin (best − second) is below `epsilon` — a vector sitting on
  * a cell boundary is blocked into both cells, so a near-dup pair split by
  * the k-means partition can still meet in the shared second assignment.
  * `epsilon <= 0` degenerates to a 1-element array (exactly
  * [[NearestCentroid]]'s cell — both run [[NearestCentroid.nearestCells]]).
  * Returns array<int> of 1 or 2 DISTINCT cell ids.
  */
case class NearCentroidCells(
    child: Expression,
    centroids: Seq[Double],
    k: Int,
    epsilon: Double) extends UnaryExpression {

  require(k > 0 && centroids.nonEmpty && centroids.length % k == 0,
    s"centroid matrix size ${centroids.length} is not k×dim (k=$k)")

  override def prettyName: String = "vec_near_centroid_cells"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  @transient private lazy val centArr: Array[Double] = centroids.toArray
  @transient private lazy val centNorm: Array[Double] = NearestCentroid.norms(centArr, k)

  override def nullSafeEval(v: Any): Any = new GenericArrayData(
    NearestCentroid.nearestCells(v.asInstanceOf[ArrayData], centArr, centNorm, epsilon))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centArr, "double[]")
    val nRef = ctx.addReferenceObj("centNorms", centNorm, "double[]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = new org.apache.spark.sql.catalyst.util." +
      s"GenericArrayData(graft.plans.NearestCentroid.nearestCells($a, $cRef, $nRef, $epsilon));")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-vector symmetric int8 quantizer: array<double> → dim signed bytes
  * (BinaryType). scale = 127/max(|xᵢ|, 1e-12), codeᵢ = round(xᵢ·scale) —
  * the ingest-side encoder of the quantized collection
  * ([[graft.sources.CatalogOps.createQuantizedCollection]]). ¼ the
  * footprint of float32 (⅛ of the double fixtures); cosine against the
  * codes needs NO scale (it cancels), so the probe reads bytes only.
  */
case class Int8Codes(child: Expression) extends UnaryExpression {

  override def prettyName: String = "int8_codes"
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    Int8Codes.encode(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Int8Codes.encode($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine between an int8 CODE vector and a full-precision query COLUMN —
  * the batch twin of [[Int8QueryCosine]]: where the single-query probe bakes
  * its vector in as a reference object, a BATCH of queries arrives as a
  * broadcast column ([[graft.operators.KnnOps.topKForQueriesQuantized]]),
  * so both sides are expressions. Same fused byte loop, same cancellation
  * of the per-vector scale; null on dimension mismatch like every binary
  * vector expression here.
  */
case class Int8ColCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "int8_col_cosine"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, array<double>), got ${l.simpleString} and ${r.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val q = b.asInstanceOf[ArrayData]
    if (codes.length != q.numElements()) null else Int8ColCosine.cosine(codes, q)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |if ($a.length != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.plans.Int8ColCosine.cosine($a, $b);
       |}
     """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Int8ColCosine {
  def cosine(codes: Array[Byte], q: ArrayData): Double = {
    val n = codes.length
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val c = codes(i).toDouble; val y = q.getDouble(i)
      ab += c * y; aa += c * c; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }
}

object Int8Codes {
  /** Shared by the interpreted and generated paths (one JIT-compiled body,
    * the [[FeatureHash]] pattern).
    */
  def encode(x: ArrayData): Array[Byte] = {
    val n = x.numElements()
    var mx = 0.0; var i = 0
    while (i < n) { val a = math.abs(x.getDouble(i)); if (a > mx) mx = a; i += 1 }
    val scale = 127.0 / math.max(mx, 1e-12)
    val out = new Array[Byte](n)
    i = 0
    while (i < n) { out(i) = Math.round(x.getDouble(i) * scale).toByte; i += 1 }
    out
  }
}

/** Cosine between an int8 CODE vector and a full-precision query constant,
  * in ONE byte loop (dot + code norm fused; the query norm is precomputed
  * once). The scoring expression of the quantized scan
  * ([[graft.operators.KnnOps.topKQuantized]]): the query rides along as a
  * reference object (the broadcast-model pattern, like [[NearestCentroid]])
  * and the per-row cost is dim fused multiply-adds over raw bytes inside
  * whole-stage codegen. The per-vector scale cancels out of cosine, so the
  * scan reads ONLY the code bytes — the ¼-footprint claim made real.
  */
case class Int8QueryCosine(child: Expression, query: Seq[Double])
    extends UnaryExpression {
  require(query.nonEmpty, "query vector must be non-empty")
  // NaN/Infinity have no Java literal form, so a non-finite component (or a
  // norm that overflows) would render as an unparseable token in the
  // generated source; the norm is also shipped as a reference object below
  require(query.forall(java.lang.Double.isFinite),
    "query vector components must be finite")

  override def prettyName: String = "int8_query_cosine"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary codes, got ${other.simpleString}")
  }

  @transient private lazy val qArr: Array[Double] = query.toArray
  @transient private lazy val qNorm: Double = {
    var s = 0.0; var i = 0
    while (i < qArr.length) { s += qArr(i) * qArr(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(v: Any): Any =
    Int8QueryCosine.cosine(v.asInstanceOf[Array[Byte]], qArr, qNorm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("query", qArr, "double[]")
    // reference object, not an interpolated literal: a double renders
    // through toString, which for non-finite values is not valid Java
    val qNormRef = ctx.addReferenceObj("qNorm", java.lang.Double.valueOf(qNorm),
      "java.lang.Double")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Int8QueryCosine.cosine($a, $qRef, $qNormRef.doubleValue());")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8QueryCosine {
  def cosine(codes: Array[Byte], query: Array[Double], queryNorm: Double): Double = {
    val dim = query.length
    if (codes.length != dim) {
      throw new IllegalArgumentException(
        s"int8_query_cosine: code length ${codes.length} != query dim $dim")
    }
    var ab = 0.0; var bb = 0.0; var i = 0
    while (i < dim) {
      val c = codes(i).toDouble
      ab += c * query(i); bb += c * c; i += 1
    }
    val d = math.sqrt(bb) * queryNorm
    if (d == 0.0) 0.0 else ab / d
  }
}
