package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans._
import graft.functions.VectorFunctions._

/** Codegen vs interpreted parity + edge cases for the native vector
  * expressions (SURVEY §5.2-3): [[generated]] compiles an expression's
  * `doGenCode` directly (no interpreted fallback can hide a compile error),
  * direct `.eval()` exercises the interpreted `nullSafeEval` — both must
  * agree bitwise on every input class.
  */
class VectorExpressionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val arrT = ArrayType(DoubleType, containsNull = false)
  private val longArrT = ArrayType(LongType, containsNull = false)

  private def vec(a: Seq[Double]): Literal = Literal.create(a, arrT)
  private def bytes(a: Array[Byte]): Literal = Literal.create(a, BinaryType)

  /** The value of `e`'s generated code, compiled without fallback. */
  private def generated(e: Expression): Any = {
    val row = GenerateUnsafeProjection.generate(Seq(e))(InternalRow.empty)
    if (row.isNullAt(0)) null else row.get(0, e.dataType)
  }

  /** A value in bitwise-comparable form: doubles as raw bits, arrays as Seqs. */
  private def bits(v: Any, t: DataType): Any = (v, t) match {
    case (d: Double, _) => java.lang.Double.doubleToRawLongBits(d)
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(bits(_, et))
    case (b: Array[Byte], _) => b.toSeq
    case (other, _) => other
  }

  /** Generated and interpreted paths agree bitwise on `e`; returns the value. */
  private def agree(e: Expression): Any = {
    val v = e.eval(null)
    assert(bits(generated(e), e.dataType) === bits(v, e.dataType), e)
    v
  }

  private def interpreted(f: (Literal, Literal) => Any, a: Seq[Double], b: Seq[Double]): Any =
    f(vec(a), vec(b))

  private def viaCodegen(fn: String, a: Seq[Double], b: Seq[Double]): Any = {
    val df = Seq((a, b)).toDF("a", "b")
    val c = fn match {
      case "dot" => dotFast(col("a"), col("b"))
      case "cos" => cosineFast(col("a"), col("b"))
      case "l2"  => l2DistanceSqFast(col("a"), col("b"))
    }
    df.select(c).collect()(0) match {
      case Row(null) => null
      case Row(v: Double) => v
    }
  }

  /** Higher-order-function reference forms: the executable spec the
    * codegen kernels must match.
    */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def hofCosine(a: Column, b: Column): Column = {
    val denom = sqrt(hofDot(a, a)) * sqrt(hofDot(b, b))
    when(denom === 0.0, lit(0.0)).otherwise(hofDot(a, b) / denom)
  }
  private def hofNormalize(a: Column): Column = {
    val n = sqrt(hofDot(a, a))
    when(n === 0.0, a).otherwise(transform(a, x => x / n))
  }

  private val cases: Seq[(Seq[Double], Seq[Double])] = {
    val rnd = new scala.util.Random(7L)
    val randomPairs = (1 to 25).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Seq.fill(n)(rnd.nextGaussian()), Seq.fill(n)(rnd.nextGaussian()))
    }
    randomPairs ++ Seq(
      (Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)), // zero norm
      (Seq.empty[Double], Seq.empty[Double]),    // empty
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),      // length mismatch
    )
  }

  test("codegen and interpreted paths agree bitwise on all input classes") {
    cases.foreach { case (a, b) =>
      agree(DotProduct(vec(a), vec(b)))
      agree(CosineSimilarity(vec(a), vec(b)))
      agree(L2DistanceSq(vec(a), vec(b)))
      agree(L2Normalize(vec(a)))
    }
    val rnd = new scala.util.Random(11L)
    // bitset words: equal widths score, a width mismatch is null on both paths
    (0 to 6).foreach { n =>
      val x = Seq.fill(n)(rnd.nextLong()); val y = Seq.fill(n)(rnd.nextLong())
      val want = x.zip(y).map { case (p, q) => java.lang.Long.bitCount(p & q) }.sum
      assert(agree(BitsetIntersectSize(
        Literal.create(x, longArrT), Literal.create(y, longArrT))) === want)
      assert(agree(BitsetIntersectSize(
        Literal.create(x, longArrT), Literal.create(y :+ 1L, longArrT))) === null)
    }
    // int8 codes against a query column
    (0 to 6).foreach { n =>
      val codes = Array.fill(n)((rnd.nextInt(255) - 127).toByte)
      val q = Seq.fill(n)(rnd.nextGaussian())
      agree(Int8ColCosine(bytes(codes), vec(q)))
      assert(agree(Int8ColCosine(bytes(codes), vec(q :+ 1.0))) === null)
    }
    assert(agree(Int8ColCosine(bytes(Array[Byte](0, 0)), vec(Seq(1.0, 2.0)))) === 0.0)
    // PQ ADC against a LUT column; codes above 127 read back unsigned
    val m = 3; val k = 200
    (1 to 5).foreach { _ =>
      val codes = Array.fill(m)(rnd.nextInt(k).toByte)
      val lut = Seq.fill(m * k)(rnd.nextGaussian())
      val want = (0 until m).map(s => lut(s * k + (codes(s) & 0xFF))).sum
      assert(agree(PqAdcDotCol(bytes(codes), vec(lut), m, k)) === want)
      assert(agree(PqAdcDotCol(bytes(codes :+ 0.toByte), vec(lut), m, k)) === null)
      assert(agree(PqAdcDotCol(bytes(codes), vec(lut.tail), m, k)) === null)
    }
  }

  test("every kernel expression: generated code equals eval; dim mismatches fail alike") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(5L)
    val dim = 8
    val v = Seq.fill(dim)(rnd.nextGaussian())
    val planes = Seq.fill(3 * 2 * dim)(rnd.nextGaussian())
    val cents = Seq.fill(4 * dim)(rnd.nextGaussian())
    val codes = Array.fill(dim)((rnd.nextInt(255) - 127).toByte)
    val lut = Seq.fill(dim * 4)(rnd.nextGaussian())
    val strT = ArrayType(StringType, containsNull = false)
    def strs(s: String*): Literal = Literal.create(s.map(UTF8String.fromString), strT)
    agree(HyperplaneBandKeys(vec(v), planes, 3, 2))
    agree(NearestCentroid(vec(v), cents, 4))
    Seq(0.0, 0.05, 1e9).foreach(eps => agree(NearCentroidCells(vec(v), cents, 4, eps)))
    agree(Int8QueryCosine(bytes(codes), v))
    agree(PqAdcDot(bytes(codes.map(b => (b & 3).toByte)), lut, dim, 4))
    assert(agree(SortedIntersectSize(strs("a", "c", "d"), strs("b", "c", "d", "e"))) === 2)
    assert(agree(SortedProbeCount(strs("a", "c", "d"), strs("b", "c", "d", "e"))) === 2)
    // a wrong-dim input is a config bug: both paths throw the same message
    val short = vec(v.tail)
    Seq[Expression](
      HyperplaneBandKeys(short, planes, 3, 2),
      NearestCentroid(short, cents, 4),
      NearCentroidCells(short, cents, 4, 0.05),
      Int8QueryCosine(bytes(codes.tail), v),
      PqAdcDot(bytes(codes.tail.map(b => (b & 3).toByte)), lut, dim, 4)
    ).foreach { e =>
      val viaEval = intercept[IllegalArgumentException](e.eval(null)).getMessage
      val viaCode = intercept[IllegalArgumentException](generated(e)).getMessage
      assert(viaEval === viaCode)
      assert(viaEval.contains(" != "), viaEval)
    }
  }

  test("length mismatch yields null, not a truncated score") {
    assert(viaCodegen("dot", Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)) === null)
    assert(viaCodegen("cos", Seq(1.0), Seq(1.0, 1.0)) === null)
    assert(viaCodegen("l2", Seq(1.0, 2.0, 3.0), Seq(1.0)) === null)
  }

  test("zero-norm and empty inputs give cosine 0.0 (total-order safe, no NaN)") {
    assert(viaCodegen("cos", Seq(0.0, 0.0), Seq(1.0, 2.0)) === 0.0)
    assert(viaCodegen("cos", Seq.empty[Double], Seq.empty[Double]) === 0.0)
  }

  test("cosine is bounded in [-1, 1] and cosine(v, v) == 1 (property sweep)") {
    val rnd = new scala.util.Random(99L)
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(64)
      val a = Seq.fill(n)(rnd.nextGaussian() * (1 + rnd.nextInt(1000)))
      val b = Seq.fill(n)(rnd.nextGaussian() * (1 + rnd.nextInt(1000)))
      val c = interpreted((x, y) => CosineSimilarity(x, y).eval(null), a, b)
        .asInstanceOf[Double]
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      val self = interpreted((x, y) => CosineSimilarity(x, y).eval(null), a, a)
        .asInstanceOf[Double]
      assert(math.abs(self - 1.0) < 1e-9)
    }
  }

  test("hyperplane band keys: codegen and interpreted paths agree; keys bounded") {
    import graft.plans.HyperplaneBandKeys
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol}
    val rnd = new scala.util.Random(41L)
    val bands = 6; val rows = 3; val dim = 16
    val planes = Seq.fill(bands * rows * dim)(rnd.nextGaussian())
    val vecs = (1 to 20).map(_ => Seq.fill(dim)(rnd.nextGaussian()))
    val viaCodegenKeys = vecs.map { v =>
      Seq(v).toDF("v")
        .select(toCol(HyperplaneBandKeys(
          Literal.create(v, arrT), planes, bands, rows)).as("k"))
        .collect()(0).getSeq[Long](0)
    }
    val viaEval = vecs.map { v =>
      HyperplaneBandKeys(Literal.create(v, arrT), planes, bands, rows)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    }
    assert(viaCodegenKeys === viaEval)
    viaEval.foreach { keys =>
      assert(keys.length === bands)
      keys.foreach(k => assert(k >= 0L && k < (1L << rows)))
    }
    // a dim mismatch is a config bug: loud failure, not a silent signature
    val bad = intercept[Exception] {
      HyperplaneBandKeys(Literal.create(Seq(1.0, 2.0), arrT), planes, bands, rows).eval(null)
    }
    assert(bad.getMessage.contains("dim"))
  }

  test("nearest-centroid assignment matches brute-force argmax cosine") {
    import graft.plans.NearestCentroid
    val rnd = new scala.util.Random(17L)
    val k = 5; val dim = 12
    val cents = Seq.fill(k * dim)(rnd.nextGaussian())
    def cosRef(v: Seq[Double], c: Int): Double = {
      val cv = cents.slice(c * dim, (c + 1) * dim)
      val ab = v.zip(cv).map { case (x, y) => x * y }.sum
      val d = math.sqrt(cv.map(x => x * x).sum) // row norm constant: omitted, argmax unchanged
      if (d == 0.0) 0.0 else ab / d
    }
    (1 to 50).foreach { _ =>
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val got = NearestCentroid(Literal.create(v, arrT), cents, k)
        .eval(null).asInstanceOf[Int]
      val want = (0 until k).maxBy(c => (cosRef(v, c), -c))
      assert(got === want)
    }
    // codegen path agrees with the interpreted one
    val v0 = Seq.fill(dim)(rnd.nextGaussian())
    val viaDf = Seq(v0).toDF("v")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        NearestCentroid(Literal.create(v0, arrT), cents, k)).as("c"))
      .collect()(0).getInt(0)
    assert(viaDf === NearestCentroid(Literal.create(v0, arrT), cents, k).eval(null))
  }

  test("near-centroid multi-assignment: eps=0 equals NearestCentroid; boundary vectors get both cells") {
    import graft.plans.{NearCentroidCells, NearestCentroid}
    val rnd = new scala.util.Random(23L)
    val k = 5; val dim = 12
    val cents = Seq.fill(k * dim)(rnd.nextGaussian())
    def cells(v: Seq[Double], eps: Double): Seq[Int] =
      NearCentroidCells(Literal.create(v, arrT), cents, k, eps).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
    def cosRef(v: Seq[Double], c: Int): Double = {
      val cv = cents.slice(c * dim, (c + 1) * dim)
      val ab = v.zip(cv).map { case (x, y) => x * y }.sum
      val d = math.sqrt(cv.map(x => x * x).sum)
      if (d == 0.0) 0.0 else ab / d
    }
    (1 to 50).foreach { _ =>
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val nearest = NearestCentroid(Literal.create(v, arrT), cents, k)
        .eval(null).asInstanceOf[Int]
      // eps = 0 degenerates to exactly the single-assignment cell
      assert(cells(v, 0.0) === Seq(nearest))
      // a huge eps always yields [best, second] matching brute force
      val scored = (0 until k).map(c => (cosRef(v, c), -c)).sorted.reverse
      val want = Seq(-scored(0)._2, -scored(1)._2)
      assert(cells(v, 1e9) === want)
      // margin rule: both cells iff best - second < eps
      val margin = scored(0)._1 - scored(1)._1
      assert(cells(v, margin * 0.999).length === 1)
      assert(cells(v, margin * 1.001).length === 2)
    }
    // codegen path agrees with the interpreted one
    val v0 = Seq.fill(dim)(rnd.nextGaussian())
    val viaDf = Seq(v0).toDF("v")
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        NearCentroidCells(Literal.create(v0, arrT), cents, k, 0.02)).as("c"))
      .collect()(0).getSeq[Int](0)
    assert(viaDf === cells(v0, 0.02))
  }

  test("HOF formulation and codegen expression agree after rounding") {
    val rnd = new scala.util.Random(3L)
    val a = Seq.fill(64)(rnd.nextGaussian())
    val b = Seq.fill(64)(rnd.nextGaussian())
    val df = Seq((a, b)).toDF("a", "b")
    val Row(fast: Double, hof: Double) = df.select(
      round(cosineFast(col("a"), col("b")), 9),
      round(hofCosine(col("a"), col("b")), 9)).collect()(0)
    assert(fast === hof)
  }

  test("L2Normalize equals the higher-order normalize bitwise, at every dim") {
    val rnd = new scala.util.Random(13L)
    val vectors: Seq[Seq[Double]] = Seq(0, 1, 3, 64, 1024).flatMap { d =>
      Seq(Seq.fill(d)(rnd.nextGaussian()), Seq.fill(d)(0.0))
    }
    val rows = vectors.map(Option(_)) :+ None // and a null array
    val df = rows.toDF("a")
    val got = df.select(l2Normalize(col("a")), hofNormalize(col("a"))).collect()
    def rawBits(r: Row, i: Int) = Option(r.getSeq[Double](i))
      .map(_.map(java.lang.Double.doubleToRawLongBits))
    got.zip(rows).foreach { case (r, a) =>
      assert(rawBits(r, 0) === rawBits(r, 1), a.map(_.length))
      a.foreach(x => agree(L2Normalize(vec(x))))
    }
    // the zero vector comes back unchanged, a non-zero one at unit norm
    assert(got(3).getSeq[Double](0) === Seq(0.0))
    val unit = got(8).getSeq[Double](0)
    assert(math.abs(unit.map(x => x * x).sum - 1.0) < 1e-12)
  }

  test("L2Normalize and l2Norm keep the higher-order forms' result types") {
    val nonNullElems = Seq(Seq(3.0, 4.0)).toDF("a")
      .select(col("a").cast(arrT).as("a"))
    val nullableElems = Seq(Seq(3.0, 4.0)).toDF("a")
      .select(col("a").cast(ArrayType(DoubleType, containsNull = true)).as("a"))
    Seq(nonNullElems, nullableElems).foreach { df =>
      val fast = df.select(l2Normalize(col("a")), l2Norm(col("a"))).schema
      val hof = df.select(hofNormalize(col("a")), sqrt(hofDot(col("a"), col("a")))).schema
      assert(fast.map(f => (f.dataType, f.nullable)) === hof.map(f => (f.dataType, f.nullable)))
    }
  }
}
