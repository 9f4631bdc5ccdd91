package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sqrt

/** Vector math over `ArrayType(DoubleType)` columns, as Column wrappers over
  * the native codegen expressions in [[graft.plans]] — zero UDFs, so
  * everything stays inside whole-stage codegen and survives column pruning
  * / predicate pushdown.
  *
  * Implements the reference's declared metric surface:
  * `MetricType.COSINE` (reference `TencentVDB.py:46`). Dim-agnostic — the
  * dimension comes from the data (fixtures are 64-d, the reference uses
  * 1024-d, `TencentVDB.py:46`).
  *
  * Scale note: each function is a per-row projection — embarrassingly
  * parallel, no shuffle, O(dim) per row with no allocation beyond the
  * output.
  */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
  import graft.plans.{CosineSimilarity, DotProduct, L2DistanceSq, L2Normalize}

  /** Σ aᵢ·bᵢ — tight primitive loop inside whole-stage codegen. */
  def dotFast(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))

  /** cosine(a, b) fused single pass; 0.0 on zero norm. */
  def cosineFast(a: Column, b: Column): Column = toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Σ (aᵢ−bᵢ)² fused single pass. */
  def l2DistanceSqFast(a: Column, b: Column): Column = toCol(L2DistanceSq(toExpr(a), toExpr(b)))

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = sqrt(dotFast(a, a))

  /** a / ‖a‖ — unit-normalize an embedding (ingest-time materialization);
    * a zero vector stays the zero vector (see [[graft.plans.L2Normalize]]).
    */
  def l2Normalize(a: Column): Column = toCol(L2Normalize(toExpr(a)))
}
