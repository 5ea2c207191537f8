package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` embedding columns.
  *
  * Hot-path entry points (`squaredL2`, `dot`, `cosine`) compile to native
  * codegen'd Catalyst expressions (VectorExpressions.scala) — a tight Java
  * loop per row, inside whole-stage codegen. The `*Hof` variants are the
  * higher-order-function formulations (`zip_with` + `aggregate`,
  * interpreted); they compute bit-identical values and exist as the
  * reference implementation the test suite cross-checks against.
  *
  * Semantics follow the reference's FAISS `IndexFlatL2` usage: distance is
  * **squared** L2 (no sqrt) over unnormalized vectors
  * (reference `vectorDB.py:12,38`, `rag_model_mass.py:37`), and the 0–10
  * score is `10 / (1 + d)` (reference `rag_model_mass.py:13-15`).
  *
  * Determinism (SURVEY.md §2.4 rule 3): elements widen to DOUBLE before
  * any arithmetic and folds are strict left-to-right from 0.0, matching
  * the DuckDB oracle's `list_reduce` bit-for-bit.
  */
object VectorOps {

  /** `ARRAY<FLOAT>` → `ARRAY<DOUBLE>` (for callers that need a double
    * array value; the fold expressions widen per-element internally).
    */
  def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  /** Squared L2 distance (native codegen expression). */
  def squaredL2(a: Column, b: Column): Column = VectorFoldExpression.squaredL2(a, b)

  /** Squared L2 distance of an embedding column to a fixed query vector. */
  def squaredL2ToQuery(emb: Column, q: Seq[Double]): Column =
    squaredL2(emb, typedLit(q))

  /** Dot product (native codegen expression). */
  def dot(a: Column, b: Column): Column = VectorFoldExpression.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  def cosineToQuery(emb: Column, q: Seq[Double]): Column =
    cosine(emb, typedLit(q))

  /** Reference score normalization: squared-L2 distance → 0–10
    * (`rag_model_mass.py:13-15`). Rounding left to the caller (rule 3).
    */
  def score(dist: Column): Column = lit(10.0) / (lit(1.0) + dist)

  /** Fetch one embedding as a driver-side Seq[Double] to broadcast as a
    * literal (SURVEY.md C4: compute once on driver, embed in the plan) —
    * the one probe-vector lookup every single-probe query builds on.
    * Pushed down to a `vec_id = id` scan and read by a plain collect,
    * which is one job; a `head()` limit scan starts a second one
    * whenever the first partition holds no matching row. Float → double
    * widening is exact.
    */
  def queryVector(spark: SparkSession, sfDir: String, id: Long = 0L): Seq[Double] = {
    import spark.implicits._
    graft.Tables.embeddings(spark, sfDir).where(col("vec_id") === id)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]].collect().head
  }
}
