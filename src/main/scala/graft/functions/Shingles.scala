package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-token shingles as ONE compiled pass — the eval-only twin
  * of the HOF formulation
  * `array_distinct(transform(sequence(1, n_tok−n+1), i ⇒
  * concat_ws(" ", slice(tokens, i, n))))` that
  * [[graft.operators.TextAnalysis.shingles]] used through round 20.
  * Same contract bit-for-bit (ShinglesSpec pins equality on randomized
  * texts): whitespace tokens split on single spaces with empties
  * dropped, windows of `n` consecutive tokens joined by one space,
  * first-occurrence-ordered distinct, `< n` tokens → empty array,
  * NULL text → NULL.
  *
  * Why it exists (guide step 4, the same evidence as the r21
  * edit-distance adjudication in reverse): Spark 4 evaluates
  * higher-order functions as interpreted Catalyst tree walks — per
  * shingle that is a lambda frame, an array slice copy, and an
  * interpreted concat — which the gram-heavy queries
  * (q_dup_gram_ppm, q_decontaminate, q_repeated_spans, the shared
  * shingle_sets derivation) pay per token of the corpus. The
  * imperative single pass has no profitable codegen form beyond
  * compiled Scala (CodegenFallback), like [[BpeCount]].
  */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")

  // the HOF form's type (transform over concat_ws), so a union with it,
  // a cached plan and a parquet round-trip all see one type
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }

  private val empty = new GenericArrayData(Array.empty[Any])

  override def nullSafeEval(input: Any): Any = {
    // identical token semantics to filter(split(text, " "), _ =!= "")
    val raw = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    var m = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) m += 1; i += 1 }
    if (m < n) return empty
    val toks = new Array[String](m)
    i = 0; m = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(m) = raw(i); m += 1 }
      i += 1
    }
    // first-occurrence-ordered distinct, like array_distinct
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder
    i = 0
    while (i + n <= m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray(Array.empty[AnyRef]))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {
  def apply(text: Column, n: Int): Column =
    GraftExpressionBridge.column(
      new Shingles(GraftExpressionBridge.expression(text), n))
}
