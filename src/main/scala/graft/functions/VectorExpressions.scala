package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY.md §4 "v2"
  * tier). The higher-order-function formulations (`zip_with` + `aggregate`)
  * are semantically identical but run interpreted — outside whole-stage
  * codegen, with a closure dispatch and boxing per element. These
  * expressions emit a tight Java loop instead (one multiply-add per
  * element), which matters when distances run per candidate pair
  * (dedup/KNN joins) rather than once per row.
  *
  * Semantics (kept bit-identical to the HOF forms and the DuckDB oracle,
  * SURVEY.md §2.4 rule 3, VectorOpsSpec pins them): elements are widened
  * to double before arithmetic; accumulation is a strict left-to-right
  * fold of one `term` per index starting at 0.0. Both inputs must be
  * arrays of float or double. A NULL array, arrays of unequal length
  * (zip_with null-pads the shorter) and a NULL element (the fold sticks
  * at NULL) all give NULL. The per-element null check is generated only
  * for an input whose type admits NULL elements, so fixed-width embedding
  * columns pay one length compare per row.
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val leftType = left.dataType.asInstanceOf[ArrayType]
  @transient private lazy val rightType = right.dataType.asInstanceOf[ArrayType]

  /** The fold's summand at one index, over the widened elements. */
  protected def term(x: Double, y: Double): Double

  /** [[term]] as a Java expression over two double locals. */
  protected def genTerm(x: String, y: String): String

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => a.getDouble(i)
    case _ => a.getFloat(i).toDouble
  }

  private def genGet(v: String, i: String, t: DataType): String = t match {
    case DoubleType => s"$v.getDouble($i)"
    case _ => s"((double) $v.getFloat($i))"
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += term(get(a, i, leftType.elementType), get(b, i, rightType.elementType))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nulls = Seq(a -> leftType, b -> rightType)
        .collect { case (v, t) if t.containsNull => s"$v.isNullAt($i)" }
      val nullCheck =
        if (nulls.isEmpty) ""
        else s"if (${nulls.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $x = ${genGet(a, i, leftType.elementType)};
         |    double $y = ${genGet(b, i, rightType.elementType)};
         |    $acc += ${genTerm(x, y)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Squared L2 distance — the reference's FAISS IndexFlatL2 metric
  * (`/root/reference/vectorDB.py:12,38`): sum_i (a_i - b_i)^2, no sqrt.
  */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "squared_l2"

  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)

  override protected def genTerm(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product: sum_i a_i * b_i. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "dot_product"

  override protected def term(x: Double, y: Double): Double = x * y

  override protected def genTerm(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer squared L2 over two BIGINT arrays — the compiled twin of the
  * HOF form `aggregate(zip_with(a, b, (x,y) ⇒ (x−y)·(x−y)), 0L, acc+v)`
  * that KMeansOp.intDist used through round 20 (r21; IntVectorSpec pins
  * bit-equality including the null/length edges). This is the inner loop
  * of the whole integer-ANN tier — every exact-recall scan, every
  * coarse-cell argmin (k per row), every Lloyd round — and the HOF form
  * pays interpreted lambda dispatch plus Long boxing per element.
  * Faithful semantics: null array → NULL; length mismatch or null
  * element → NULL (zip_with null-pads, the fold then sticks at null);
  * arithmetic is Long, exactly like the fold's: with ANSI mode on (read
  * from SQLConf when the expression is built, as Spark's own arithmetic
  * does) a subtract, multiply or add overflow throws
  * ArithmeticException; with ANSI off it wraps silently.
  */
case class IntSquaredL2(left: Expression, right: Expression,
    failOnOverflow: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "int_squared_l2"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    // zip_with pairs indices up to the shorter length and null-pads the
    // rest; the fold is NULL from the first null on, but under ANSI every
    // paired element is still computed, so an overflow anywhere throws
    var sawNull = false
    var acc = 0L
    var i = 0
    val n = math.min(na, nb)
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) sawNull = true
      else if (failOnOverflow) {
        val d = Math.subtractExact(a.getLong(i), b.getLong(i))
        val sq = Math.multiplyExact(d, d)
        if (!sawNull) acc = Math.addExact(acc, sq)
      } else {
        val d = a.getLong(i) - b.getLong(i)
        acc += d * d
      }
      i += 1
    }
    if (sawNull || na != nb) null else acc
  }

  // CodegenFallback, deliberately (MinhashSignature/BpeCount precedent):
  // argmin folds evaluate this per (row × candidate) — k coarse cells or
  // m×k sub-codebook entries — and inlining a loop per call site blew
  // the whole-stage method past the JIT threshold on the flat-PQ batch
  // path (measured: q_ann_pq_batch 1.06 → 1.34 s with codegen inlining,
  // back under the fallback). The O(dims) inner work is compiled JVM
  // either way; the fallback costs one boxed Long per call.

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ×10⁶ integer projection of a float/double embedding — the compiled
  * twin of `transform(emb, e ⇒ floor(e.cast(double)·10⁶).cast(long))`
  * (r21; IntVectorSpec pins equality incl. null elements and the
  * truncating double→long cast).
  */
case class IntVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "int_vec"

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val containsNull: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(LongType, containsNull)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = elemType match {
          case DoubleType => a.getDouble(i)
          case _ => a.getFloat(i).toDouble
        }
        // floor then the non-ANSI double→long cast (truncate/saturate)
        out(i) = math.floor(x * 1000000d).toLong
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFoldExpression {
  def squaredL2(a: Column, b: Column): Column =
    GraftExpressionBridge.column(SquaredL2Distance(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(DotProduct(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def intSquaredL2(a: Column, b: Column): Column =
    GraftExpressionBridge.column(IntSquaredL2(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def intVec(a: Column): Column =
    GraftExpressionBridge.column(IntVec(GraftExpressionBridge.expression(a)))
}
