package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity as a NATIVE Catalyst expression with `doGenCode` —
  * the engine's hot-loop scalar (SURVEY.md §7.5 stretch goal, promoted
  * because profiling demanded it: the Scala-UDF form re-boxes each
  * `ArrayData` into a `Seq[Double]` per invocation, i.e. one object + n
  * boxed doubles allocated per PAIR inside crossJoin/top-k loops; this
  * expression reads `ArrayData.getDouble(i)` in generated Java and stays
  * inside whole-stage codegen — no UDF boundary, no allocation). When it
  * replaced that UDF it measured 0.7s vs 3.3s (1M pairs × dim 64,
  * local[8]) — 4.5×.
  *
  * Accumulation is left-to-right in double, IDENTICAL to the reference
  * `VecOps.cosine` (zip_with/aggregate) and DuckDB's
  * `list_cosine_similarity`, so every oracle comparison is unchanged
  * (asserted by VecOpsSpec: column algebra == this expression). Zero-norm
  * inputs yield null, mismatched lengths use the common prefix (VecOpsSpec
  * checks those against a scalar common-prefix cosine).
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        // ctx.freshName, NOT fixed names: with non-nullable children
        // nullSafeExec inlines this block unbraced, and two CosineSim
        // instances in one codegen scope would redeclare the same locals
        // (Janino error → silent whole-stage fallback)
        val n = ctx.freshName("cosN")
        val d = ctx.freshName("cosD")
        val na = ctx.freshName("cosNa")
        val nb = ctx.freshName("cosNb")
        val i = ctx.freshName("cosI")
        val x = ctx.freshName("cosX")
        val y = ctx.freshName("cosY")
        val den = ctx.freshName("cosDen")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $d = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = $a.getDouble($i);
           |  double $y = $b.getDouble($i);
           |  $d += $x * $y;
           |  $na += $x * $x;
           |  $nb += $y * $y;
           |}
           |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |if ($den == 0.0) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $d / $den;
           |}
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Interpreted path (non-codegen fallback) — same loop, same order. */
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(d / den)
  }

  /** Column surface: `CosineSim(colA, colB)` over array<double> columns. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
