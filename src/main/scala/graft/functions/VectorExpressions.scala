package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for the vector hot path (SURVEY.md §2.11
  * extension surface, upgraded from "not needed" after measuring).
  *
  * `zip_with` + `aggregate` higher-order lambdas are CodegenFallback —
  * every row pays interpreted lambda dispatch per element plus an
  * intermediate array allocation. This expression generates a tight
  * fused Java loop over the two `ArrayData` buffers inside whole-stage
  * codegen: no allocation, no virtual calls. Summation order is the
  * same sequential left-to-right as the HOF pipeline and DuckDB's
  * `list_sum(list_transform(...))`, so oracle results are unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  /** Whether either input can hold null elements — when false (the
    * vector hot path: parquet float arrays cast to double), codegen
    * emits the tight no-branch loop. */
  private def anyElementNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }
  }

  /** Semantics match the HOF idiom `aggregate(zip_with(a,b,*),0.0,+)`
    * exactly — required for [[RewriteHofDotProduct]] to be a pure
    * optimization: unequal lengths → null (zip_with pads the shorter
    * side with null, nulling the sum), and any null element → null. */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (anyElementNullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |    ${ev.isNull} = true; break;
             |  }""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(newLeft, newRight)
}

object VectorExpressions {
  /** Shared `graft_dot` builder with an analysis-time arity check —
    * without it a 1- or 3-arg SQL call dies with
    * IndexOutOfBoundsException instead of a resolution error. */
  val dotBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> "`graft_dot`", "expectedNum" -> "2",
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    DotProduct(children(0), children(1))
  }

  /** Idempotently register `graft_dot` in the session's function
    * registry so operators can use it via `expr("graft_dot(a, b)")`.
    * Registration is per-session state — the same injection a
    * SparkSessionExtensions would do, without requiring control of the
    * session builder (a caller may pass a session built elsewhere). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier("graft_dot")
    if (!registry.functionExists(ident)) {
      registry.registerFunction(
        ident,
        new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
        dotBuilder)
    }
    // and the optimizer rewrite (idempotent): HOF-idiom dot products
    // written by users fuse onto the native expression automatically
    if (!spark.experimental.extraOptimizations.contains(
        RewriteHofDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteHofDotProduct
  }
}
