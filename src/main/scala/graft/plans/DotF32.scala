package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: sequential-fold dot product of two FLOAT
  * arrays in double precision.
  *
  * This is the §2.11 preference ladder in action (SURVEY.md): where the
  * composed built-in (`aggregate(zip_with(...))`) allocates an
  * intermediate array per row and evaluates two lambdas, this expression
  * generates a single fused loop inside whole-stage codegen — the shape
  * the similarity hot path (graft.llm.Similarity) wants when scanning
  * billions of embeddings. Fold order is left-to-right, identical to the
  * composed form and to the DuckDB oracle's `list_sum`, so results are
  * bit-equal across all three. Unequal-length inputs yield NULL — the same
  * outcome as the composed form (zip_with NULL-pads the shorter array and
  * the null element nullifies the sum) — so malformed embeddings surface
  * as NULLs rather than silently truncated dot products.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  /** Always nullable: besides null inputs/elements, a runtime length
    * mismatch yields NULL, and lengths aren't statically known. Keeping
    * this `true` also prevents ev.isNull from becoming a compile-time
    * FalseLiteral that would silently coerce the null paths to 0.0. */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // ragged input → NULL, like the composed zip_with form (NULL-pad)
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // a null element nullifies the product sum — identical to Spark's
      // composed aggregate(zip_with(...)) form. (DuckDB's list_sum SKIPS
      // nulls, so a list_zip-based oracle would diverge on ragged/null
      // inputs; the oracle fixtures are fixed-dimension, never null.)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

object DotF32 {
  private[plans] val builder = (exprs: Seq[Expression]) => DotF32(exprs.head, exprs(1))
}
