package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: exact BIGINT dot product of two BIGINT
  * arrays — the serve-path scorer for the persisted SQ8 code index
  * (llm.AnnIndex).
  *
  * The quantized search (l3i) scores with Σ code_d · qcode_d. Computed
  * from raw floats, that sum has to be assembled via posexplode + partial
  * aggregation (codegen-friendly but one exchange and 64 rows per
  * vector); computed over the PERSISTED packed code arrays it is one
  * fused loop per row — no explode, no join on position, no exchange at
  * all before the final TakeOrdered. Integer addition is associative and
  * commutative, so the result is bit-equal to the exploded SUM under ANY
  * evaluation order — the DuckDB oracle needs no adjustment. int8 codes
  * (|code| ≤ 127) cannot overflow an i64 sum below ~10^15 dimensions.
  *
  * Null/ragged semantics match [[DotF32]]: length mismatch or a null
  * element yields NULL.
  */
case class DotI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i64 requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"

  /** Always nullable — same rationale as [[DotF32.nullable]]. */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
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
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotI64 =
    copy(left = newLeft, right = newRight)
}

object DotI64 {
  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "dot_i64(a, b) takes exactly 2 arguments")
    DotI64(exprs.head, exprs(1))
  }
}
