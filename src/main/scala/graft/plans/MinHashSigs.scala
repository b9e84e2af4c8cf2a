package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: all `numHashes` MinHash signatures of a
  * text's word k-gram shingles as ARRAY<BIGINT>, one pass over the bytes
  * ([[ShingleHashes.evalMinhash]]).
  *
  * Bit-equal to the SQL composition it replaces (llm.Dedup's
  * `array_min(transform(hs, h -> ((h % P) * a_j + b_j) % P))` over the
  * md5p48 shingle-hash array) — same digest, same LCG arithmetic, min
  * folded in shingle order (min is order- and duplicate-insensitive, so
  * the pre-distinct the array form performs is unnecessary here). The
  * LCG family constants are THE canonical ones (mirrored into the DuckDB
  * oracle SQL via llm.Dedup's delegating defs).
  */
case class MinHashSigs(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sigs requires a STRING argument, got ${child.dataType.catalogString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"minhash_sigs requires k >= 1, got $k")
    else if (numHashes < 1 || numHashes > 1024)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sigs numHashes out of range: $numHashes")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(MinHashSigs.lcgA)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(MinHashSigs.lcgB)

  protected override def nullSafeEval(input: Any): Any =
    ShingleHashes.evalMinhash(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k, MinHashSigs.P, as, bs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.ShingleHashes.evalMinhash($c, $k, ${MinHashSigs.P}L, $asRef, $bsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {

  /** The canonical MinHash permutation family: one md5p48 base hash per
    * shingle, then cheap LCG variants — 16x fewer digests than seeded-md5
    * per signature (the standard trick). llm.Dedup delegates here so the
    * oracle SQL builder and this expression can never drift. */
  val P: Long = 1000000007L
  def lcgA(h: Int): Long = 1000003L * (h + 1) + 17
  def lcgB(h: Int): Long = 7919L * (h + 1) + 3

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 3,
      "minhash_sigs(text, k, numHashes) takes exactly 3 arguments")
    MinHashSigs(exprs.head,
      FoldableArgs.int("minhash_sigs", "k", exprs(1)),
      FoldableArgs.int("minhash_sigs", "numHashes", exprs(2)))
  }
}
