package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `bits`-bit SimHash signature of a
  * string's words (split on single spaces) as BIGINT, one md5 digest per
  * word.
  *
  * Replaces llm.Dedup's original 16 per-bit `aggregate(words, ...)`
  * higher-order folds — 16 interpreted lambda walks per row, each
  * computing `md5(concat(w, '#b'))`, i.e. SIXTEEN digests per word
  * (reference semantics: src/processing/dedup.rs seeded-hash bit votes).
  * Here every word is digested ONCE and all bit-votes come from that one
  * digest: bit `b` votes +1 iff the low bit of hex nibble `b` of
  * `md5(word)` is set (nibble b = hex character b+1 of the digest's hex
  * form, so the DuckDB oracle expresses the identical vote as
  * `(instr('0123456789abcdef', substr(md5(w), b+1, 1)) - 1) & 1`). The
  * signature bit is 1 iff the word-count-weighted vote sum is positive —
  * the standard SimHash majority rule.
  *
  * Word boundaries reproduce Spark `split(text, ' ')` (Java limit -1):
  * words = spaces + 1, empty words from doubled/leading/trailing spaces
  * kept and digested (md5 of the empty string) — matching DuckDB
  * `string_split(text, ' ')`, so the oracle walks the same word stream.
  */
case class SimHashSig(child: Expression, bits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"simhash_sig requires a STRING argument, got ${child.dataType.catalogString}")
    else if (bits < 1 || bits > 32)
      TypeCheckResult.TypeCheckFailure(
        s"simhash_sig bits out of range (1..32, one hex nibble per bit): $bits")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    SimHashSig.evalSimhash(input.asInstanceOf[UTF8String], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashSig.evalSimhash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {

  // md5 digests are stateful; one instance per thread (Md5Prefix48's trick)
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Named `evalSimhash` (NOT `eval`): the case class inherits
    * `eval(InternalRow)` from Expression, which suppresses the same-name
    * static forwarder and breaks generated code (CodegenSpec's round-6
    * find). */
  def evalSimhash(s: UTF8String, bits: Int): Long = {
    val bytes = s.getBytes
    val len = bytes.length
    val votes = new Array[Int](bits)
    val md = digests.get()
    var off = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') { // word region [off, i)
        md.reset()
        md.update(bytes, off, i - off)
        val d = md.digest()
        var b = 0
        while (b < bits) {
          // hex nibble b of the digest: high nibble of byte b/2 when b is
          // even, low nibble when odd — exactly hex character b+1
          val nib =
            if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xF
            else d(b >> 1) & 0xF
          votes(b) += (if ((nib & 1) == 1) 1 else -1)
          b += 1
        }
        off = i + 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2,
      "simhash_sig(text, bits) takes exactly 2 arguments")
    SimHashSig(exprs.head, FoldableArgs.int("simhash_sig", "bits", exprs(1)))
  }
}
