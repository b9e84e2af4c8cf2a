package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the DISTINCT winnowing fingerprints of a
  * string as ARRAY<BIGINT> — md5p48 hashes of the word k-grams in position
  * order, then the minimum of every w-wide window of consecutive hashes
  * (Schleimer, Wilkerson & Aiken, SIGMOD'03 "Winnowing: local algorithms
  * for document fingerprinting" — the MOSS scheme). The guarantee: any
  * shared word run of length >= w+k-1 between two documents contributes at
  * least one IDENTICAL fingerprint to both, while only ~2/(w+1) of the
  * positions are kept — a principled, density-bounded alternative to
  * shipping every span hash (l14) when the screen only needs pair
  * DETECTION, not per-span counts.
  *
  * One pass over the UTF-8 bytes: word starts found byte-wise (the
  * [[ShingleHashes]] idiom — 0x20 never occurs inside a multi-byte UTF-8
  * sequence), each k-gram hashed straight off the parent string's byte
  * region (a space-joined word k-gram IS a byte region of the original),
  * window minima via a monotonic deque (O(1) amortized per position), an
  * open-addressing set dedupes the emitted values. No shingle string, no
  * hash array materialized per window, no lambda.
  *
  * Ties need no rule here: the emitted value set only depends on each
  * window's minimum VALUE, which is tie-invariant (classic winnowing's
  * rightmost-min rule matters only when positions are recorded).
  * Documents with fewer than w+k-1 words (no complete window) emit no
  * fingerprints — they are below the guarantee threshold by definition.
  * The hash is md5p48 (the engine-independent 48-bit md5 prefix every
  * md5-anchored oracle replays), so the DuckDB side reproduces the exact
  * fingerprint set with list_min over hex-fold slices.
  */
case class WinnowHashes(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"winnow_hashes requires a STRING argument, got ${child.dataType.catalogString}")
    else if (k < 1) TypeCheckResult.TypeCheckFailure(s"winnow_hashes requires k >= 1, got $k")
    else if (w < 1) TypeCheckResult.TypeCheckFailure(s"winnow_hashes requires w >= 1, got $w")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"

  protected override def nullSafeEval(input: Any): Any =
    WinnowHashes.evalWinnow(input.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowHashes.evalWinnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

object WinnowHashes {

  private val EMPTY = new GenericArrayData(Array.emptyLongArray)

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def evalWinnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (nWords < k + w - 1) return EMPTY // not even one complete window
    val starts = new Array[Int](nWords + 1)
    var wd = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(wd) = i + 1; wd += 1 }; i += 1 }
    starts(nWords) = len + 1

    val nSh = nWords - k + 1 // >= w by the guard above
    val hs = new Array[Long](nSh)
    val md = digests.get()
    var sh = 0
    while (sh < nSh) {
      val off = starts(sh)
      val end = starts(sh + k) - 1
      md.reset()
      md.update(bytes, off, end - off)
      val d = md.digest()
      hs(sh) = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
        ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      sh += 1
    }

    // sliding-window minima over hs, deduped: monotonic deque of indices
    // with strictly increasing hash values; emitted set is tie-invariant
    val nWin = nSh - w + 1
    val deque = new Array[Int](nSh)
    var head = 0
    var tail = 0
    val out = new Array[Long](nWin)
    var m = 0
    var cap = 4
    while (cap < nWin * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var seenZero = false
    i = 0
    while (i < nSh) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val h = hs(deque(head))
        if (h == 0L) {
          if (!seenZero) { seenZero = true; out(m) = 0L; m += 1 }
        } else {
          var slot = (h.toInt ^ (h >>> 32).toInt) & mask
          var dup = false
          var probing = true
          while (probing) {
            val v = table(slot)
            if (v == 0L) probing = false
            else if (v == h) { dup = true; probing = false }
            else slot = (slot + 1) & mask
          }
          if (!dup) { table(slot) = h; out(m) = h; m += 1 }
        }
      }
      i += 1
    }
    new GenericArrayData(if (m == nWin) out else java.util.Arrays.copyOf(out, m))
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 3, "winnow_hashes(text, k, w) takes exactly 3 arguments")
    WinnowHashes(exprs.head,
      FoldableArgs.int("winnow_hashes", "k", exprs(1)),
      FoldableArgs.int("winnow_hashes", "w", exprs(2)))
  }
}
