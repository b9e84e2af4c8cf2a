package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-frequency aggregate: `word_count_agg(text)` folds every
  * row's space-separated tokens into ONE vocabulary map
  * (`MAP<STRING,BIGINT>`), the n-gram-LM fit kernel (l17/l17b/r11).
  *
  * Equivalent to `explode(split(text, ' ')) -> groupBy(w) -> count`, and
  * bit-identical to it (exact integer counts; tokenization reproduces
  * `split`'s single-space semantics including empty tokens from
  * consecutive/leading/trailing separators and the [""] result for "").
  * What changes is the cost shape: the explode form materializes one ROW
  * per token — 25M Generate outputs, each a row through the hash
  * aggregate — where this aggregate tokenizes the raw UTF-8 bytes in
  * place and probes a per-partition open HashMap, so the per-token cost
  * is a byte scan + one probe, no row machinery. Partials are
  * vocabulary-sized maps (the ideal map-side combine); the merge is
  * |vocab| integer adds per partition. Memory is bounded by the observed
  * vocabulary — the right trade for natural-language word counting
  * (vocab ≪ corpus); for OPEN key domains at 100 TB (n-grams, URLs) use
  * the l25 Misra-Gries two-pass instead, which bounds memory by capacity.
  *
  * Null rows contribute nothing (the explode form drops them too). */
case class WordCountAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_count_agg requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_count_agg"

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, Long] =
    new java.util.HashMap[UTF8String, Long]()

  override def update(buf: java.util.HashMap[UTF8String, Long], input: InternalRow):
      java.util.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      // getBytes copies whenever the string shares a larger buffer (the
      // UnsafeRow/column-vector case); copy defensively on first INSERT
      // below so a key can never alias a reused scan buffer even when the
      // string owned its array exactly
      val bytes = s.getBytes
      var start = 0
      var i = 0
      val n = bytes.length
      while (i <= n) {
        if (i == n || bytes(i) == ' ') {
          val w = UTF8String.fromBytes(bytes, start, i - start)
          // Scala unboxes java.util.HashMap's null miss to 0L
          val old: Long = buf.get(w)
          if (old == 0L && !buf.containsKey(w))
            buf.put(UTF8String.fromBytes(w.getBytes), 1L)
          else buf.put(w, old + 1L)
          start = i + 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: java.util.HashMap[UTF8String, Long],
      other: java.util.HashMap[UTF8String, Long]): java.util.HashMap[UTF8String, Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      buf.put(e.getKey,
        (if (buf.containsKey(e.getKey)) buf.get(e.getKey) else 0L) + e.getValue)
    }
    buf
  }

  override def eval(buf: java.util.HashMap[UTF8String, Long]): Any = {
    val n = buf.size()
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    val it = buf.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buf: java.util.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, Long] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val m = new java.util.HashMap[UTF8String, Long](Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val len = in.getInt
      val kb = new Array[Byte](len)
      in.get(kb)
      m.put(UTF8String.fromBytes(kb), in.getLong)
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): WordCountAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): WordCountAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): WordCountAgg =
    copy(child = newChild)
}

object WordCountAgg {

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 1, "word_count_agg(text) takes exactly 1 argument")
    WordCountAgg(exprs.head).toAggregateExpression()
  }
}
