package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.operators.{Lakehouse, TableLog}
import graft.operators.TableLog.Action

final case class LakeRow(id: Long, grp: Int, amount: Double, note: String, tag: Option[String])

/** `lake_churn`: a seeded script of small transactions on one keyed
  * table-log table, each followed by one read, with scheduled maintenance
  * and a replica fed by the exactly-once relay.
  *  - transactions: appends, `morDelete`, `morMerge` upserts, one schema
  *    add (a column-adding append);
  *  - reads: `readAsOf` at a seeded retained version, a pruned point
  *    lookup via `readAsOfRange`, or a `cdfRead` window;
  *  - maintenance: after every block of transactions a compaction, a relay
  *    tick and a `checkpointLog`; `vacuum` at the end.
  * Per-job scheduling, driver planning, log replay and publish dominate;
  * `graft.llm` and `graft.sources` stay idle. Every read and the final
  * replica are checked against an in-memory model of the script by an
  * order-independent hash (row count and XOR of Spark's `xxhash64`). */
final class LakeChurn extends Workload {
  import LakeChurn._

  private var spark: SparkSession = _
  private var dir: String = _
  private var seed = 0L
  private def table = s"$dir/table"
  private def replica = s"$dir/replica"

  // the model: live rows, each version's (count, xor), publish times
  private val live = mutable.LinkedHashMap.empty[Long, LakeRow]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val keyIdx = mutable.HashMap.empty[Long, Int]
  private val versions = mutable.HashMap.empty[Int, (Long, Long)]
  private val published = mutable.HashMap.empty[Int, Double]
  private var liveCount = 0L
  private var liveXor = 0L
  private var head = 0
  private var nextId = 0L
  private var op = 0L
  private var blockNo = 0
  private var tagged = false
  private var addAt = 0L

  def setup(s: SparkSession, d: String, sd: Long, led: Ledger): Unit = {
    spark = s; dir = d; seed = sd
    // the schema add lands in a timed pass, after the warm pass
    addAt = TxnMix.size + 1 + Gen.below(2 * TxnMix.size, seed, 100, 0)
    val rows = (0 until InitialRows).map(_ => newRow(0))
    val df = frame(rows)
    head = TableLog.commit(spark, table, Action("schema", df.schema.json) +:
      TableLog.stageWithStats(spark, table, df, "data/v1", Seq("id"), 4))
    rows.foreach(put)
    versions(head) = (liveCount, liveXor)
    published(head) = Trace.nowMs
    Lakehouse.relay(spark, table, replica, "id", Consumer, files = 2, evolveSchema = true)
  }

  def outputRoots: Seq[(String, String)] = Seq("table" -> table, "table" -> replica)

  def inputs: Seq[(String, Long)] = Seq("initial_rows" -> InitialRows.toLong,
    "txns_per_pass" -> TxnMix.size.toLong, "reads_per_pass" -> ReadMix.size.toLong,
    "append_rows" -> AppendRows.toLong, "merge_rows" -> (MergeUpdates + MergeInserts).toLong,
    "delete_keys" -> DeleteKeys.toLong)

  def pass(i: Int, led: Ledger): PassOut = block(led)

  // ---------------------------------------------------------------- model

  private def newRow(k: Long): LakeRow = {
    val id = nextId
    nextId += 1
    rowFor(id, k)
  }
  private def rowFor(id: Long, k: Long): LakeRow =
    LakeRow(id, Gen.below(50, seed, 101, id, k).toInt, Gen.below(100000000, seed, 102, id, k) / 100.0,
      Corpus.word(Gen.below(500, seed, 103, id, k)),
      if (tagged) Some("t" + Gen.below(8, seed, 104, id, k)) else None)

  private def put(r: LakeRow): Unit = {
    live.get(r.id).foreach(old => liveXor ^= rowHash(old))
    if (!live.contains(r.id)) { liveCount += 1; keyIdx(r.id) = keys.size; keys += r.id }
    live(r.id) = r
    liveXor ^= rowHash(r)
  }
  private def remove(id: Long): Unit = live.remove(id).foreach { old =>
    liveXor ^= rowHash(old); liveCount -= 1
    val i = keyIdx.remove(id).get
    val last = keys.remove(keys.size - 1)
    if (last != id) { keys(i) = last; keyIdx(last) = i }
  }
  /** `n` distinct live keys, seeded. */
  private def pick(n: Int, stream: Long): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    var j = 0L
    while (out.size < math.min(n, keys.size)) {
      out += keys(Gen.below(keys.size, seed, stream, op, j).toInt); j += 1
    }
    out.toSeq
  }

  private def schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("grp", IntegerType), StructField("amount", DoubleType),
    StructField("note", StringType)) ++ (if (tagged) Seq(StructField("tag", StringType)) else Nil))

  private def frame(rows: Seq[LakeRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(Seq(r.id, r.grp, r.amount, r.note) ++
        (if (tagged) Seq(r.tag.orNull) else Nil))
    }.asJava, schema)
  }

  private def committed(v: Int): Unit = {
    head = v
    versions(v) = (liveCount, liveXor)
    published(v) = Trace.nowMs
  }

  // ---------------------------------------------------------------- script

  /** One block: [[TxnMix]] in a seeded order (the schema add replaces one
    * append, once per run), each transaction followed by one read from
    * [[ReadMix]] in a seeded order, then a compaction, one relay tick and a
    * log checkpoint. Every block does the same mix of work; the seed picks
    * order, keys, values and versions. */
  private def block(led: Ledger): PassOut = {
    blockNo += 1
    def shuffled[A](xs: Seq[A], stream: Long): Seq[A] =
      xs.zipWithIndex.sortBy { case (_, j) => Gen.h(seed, stream, blockNo, j) }.map(_._1)
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var bytes = 0L
    for ((kind, readKind) <- shuffled(TxnMix, 105).zip(shuffled(ReadMix, 106))) {
      op += 1
      val t0 = Trace.nowMs
      if (kind == "append") {
        val evolve = !tagged && op >= addAt
        if (evolve) tagged = true
        val add = (0 until AppendRows).map(_ => newRow(op))
        val adds = led.call("tablelog.stage")(
          TableLog.stageWithStats(spark, table, frame(add), s"data/op$op", Seq("id"), 1))
        val v = led.call("tablelog.publish")(TableLog.commit(spark, table,
          if (evolve) Action("schema", schema.json) +: adds else adds))
        add.foreach(put); committed(v)
        rows += add.size; bytes += add.map(rowBytes).sum
      } else if (kind == "delete") {
        val doomed = pick(DeleteKeys, 111)
        val sp = spark; import sp.implicits._
        val v = led.call("tablelog.delete")(Lakehouse.morDelete(spark, table, doomed.toDF("id")))
        doomed.foreach(remove); committed(v)
        rows += doomed.size; bytes += 8L * doomed.size
      } else {
        val upd = pick(MergeUpdates, 112).map(id => rowFor(id, op))
        val ins = (0 until MergeInserts).map(_ => newRow(op))
        val v = led.call("tablelog.merge")(Lakehouse.morMerge(spark, table, frame(upd ++ ins), "id"))
        (upd ++ ins).foreach(put); committed(v)
        rows += upd.size + ins.size; bytes += (upd ++ ins).map(rowBytes).sum
      }
      commitMs += Trace.nowMs - t0
      readMs += read(readKind, led)
    }
    committed(led.call("tablelog.compact")(Lakehouse.compactCommit(spark, table, 4, Seq("id"))))
    val lagMs = relayTick(led)
    led.call("tablelog.checkpoint")(TableLog.checkpointLog(spark, table))
    PassOut(rows, bytes, samples = Map("commit" -> commitMs.toSeq, "read" -> readMs.toSeq,
      "replica_lag" -> lagMs))
  }

  /** One relay tick; the lag of each applied source version is the time
    * from its publish to the tick's return. */
  private def relayTick(led: Ledger): Seq[Double] = {
    val applied = led.call("tablelog.relay")(
      Lakehouse.relay(spark, table, replica, "id", Consumer, files = 2, evolveSchema = true))
    val done = Trace.nowMs
    applied.flatMap(published.get).map(done - _)
  }

  private def hashCols(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), bit_xor(xxhash64(df.columns.map(col).toSeq: _*)).as("x"))

  /** One seeded read, drained and checked; returns its latency in ms. */
  private def read(kind: String, led: Ledger): Double = {
    val sp = spark; import sp.implicits._
    if (Trace.enabled) led.call("tablelog.replay") {
      TableLog.liveState(spark, table, TableLog.currentVersion(spark, table))
    }
    val t0 = Trace.nowMs
    if (kind == "asof") {
      val v = head - Gen.below(math.min(Retain, head), seed, 121, op).toInt
      val got = led.call("tablelog.read_asof")(hashCols(TableLog.readAsOf(spark, table, v))
        .as[(Long, Long)].head())
      val ms = Trace.nowMs - t0
      led.check("read_asof")((got == versions(v), s"v$v read $got, model ${versions(v)}"))
      ms
    } else if (kind == "point") {
      val k = keys(Gen.below(keys.size, seed, 122, op).toInt)
      val got = led.call("tablelog.read_point")(hashCols(
        TableLog.readAsOfRange(spark, table, head, "id", k, k)).as[(Long, Long)].head())
      val ms = Trace.nowMs - t0
      led.check("read_point")((got == (1L, rowHash(live(k))), s"key $k read $got"))
      ms
    } else {
      led.call("tablelog.read_cdf")(Fs.drain(Lakehouse.cdfRead(spark, table, math.max(1, head - 3), head, "id")))
      Trace.nowMs - t0
    }
  }

  override def finish(led: Ledger): Map[String, Double] = {
    val sp = spark; import sp.implicits._
    relayTick(led)
    led.check("replica_equals_model") {
      val got = hashCols(TableLog.readAsOf(spark, replica, TableLog.currentVersion(spark, replica)))
        .as[(Long, Long)].head()
      (got == (liveCount, liveXor), s"replica $got, model ${(liveCount, liveXor)}")
    }
    val t0 = Trace.nowMs
    val retainFrom = math.max(1, head - Retain + 1)
    led.call("tablelog.vacuum") {
      TableLog.checkpointLog(spark, table)
      TableLog.vacuum(spark, table, retainFrom)
      TableLog.vacuumLog(spark, table, retainFrom)
    }
    val vacuumS = (Trace.nowMs - t0) / 1000
    led.check("read_after_vacuum") {
      val got = hashCols(TableLog.readAsOf(spark, table, head)).as[(Long, Long)].head()
      (got == versions(head), s"v$head after vacuum read $got, model ${versions(head)}")
    }
    val once = s"$dir/compacted_once"
    TableLog.readAsOf(spark, table, head).repartition(4).write.parquet(once)
    Map("tablelog.vacuum_s" -> vacuumS,
      "tablelog.log_files" -> Fs.listing(s"$table/_log").size.toDouble,
      "space_amp" -> Fs.bytesUnder(table).toDouble / Fs.bytesUnder(once))
  }
}

object LakeChurn {
  val InitialRows = 4000
  val TxnMix = Seq("append", "delete", "merge")
  val ReadMix = Seq("asof", "point", "cdf")
  val AppendRows = 200
  val DeleteKeys = 40
  val MergeUpdates = 60
  val MergeInserts = 40
  /** Versions a read may go back; vacuum keeps exactly these. */
  val Retain = 20
  val Consumer = "replica"

  /** Spark's `xxhash64` of a row (seed 42, columns in order, nulls
    * skipped), so the model hashes exactly what the engine does. */
  def rowHash(r: LakeRow): Long = {
    def str(s: String, h: Long): Long = {
      val b = s.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
    var h = 42L
    h = XXH64.hashLong(r.id, h)
    h = XXH64.hashInt(r.grp, h)
    h = XXH64.hashLong(java.lang.Double.doubleToLongBits(if (r.amount == -0.0) 0.0 else r.amount), h)
    h = str(r.note, h)
    r.tag.foreach(t => h = str(t, h))
    h
  }

  /** Bytes of a row as handed in: fixed-width columns plus string bytes. */
  def rowBytes(r: LakeRow): Long = 20L + r.note.length + r.tag.map(_.length).getOrElse(0)
}
