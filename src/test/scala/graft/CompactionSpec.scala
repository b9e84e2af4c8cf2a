package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.operators.Etl

/** s10's claims SQL can't see: the hot layout really is fragmented (many
  * files per partition dir — the appender anti-pattern), the selective
  * pass collapses ONLY those dirs, the cold dirs come out byte-identical
  * (never rewritten, never moved), and the rewrite is the identity on the
  * data. */
class CompactionSpec extends SparkSpecBase {

  /** (name, size, mtime) per parquet file, per partition dir — the
    * byte-identity evidence for untouched dirs. */
  private def layout(root: String): Map[String, Set[(String, Long, Long)]] =
    Using.resource(Files.list(Paths.get(root))) { ds =>
      ds.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .map { d =>
          d.getFileName.toString -> Using.resource(Files.list(d)) { fl =>
            fl.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, Files.size(f),
                Files.getLastModifiedTime(f).toMillis))
              .toSet
          }
        }.toMap
    }

  test("s10: selective pass collapses hot dirs, leaves cold dirs byte-identical") {
    val sparkS = spark
    import sparkS.implicits._
    val table = s"${Etl.scratch(spark)}/s10_table"

    val hotDirs = Etl.s10Fragment(spark, sfDir, table).toSet
    val before = layout(table)
    assert(hotDirs.nonEmpty && (before.keySet -- hotDirs).nonEmpty)
    hotDirs.foreach(d => assert(before(d).size >= 8, s"hot $d not fragmented"))
    (before.keySet -- hotDirs).foreach(d =>
      assert(before(d).size === 1, s"cold $d not compact"))

    val compacted = Etl.compactSelective(
      spark, table, Seq("event_type"), maxFilesPerDir = 8)
    assert(compacted.toSet === hotDirs, "pass must touch exactly the hot dirs")

    val after = layout(table)
    assert(after.keySet === before.keySet)
    hotDirs.foreach(d =>
      assert(after(d).size <= 2, s"hot $d still fragmented: ${after(d).size} files"))
    // the heart of the selective claim: cold dirs never rewritten — same
    // file names, sizes, AND mtimes
    (before.keySet -- hotDirs).foreach(d =>
      assert(after(d) === before(d), s"cold $d was touched"))

    // a second pass over the now-compact table is a no-op
    assert(Etl.compactSelective(
      spark, table, Seq("event_type"), maxFilesPerDir = 8).isEmpty)
    assert(layout(table) === after, "no-op pass must not move any bytes")

    // identity on the data: read-back counts equal the source counts
    val source = Tables.events(spark, sfDir)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Tables.readMemo(spark, table)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === source)
  }

  test("s10: compaction scan is partition-pruned to the hot dirs") {
    val table = s"${Etl.scratch(spark)}/s10_table"
    if (!Files.isDirectory(Paths.get(table))) Etl.s10Fragment(spark, sfDir, table)
    val stats = Etl.partDirStats(spark, table, 1)
    assert(stats.size >= 3)
    // mark a synthetic hot subset and pin the scan: the isin over the dir
    // key must land as a PARTITION filter (cold dirs pruned from the file
    // index), not a post-scan row filter over the whole table
    val hot = stats.sortBy(_.rel).take(2)
    val df = Etl.compactionInput(
      spark, table, Seq("event_type"), hot, targetFileBytes = 128L << 20)
    val plan = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*IN \(""".r.findFirstIn(plan).nonEmpty,
      s"dir-key isin did not land as a partition filter:\n$plan")
    assert(plan.contains("DataFilters: []"),
      s"pruning leaked into a row-level filter:\n$plan")
    // row-count evidence of the prune: the input is exactly the hot rows
    val hotRows = {
      import org.apache.spark.sql.functions.col
      hot.map { d =>
        val v = d.rel.stripPrefix("event_type=")
        Tables.readMemo(spark, table).filter(col("event_type") === v).count()
      }.sum
    }
    assert(df.count() === hotRows)
  }

  test("s10: the rewrite exchange widens to the bin count when bins outnumber the cores") {
    val table = s"${Etl.scratch(spark)}/s10_table"
    if (!Files.isDirectory(Paths.get(table))) Etl.s10Fragment(spark, sfDir, table)
    val hot = Etl.partDirStats(spark, table, 1).sortBy(_.rel).take(3)
    assert(hot.size === 3)
    // a target of a quarter of the largest dir: that dir alone takes at
    // least 4 bins, so the three dirs together outnumber 4 cores
    val target = math.max(1L, hot.map(_.bytes).max / 4)
    val binSum = hot.map(d => (d.bytes + target - 1) / target).sum
    val cores = spark.sparkContext.defaultParallelism
    assert(binSum > cores, s"fixture too small: $binSum bins vs $cores cores")
    val df = Etl.compactionInput(spark, table, Seq("event_type"), hot, target)
    val planned = df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions
    }
    assert(planned === Seq(binSum))
  }
}
