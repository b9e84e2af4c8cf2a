package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{Etl, Lakehouse, TableLog}

/** S13/S14/S15's claims SQL can't see: snapshot isolation for readers
  * pinned under a racing compaction, the append-retry vs real-conflict
  * split of the compaction commit, the empty feed a pure rewrite must
  * produce, and the manifest-stats pruning of the range read's file set. */
class LakehouseSpec extends SparkSpecBase {

  private def fs(table: String) = new Path(table)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("s13: compaction is one manifest transaction — pinned readers see identical rows, files collapse, inputs stay on disk for time travel") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s13_spec_table"
    Lakehouse.s13Fixture(spark, sfDir, table)
    val vPre = TableLog.currentVersion(spark, table)
    val preFiles = TableLog.liveFiles(spark, table, vPre)
    assert(preFiles.size === Lakehouse.S13_BATCHES * Lakehouse.S13_FILES_PER_BATCH)
    val pinned = TableLog.readAsOf(spark, table, vPre)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    val vPost = Lakehouse.compactCommit(spark, table, Lakehouse.S13_TARGET_FILES)
    assert(vPost === vPre + 1)
    // the packed snapshot: same rows, S13_TARGET_FILES live files
    val postFiles = TableLog.liveFiles(spark, table, vPost)
    assert(postFiles.size === Lakehouse.S13_TARGET_FILES)
    assert(postFiles.forall(_.startsWith("data/compact/")))
    val post = TableLog.readAsOf(spark, table, vPost)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    assert(post === pinned, "compaction changed the data")
    // snapshot isolation: the PINNED version still reads its own (small)
    // files — all still on disk, none swapped under the reader
    val rePinned = TableLog.readAsOf(spark, table, vPre)
    assert(rePinned.agg(count(lit(1)), sum($"event_id")).collect().head === pinned)
    preFiles.foreach(r => assert(fs(table).exists(new Path(s"$table/$r")),
      s"compaction must not delete $r — v$vPre still references it"))
    assert(rePinned.inputFiles.forall(!_.contains("/compact/")),
      "the pinned snapshot must scan the pre-compaction file list")
  }

  test("s13 x s14: a pure rewrite produces an EMPTY change feed") {
    val table = s"${Etl.scratch(spark)}/s13_cdf_table"
    Lakehouse.s13Fixture(spark, sfDir, table)
    val vPre = TableLog.currentVersion(spark, table)
    val vPost = Lakehouse.compactCommit(spark, table, Lakehouse.S13_TARGET_FILES)
    // every row of the compaction commit is a rewritten-identical pair —
    // the feed a consumer subscribes to must see NOTHING
    assert(Lakehouse.cdfRead(spark, table, vPre, vPost, "event_id").count() === 0L,
      "compaction leaked layout changes into the change feed")
  }

  test("s13: a blind append racing the compaction costs it a clean retry; nothing lost") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s13_race_table"
    Lakehouse.s13Fixture(spark, sfDir, table)
    val v0 = TableLog.currentVersion(spark, table)
    val nRows = TableLog.readAsOf(spark, table, v0).count()
    // an appender lands a fresh batch INSIDE the compaction's
    // read-to-publish window (the beforePublish seam), exactly once
    val extra = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .filter($"event_id" % Lakehouse.S13_BATCHES === 0)
      .withColumn("event_id", $"event_id" + 10000000L)
    var raced = false
    val vPost = Lakehouse.compactCommit(spark, table,
      Lakehouse.S13_TARGET_FILES, beforePublish = { _ =>
        if (!raced) {
          raced = true
          TableLog.commit(spark, table,
            TableLog.stage(spark, table, extra, "data/race-append"))
        }
      })
    // the compaction lost v(v0+1) to the append, revalidated (all inputs
    // still live — appends commute), and landed at v0+2
    assert(vPost === v0 + 2)
    val head = TableLog.readAsOf(spark, table, vPost)
    assert(head.count() === nRows + extra.count(),
      "the racing append's rows must survive the compaction commit")
    val live = TableLog.liveFiles(spark, table, vPost)
    assert(live.exists(_.startsWith("data/race-append/")),
      "the appended files must stay live alongside the packed rewrite")
    assert(live.count(_.startsWith("data/compact/")) === Lakehouse.S13_TARGET_FILES)
  }

  test("s13: a concurrent commit removing an input is a REAL conflict — loud abort, orphans vacuumable") {
    val table = s"${Etl.scratch(spark)}/s13_conflict_table"
    Lakehouse.s13Fixture(spark, sfDir, table)
    val victim = TableLog.liveFiles(spark, table,
      TableLog.currentVersion(spark, table)).head
    var raced = false
    val e = intercept[java.util.ConcurrentModificationException] {
      Lakehouse.compactCommit(spark, table, Lakehouse.S13_TARGET_FILES,
        beforePublish = { _ =>
          if (!raced) {
            raced = true
            // a competing writer retires one of the compaction's inputs
            // (what a second compaction or a DELETE would do)
            TableLog.commit(spark, table,
              Seq(TableLog.Action("remove", victim)))
          }
        })
    }
    assert(e.getMessage.contains("conflict"))
    // the aborted attempt's staged rewrite is an unreferenced orphan:
    // on disk now, gone after a vacuum, and never readable as a version
    val staged = fs(table).globStatus(new Path(s"$table/data/compact/*/*.parquet"))
    assert(staged.nonEmpty, "the aborted attempt should have staged files")
    TableLog.vacuum(spark, table,
      retainFrom = 1)
    val after = fs(table).globStatus(new Path(s"$table/data/compact/*/*.parquet"))
    assert(after.isEmpty, "vacuum must reclaim the aborted compaction's staging")
  }

  test("s14: the feed classifies per commit — inserts, true deletes, value-changed updates with post-images") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s14_spec_table"
    Lakehouse.s14Fixture(spark, sfDir, table)
    val feed = Lakehouse.cdfRead(spark, table, 0, 4, "event_id").cache()
    try {
      // v3 (the click rewrite): ONLY deletes — and exactly the sub-100 rows
      val v3 = feed.filter($"_commit_version" === 3)
      assert(v3.select($"_change_type").distinct().as[String].collect().toSeq
        === Seq("delete"))
      val expectedDeletes = Tables.events(spark, sfDir)
        .filter($"event_type" === "click" && $"value" < 100.0).count()
      assert(v3.count() === expectedDeletes)
      // v4 (the value+1 backfill): ONLY updates, post-image carries the
      // bumped value for every error row
      val v4 = feed.filter($"_commit_version" === 4)
      assert(v4.select($"_change_type").distinct().as[String].collect().toSeq
        === Seq("update"))
      val bumped = v4.select($"event_id", $"value")
        .join(Tables.events(spark, sfDir)
          .filter($"event_type" === "error")
          .select($"event_id", $"value".as("orig")), Seq("event_id"))
      assert(bumped.count() > 0)
      assert(bumped.filter($"value" =!= $"orig" + 1.0).count() === 0L,
        "update rows must carry the post-image")
    } finally feed.unpersist()
  }

  test("s14: the feed subscribes to a LIVE stream — foreachBatch commits replay per version, a merge rewrite feeds only its changed rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = s"${Etl.scratch(spark)}/s14_stream_table"
    fs(t).delete(new Path(t), true)
    val evts = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .as[Evt].collect().toSeq
    // v1 publishes the schema — the cdf contract: images read under the
    // LOGGED schema (readAsOf discipline), never from footers
    TableLog.commit(spark, t, Seq(TableLog.Action("schema",
      spark.createDataset(evts.take(1)).toDF().schema.json)))
    val mem = MemoryStream[Evt]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch(TableLog.commitBatch(t, "cdf-stream") _)
      .outputMode("append").start()
    try {
      mem.addData(evts.take(40)); q.processAllAvailable()
      mem.addData(evts.slice(40, 100)); q.processAllAvailable()
    } finally q.stop()
    assert(TableLog.currentVersion(spark, t) === 3)
    val feed = Lakehouse.cdfRead(spark, t, 1, 3, "event_id").cache()
    try {
      // each version's feed slice is exactly its micro-batch, all inserts
      assert(feed.select($"_change_type").distinct().as[String].collect().toSeq
        === Seq("insert"))
      assert(feed.filter($"_commit_version" === 2)
        .select($"event_id").as[Long].collect().toSet
        === evts.take(40).map(_.event_id).toSet)
      assert(feed.filter($"_commit_version" === 3)
        .select($"event_id").as[Long].collect().toSet
        === evts.slice(40, 100).map(_.event_id).toSet)
    } finally feed.unpersist()
    // a downstream MERGE-shaped commit: batch 0's files rewritten with 5
    // rows user-bumped — the feed emits exactly those 5 as updates; the
    // 35 rewritten-identical rows emit NOTHING
    val (b0files, _) = TableLog.actionsIn(spark, t, 1, 2)
    val bumpIds = evts.take(5).map(_.event_id).toSet
    val rewritten = spark.read
      .schema(TableLog.schemaAsOf(spark, t, 3).get)
      .parquet(b0files.map(r => s"$t/$r"): _*)
      .withColumn("user_id",
        when($"event_id".isin(bumpIds.toSeq: _*), $"user_id" + 1000000L)
          .otherwise($"user_id"))
    TableLog.commit(spark, t,
      b0files.map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, t, rewritten, "data/cdf-merge"))
    val merge = Lakehouse.cdfRead(spark, t, 3, 4, "event_id")
    assert(merge.select($"_change_type").distinct().as[String].collect().toSeq
      === Seq("update"))
    assert(merge.select($"event_id").as[Long].collect().toSet === bumpIds)
  }

  test("s17: the copy-on-write MERGE rewrites ONLY the files covering the delta's key range — the rest survive byte-identical") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/s17_spec_src"
    val dst = s"${Etl.scratch(spark)}/s17_spec_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val maxId = ev.agg(max($"event_id")).head().getLong(0)
    val k = maxId / 8 // the delta's key locality: the first ~1/8 of keys
    // src v1: the whole table; dst cold-applies it into 8 clustered files
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev, "data/v1"))
    Lakehouse.cdfApply(spark, src, dst, 1, "event_id", "spec", files = 8)
    val before = TableLog.liveFiles(spark, dst, 1)
    assert(before.size === 8)
    val sigBefore = before.map { r =>
      val st = fs(dst).getFileStatus(new Path(s"$dst/$r"))
      r -> (st.getLen, st.getModificationTime)
    }.toMap
    // src v2 REWRITES every file but only CHANGES keys < k: the feed's
    // identical-row suppression turns a full physical rewrite into a
    // narrow logical delta — and the apply must prune to that delta
    val bumped = ev.withColumn("value",
      when($"event_id" < k, $"value" + 1.0).otherwise($"value"))
    TableLog.commit(spark, src,
      TableLog.liveFiles(spark, src, 1).map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, src, bumped, "data/v2"))
    Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "spec", files = 8)
    val after = TableLog.liveFiles(spark, dst, 2)
    val survivorsOnDisk = before.toSet.intersect(after.toSet)
    val rewritten = before.toSet -- after.toSet
    assert(rewritten.nonEmpty && rewritten.size < before.size,
      s"expected a PARTIAL rewrite, got ${rewritten.size} of ${before.size}")
    assert(survivorsOnDisk.nonEmpty, "untouched files must stay live")
    // untouched files were never rewritten: same physical (length, mtime)
    // — existence alone would pass a rewrite that clobbered them in place
    survivorsOnDisk.foreach { r =>
      val st = fs(dst).getFileStatus(new Path(s"$dst/$r"))
      assert((st.getLen, st.getModificationTime) === sigBefore(r),
        s"survivor $r was physically rewritten")
    }
    // and the destination's final rows replay the src commit rules —
    // compared as a set of (id, value), order- and layout-proof
    val gotRows = TableLog.readAsOf(spark, dst, 2)
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
    val wantRows = bumped.select($"event_id", $"value")
      .as[(Long, Double)].collect().toSet
    assert(gotRows === wantRows, "dst rows diverged from the src rules")
    // exactly-once: re-delivering version 2 no-ops at the txn gate
    assert(Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "spec", 8) === -1)
    assert(TableLog.currentVersion(spark, dst) === 2)
    // a pure APPEND src commit (new disjoint keys) must rewrite NOTHING:
    // inserts never force a copy-on-write of existing files
    val shifted = ev.withColumn("event_id", $"event_id" + 10000000L)
      .filter($"event_id" % 7 === 0)
    TableLog.commit(spark, src, TableLog.stage(spark, src, shifted, "data/v3"))
    Lakehouse.cdfApply(spark, src, dst, 3, "event_id", "spec", files = 2)
    val afterAppend = TableLog.liveFiles(spark, dst, 3).toSet
    assert(after.toSet.subsetOf(afterAppend),
      "a pure-insert delta rewrote existing destination files")
    assert(TableLog.readAsOf(spark, dst, 3).count()
      === bumped.count() + shifted.count())
    // an empty delta (a src compaction — identical rewrite) applies as a
    // marker-only commit: the version is recorded, no file moves
    Lakehouse.compactCommit(spark, src, targetFiles = 4)
    val dstBefore = TableLog.liveFiles(spark, dst,
      TableLog.currentVersion(spark, dst)).toSet
    val v4 = Lakehouse.cdfApply(spark, src, dst, 4, "event_id", "spec", 2)
    assert(v4 > 0, "an empty delta must still record its version")
    assert(TableLog.liveFiles(spark, dst,
      TableLog.currentVersion(spark, dst)).toSet === dstBefore,
      "an empty delta moved destination files")
    assert(Lakehouse.cdfApply(spark, src, dst, 4, "event_id", "spec", 2) === -1)
  }

  test("s15: the range read's file set is pruned from the manifest, and matches exactly the stats-overlapping files") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s15_spec_table"
    Lakehouse.s15Fixture(spark, sfDir, table)
    val (kept, total) = TableLog.prunedLiveFiles(spark, table, 2,
      "event_id", Lakehouse.S15_LO, Lakehouse.S15_HI)
    assert(total === Lakehouse.S15_V1_FILES + Lakehouse.S15_V2_FILES)
    assert(kept.size < total, s"nothing pruned: kept ${kept.size} of $total")
    // the kept set is exactly the manifest's overlap computation — and
    // the SCAN reads exactly those files, none of the pruned ones
    val overlap = TableLog.liveFilesWithStats(spark, table, 2).collect {
      case (p, Seq(s))
          if s.max >= Lakehouse.S15_LO && s.min <= Lakehouse.S15_HI => p
    }
    assert(kept.toSet === overlap.toSet)
    val scanned = TableLog.readAsOfRange(spark, table, 2, "event_id",
      Lakehouse.S15_LO, Lakehouse.S15_HI).inputFiles.toSeq
    assert(scanned.size === kept.size)
    assert(kept.forall(k => scanned.exists(_.endsWith(k))))
    // pruning is pure optimization: pruned read ≡ unpruned read + filter
    val pruned = TableLog.readAsOfRange(spark, table, 2, "event_id",
      Lakehouse.S15_LO, Lakehouse.S15_HI)
      .select($"event_id").as[Long].collect().sorted.toSeq
    val full = TableLog.readAsOf(spark, table, 2)
      .filter($"event_id".between(Lakehouse.S15_LO, Lakehouse.S15_HI))
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(pruned === full)
  }

  test("s15: the range predicate also reaches the parquet scan (PushedFilters) — manifest pruning stacks on row-group skipping") {
    val table = s"${Etl.scratch(spark)}/s15_push_table"
    Lakehouse.s15Fixture(spark, sfDir, table)
    val plan = TableLog.readAsOfRange(spark, table, 2, "event_id",
      Lakehouse.S15_LO, Lakehouse.S15_HI)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(event_id") &&
      plan.contains("LessThanOrEqual(event_id"),
      s"range predicate not pushed to the scan:\n$plan")
  }

  test("s15: an all-pruned range returns empty under the logged schema; stat-less files are never pruned") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s15_edge_table"
    Lakehouse.s15Fixture(spark, sfDir, table)
    // a range past every file's max prunes everything — empty result,
    // logged schema preserved
    val out = TableLog.readAsOfRange(spark, table, 2, "event_id",
      1000000000L, 2000000000L)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("event_id", "user_id", "event_type", "value"))
    // a stats-less add (plain stage) joins the table: it must survive
    // every pruning — stats can skip work, never rows
    val extra = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .filter($"event_id" < 10)
      .withColumn("event_id", $"event_id" + 5000000L)
    TableLog.commit(spark, table,
      TableLog.stage(spark, table, extra.repartition(1), "data/nostats"))
    val (kept, _) = TableLog.prunedLiveFiles(spark, table, 3,
      "event_id", Lakehouse.S15_LO, Lakehouse.S15_HI)
    assert(kept.exists(_.startsWith("data/nostats/")),
      "a file without logged stats must always be kept")
  }

  test("s15 x s13: compaction with a stats column preserves manifest skipping") {
    val table = s"${Etl.scratch(spark)}/s15_compact_table"
    Lakehouse.s15Fixture(spark, sfDir, table)
    val v = Lakehouse.compactCommit(spark, table, targetFiles = 6,
      statsCols = Seq("event_id"))
    val withStats = TableLog.liveFilesWithStats(spark, table, v)
    assert(withStats.forall(_._2.nonEmpty),
      "compacted files must carry manifest stats")
    val (kept, total) = TableLog.prunedLiveFiles(spark, table, v,
      "event_id", Lakehouse.S15_LO, Lakehouse.S15_HI)
    assert(total === 6)
    assert(kept.size < total,
      "the packed range layout must still prune under the range predicate")
    // and the pruned read over the packed table is still exact
    import spark.implicits._
    val got = TableLog.readAsOfRange(spark, table, v, "event_id",
      Lakehouse.S15_LO, Lakehouse.S15_HI).count()
    val want = Tables.events(spark, sfDir)
      .filter($"event_id".between(Lakehouse.S15_LO, Lakehouse.S15_HI)).count()
    assert(got === want)
  }

  test("stats under case-twin columns: each twin's range read keeps every row holding its values") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/stats_case_twin_table"
    fs(table).delete(new Path(table), true)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      // k and K hold disjoint ranges: logging one twin's footer range
      // under the other's name "proves" every file disjoint from a range
      // that matches all of its rows
      val df = (1L to 20L).map(i => (i, i + 1000L)).toDF("k", "K")
      TableLog.commit(spark, table, TableLog.Action("schema", df.schema.json) +:
        TableLog.stageWithStats(spark, table, df, "data/v1", Seq("k", "K"), 2))
      for ((c, lo, hi) <- Seq(("k", 1L, 20L), ("K", 1001L, 1020L))) {
        val got = TableLog.readAsOfRange(spark, table, 1, c, lo, hi)
          .select(col(c)).as[Long].collect().sorted.toSeq
        assert(got === (lo to hi), s"range read on $c dropped rows")
      }
    } finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("stats wire format: round-trips through the manifest; pre-stats 2-field lines replay unchanged") {
    val a = TableLog.Action("add", "data/x/part-0.parquet",
      Seq(TableLog.FileStats("event_id", -3L, 42L)))
    assert(TableLog.parseAction("add\tdata/x/part-0.parquet\tevent_id\t-3\t42")
      === Some(a))
    // multi-column stats (the S16 Z-order layout): one triple per column
    assert(TableLog.parseAction(
      "add\tdata/z/p.parquet\tevent_id\t0\t99\tuser_id\t3\t14")
      === Some(TableLog.Action("add", "data/z/p.parquet",
        Seq(TableLog.FileStats("event_id", 0L, 99L),
          TableLog.FileStats("user_id", 3L, 14L)))))
    assert(TableLog.parseAction("add\tdata/x/part-0.parquet")
      === Some(TableLog.Action("add", "data/x/part-0.parquet")))
    assert(TableLog.parseAction("remove\tdata/x/part-0.parquet")
      === Some(TableLog.Action("remove", "data/x/part-0.parquet")))
    assert(TableLog.parseAction("txn\tstream\t7") === None)
    assert(TableLog.parseAction("schema\t{\"type\":\"struct\"}") === None)
    // a corrupt add must fail LOUDLY: silently dropping it would lose a
    // LIVE file from every read with no error anywhere
    intercept[IllegalStateException] {
      TableLog.parseAction("add\tdata/x/p.parquet\tevent_id\t0")
    }
    intercept[IllegalStateException] {
      TableLog.parseAction("add\tdata/x/p.parquet\tevent_id\tzero\tten")
    }
    // a file action that lost its path, and a remove with trailing
    // garbage: both refuse loudly (a swallowed remove would RESURRECT
    // deleted rows in every later snapshot)
    intercept[IllegalStateException] { TableLog.parseAction("add") }
    intercept[IllegalStateException] {
      TableLog.parseAction("remove\tdata/x/p.parquet\tgarbage")
    }
  }

  test("s14: an empty commit window (the poller's steady state) yields an EMPTY feed, not an exception") {
    val table = s"${Etl.scratch(spark)}/s14_empty_table"
    Lakehouse.s14Fixture(spark, sfDir, table)
    val feed = Lakehouse.cdfRead(spark, table, 4, 4, "event_id")
    assert(feed.count() === 0L)
    assert(feed.columns.take(3).toSeq
      === Seq("_commit_version", "_change_type", "event_id"))
  }

  test("s16: one Z-order sort serves range predicates on BOTH dimensions — each prunes files, both reads exact") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s16_spec_table"
    Lakehouse.s16Fixture(spark, sfDir, table)
    val stats = TableLog.liveFilesWithStats(spark, table, 1)
    assert(stats.size === Lakehouse.S16_FILES)
    assert(stats.forall(_._2.map(_.col).toSet === Set("event_id", "user_id")))
    val ev = Tables.events(spark, sfDir)
    // data-derived quarter-domain windows (the fixture sf is tiny; the
    // declared query's literals target the graded sfs)
    val Seq(eHi, uHi) = Seq("event_id", "user_id")
      .map(c => ev.agg(max(col(c))).head().getLong(0))
    for ((c, hi) <- Seq(("event_id", eHi), ("user_id", uHi))) {
      val (lo, up) = (hi / 4, hi / 2)
      val (kept, total) = TableLog.prunedLiveFiles(spark, table, 1, c, lo, up)
      assert(kept.size < total,
        s"z-order failed to prune on $c: ${kept.size} of $total")
      val got = TableLog.readAsOfRange(spark, table, 1, c, lo, up)
        .select($"event_id").as[Long].collect().sorted.toSeq
      val want = ev.filter(col(c).between(lo, up))
        .select($"event_id").as[Long].collect().sorted.toSeq
      assert(got === want, s"range read on $c diverged")
    }
  }

  test("s17: a BIMODAL delta (two far-apart keys) rewrites only the two covering files — the middle survives byte-identical") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/s17_bimodal_src"
    val dst = s"${Etl.scratch(spark)}/s17_bimodal_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val (minId, maxId) = {
      val r = ev.agg(min($"event_id"), max($"event_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev, "data/v1"))
    Lakehouse.cdfApply(spark, src, dst, 1, "event_id", "bimodal", files = 8)
    val before = TableLog.liveFiles(spark, dst, 1)
    assert(before.size === 8)
    val sig = before.map { r =>
      val st = fs(dst).getFileStatus(new Path(s"$dst/$r"))
      r -> (st.getLen, st.getModificationTime)
    }.toMap
    // the delta changes ONLY the extreme keys: under envelope pruning the
    // gone range [minId, maxId] covers every file; per-file interval
    // overlap must keep the six middle files untouched on disk
    val bumped = ev.withColumn("value",
      when($"event_id" === minId || $"event_id" === maxId, $"value" + 1.0)
        .otherwise($"value"))
    TableLog.commit(spark, src,
      TableLog.liveFiles(spark, src, 1).map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, src, bumped, "data/v2"))
    Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "bimodal", files = 8)
    val after = TableLog.liveFiles(spark, dst, 2).toSet
    val rewritten = before.toSet -- after
    assert(rewritten.size <= 2,
      s"bimodal delta must rewrite at most the two covering files, got ${rewritten.size}")
    (before.toSet -- rewritten).foreach { r =>
      val st = fs(dst).getFileStatus(new Path(s"$dst/$r"))
      assert((st.getLen, st.getModificationTime) === sig(r),
        s"middle file $r was physically rewritten")
    }
    // and the destination still replays the source rules exactly
    val got = TableLog.readAsOf(spark, dst, 2)
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
    assert(got === bumped.select($"event_id", $"value")
      .as[(Long, Double)].collect().toSet)
  }

  test("s17: past applyProbeInlineMaxFiles the apply falls back to the broadcast probe — identical pruning, identical rows") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/probe_gate_src"
    val dst = s"${Etl.scratch(spark)}/probe_gate_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val rows = spark.range(0, 1000)
      .select($"id".as("event_id"), ($"id" % 7).cast("double").as("value"))
    TableLog.commit(spark, src, TableLog.Action("schema", rows.schema.json) +:
      TableLog.stage(spark, src, rows, "data/v1"))
    Lakehouse.cdfApply(spark, src, dst, 1, "event_id", "gate", files = 8)
    val before = TableLog.liveFiles(spark, dst, 1)
    assert(before.size === 8)
    val bumped = rows.withColumn("value",
      when($"event_id" === 0L || $"event_id" === 999L, $"value" + 100.0)
        .otherwise($"value"))
    TableLog.commit(spark, src,
      TableLog.liveFiles(spark, src, 1).map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, src, bumped, "data/v2"))
    // force the wide-destination path: every ranged file count exceeds the
    // gate, so the hit set must come from the broadcast-join probe job
    spark.conf.set("spark.graft.log.applyProbeInlineMaxFiles", "0")
    try Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "gate", files = 8)
    finally spark.conf.unset("spark.graft.log.applyProbeInlineMaxFiles")
    val after = TableLog.liveFiles(spark, dst, 2).toSet
    val rewritten = before.toSet -- after
    assert(rewritten.size <= 2,
      s"fallback probe must prune like the inline one, rewrote ${rewritten.size}")
    val got = TableLog.readAsOf(spark, dst, 2)
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
    assert(got === bumped.select($"event_id", $"value")
      .as[(Long, Double)].collect().toSet)
  }

  test("s17: an empty feed onto a warm NON-integral-key destination commits the marker instead of throwing (marker-only streams need no integral key)") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/marker_only_src"
    val dst = s"${Etl.scratch(spark)}/marker_only_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val shape = Seq(("a", 1.0)).toDF("k", "value").schema
    // v1: schema-only source commit — the cold start lands a marker-only
    // commit that adopts the (string-keyed) schema, making dst warm
    TableLog.commit(spark, src, Seq(TableLog.Action("schema", shape.json)))
    assert(Lakehouse.cdfApply(spark, src, dst, 1, "k", "mk", files = 2) > 0)
    assert(TableLog.schemaAsOf(spark, dst, 1).exists(_.fieldNames.contains("k")))
    // v2: another empty feed — the warm destination's key is non-integral,
    // and the marker path must run BEFORE the integral-key contract
    TableLog.commit(spark, src, Seq(TableLog.Action("schema", shape.json)))
    assert(Lakehouse.cdfApply(spark, src, dst, 2, "k", "mk", files = 2) > 0,
      "empty feed on a warm non-integral destination must commit its marker")
    assert(TableLog.lastCommitted(spark, dst, "cdf:mk") === Some(2L))
  }

  test("z-order scaling survives a 2^60-wide domain — monotone, non-negative, in [0, 2^bits)") {
    import spark.implicits._
    // the multiply-first form wraps past 2^47 at 16 bits; the shift form
    // must stay exact at any width
    val lo = -(1L << 59)
    val hi = (1L << 59)
    val probes = Seq(lo, lo + 1, -1L, 0L, 1L, hi / 2, hi - 1, hi)
    val df = probes.toDF("a").withColumn("z",
      Lakehouse.zOrderValue(col("a"), lo, hi, lit(0L), 0L, 0L))
    val zs = df.orderBy($"a").select($"z").as[Long].collect().toSeq
    assert(zs.forall(_ >= 0L), s"wrapped negative Morton key: $zs")
    assert(zs === zs.sorted, s"non-monotone scaling: $zs")
    // second dimension is constant 0, so z IS the interleave of norm(a)
    // alone — every bit lands at an even position, bounded by 2^(2*16)
    assert(zs.last < (1L << 32))
    // tiny domains still separate: distinct inputs map to distinct norms
    val small = (0L to 63L).toDF("a").withColumn("z",
      Lakehouse.zOrderValue(col("a"), 0L, 63L, lit(0L), 0L, 0L))
      .select($"z").distinct().count()
    assert(small === 64L)
  }

  test("stage-time stats contract: a fractional stats column is refused loudly (long bounds would truncate and lose rows)") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/stats_contract_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"value")
    val e = intercept[IllegalArgumentException] {
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("value"), 2)
    }
    assert(e.getMessage.contains("integral"))
    // and cdfApply refuses a non-integral key up front instead of
    // silently skipping the rewrite on a null-cast range
    val src = s"${Etl.scratch(spark)}/stats_contract_src"
    val dst = s"${Etl.scratch(spark)}/stats_contract_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val byType = ev.withColumn("k", $"event_id".cast("string"))
      .select($"k", $"event_id", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", byType.schema.json) +:
      TableLog.stage(spark, src, byType, "data/v1"))
    intercept[IllegalArgumentException] {
      Lakehouse.cdfApply(spark, src, dst, 1, "k", "contract", files = 2)
    }
  }

  test("s14 x s12: a CDF window crossing a schema-evolution commit unions with null-filled early slices, not an AnalysisException") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s14_evo_table"
    TableLog.buildFixture(spark, sfDir, table)
    TableLog.evolveFixture(spark, sfDir, table) // v4 adds source_tag
    // v5: a post-evolution rewrite whose pre AND post schemas both carry
    // source_tag — its slice has the evolved column, v1–v4's slices
    // (intersection of their own pre/post schemas) do not, so the window
    // union crosses the boundary the r16 advice flagged
    val v4files = TableLog.liveFiles(spark, table, 4).filter(_.contains("/v4/"))
    val rewritten = spark.read.schema(TableLog.schemaAsOf(spark, table, 4).get)
      .parquet(v4files.map(r => s"$table/$r"): _*)
      .withColumn("value", $"value" + 1.0)
    TableLog.commit(spark, table,
      v4files.map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, table, rewritten, "data/v5/error"))
    val feed = Lakehouse.cdfRead(spark, table, 0, 5, "event_id")
    assert(feed.columns.contains("source_tag"))
    // slices BEFORE the evolution commit null-fill the evolved column
    val pre = feed.filter($"_commit_version" < 4)
    assert(pre.count() > 0)
    assert(pre.filter($"source_tag".isNotNull).count() === 0L)
    // the evolution commit ITSELF (v4): identical on every common column,
    // but its rewrite writes non-null source_tag — each error row
    // genuinely gained data, so it must feed as an update CARRYING the
    // new column (the pre-r17 intersection semantics dropped these
    // values, silently diverging every downstream replica)
    val v4 = feed.filter($"_commit_version" === 4)
    assert(v4.count() === TableLog.readAsOf(spark, table, 4)
      .filter($"event_type" === "error").count())
    assert(v4.select($"_change_type").distinct().as[String].collect().toSeq
      === Seq("update"))
    assert(v4.filter($"source_tag".isNull).count() === 0L)
    // one commit later the column is in both schemas: the v5 rewrite
    // takes the ordinary compare path, post-images carry it
    val v5 = feed.filter($"_commit_version" === 5)
    assert(v5.count() > 0)
    assert(v5.select($"_change_type").distinct().as[String].collect().toSeq
      === Seq("update"))
    assert(v5.filter($"source_tag".isNull).count() === 0L)
  }

  test("s18: a MOR delete commits ONE key file and rewrites ZERO data files; time travel and range reads stay DV-aware") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_spec_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    val before = TableLog.liveState(spark, table, 1)
    val sig = before.files.map { f =>
      val st = fs(table).getFileStatus(new Path(s"$table/${f.path}"))
      f.path -> (st.getLen, st.getModificationTime)
    }.toMap
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    val v2 = Lakehouse.morDelete(spark, table, doomed.select($"event_id"))
    assert(v2 === 2)
    val after = TableLog.liveState(spark, table, 2)
    // zero data files touched: same live set, byte-identical on disk
    assert(after.files.map(_.path) === before.files.map(_.path))
    after.files.foreach { f =>
      val st = fs(table).getFileStatus(new Path(s"$table/${f.path}"))
      assert((st.getLen, st.getModificationTime) === sig(f.path),
        s"MOR delete physically rewrote ${f.path}")
    }
    assert(after.dvs.size === 1)
    // the snapshot hides exactly the deleted keys; v1 still sees them
    val goneIds = doomed.select($"event_id").as[Long].collect().toSet
    val v2Ids = TableLog.readAsOf(spark, table, 2)
      .select($"event_id").as[Long].collect().toSet
    assert(v2Ids.intersect(goneIds).isEmpty)
    assert(TableLog.readAsOf(spark, table, 1).count()
      === v2Ids.size + goneIds.size)
    // the manifest-pruned range read applies the DV too: a window inside
    // the deleted keys' range returns no deleted row
    val someGone = goneIds.min
    val ranged = TableLog.readAsOfRange(spark, table, 2, "event_id",
      someGone, someGone + 50).select($"event_id").as[Long].collect().toSet
    assert(ranged.intersect(goneIds).isEmpty)
    assert(ranged === v2Ids.filter(i => i >= someGone && i <= someGone + 50))
  }

  test("s18: a post-delete re-insert ESCAPES the earlier DV (sequence-number scoping)") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_reins_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    Lakehouse.morDelete(spark, table, doomed.select($"event_id"))
    // ids pinned BEFORE building the frame: LIMIT without ORDER BY is
    // non-deterministic across re-evaluations (stage writes one plan run,
    // the assertion collect would run another)
    val reinsIds = doomed.orderBy($"event_id").limit(10)
      .select($"event_id").as[Long].collect().toSeq
    val reins = doomed.filter($"event_id".isin(reinsIds: _*))
      .withColumn("value", $"value" + 100000.0)
    TableLog.commit(spark, table, TableLog.stage(spark, table, reins, "data/v3"))
    val got = TableLog.readAsOf(spark, table, 3)
      .filter($"value" >= 100000.0).count()
    assert(got === 10L, "re-inserted rows must escape the older DV")
    // and the DV still applies to the ORIGINAL copies of those keys: each
    // re-inserted key appears exactly once
    val counts = TableLog.readAsOf(spark, table, 3)
      .filter($"event_id".isin(reinsIds: _*))
      .groupBy($"event_id").count()
      .select($"count").as[Long].collect().toSeq
    assert(counts.nonEmpty && counts.forall(_ === 1L))
  }

  test("s18 x s13: compaction ABSORBS deletion vectors — rows physically purged, DVs retired, pinned readers unaffected") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_compact_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    Lakehouse.morDelete(spark, table, doomed.select($"event_id"))
    val v2Rows = TableLog.readAsOf(spark, table, 2)
      .select($"event_id").as[Long].collect().toSet
    val dvPath = TableLog.liveState(spark, table, 2).dvs.head._1
    val v3 = Lakehouse.compactCommit(spark, table, targetFiles = 2,
      statsCols = Seq("event_id"))
    val st3 = TableLog.liveState(spark, table, v3)
    assert(st3.dvs.isEmpty, "compaction must retire the absorbed DV")
    assert(st3.files.size === 2)
    assert(TableLog.readAsOf(spark, table, v3)
      .select($"event_id").as[Long].collect().toSet === v2Rows)
    // the pinned v2 read still anti-joins the (still on disk) DV
    assert(TableLog.readAsOf(spark, table, 2)
      .select($"event_id").as[Long].collect().toSet === v2Rows)
    // the absorbing rewrite feeds NOTHING: physical purge of rows a
    // consumer already saw deleted must not look like a second delete
    assert(Lakehouse.cdfRead(spark, table, 2, v3, "event_id").count() === 0L)
    // after retention passes v2, the retired DV is vacuumable (and reads
    // before v3 stop working, by the vacuum contract)
    TableLog.vacuum(spark, table, retainFrom = v3)
    assert(!fs(table).exists(new Path(s"$table/$dvPath")),
      "a DV unreferenced by every retained version must be reclaimed")
  }

  test("s18 x s13: a DV landing inside the compaction's window is a REAL conflict — the packed rewrite would escape it") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_conflict_table"
    Lakehouse.s13Fixture(spark, sfDir, table)
    val ev = Tables.events(spark, sfDir)
    var raced = false
    val e = intercept[java.util.ConcurrentModificationException] {
      Lakehouse.compactCommit(spark, table, Lakehouse.S13_TARGET_FILES,
        beforePublish = { _ =>
          if (!raced) {
            raced = true
            Lakehouse.morDelete(spark, table,
              ev.filter($"event_id" % 100 === 0).select($"event_id"))
          }
        })
    }
    assert(e.getMessage.contains("deletion vector"))
    // the delete is NOT lost: the winning DV still applies to the table
    val head = TableLog.currentVersion(spark, table)
    assert(TableLog.readAsOf(spark, table, head)
      .filter($"event_id" % 100 === 0).count() === 0L)
  }

  test("s18 x s14: a DV commit feeds its deletes with pre-images; a twice-deleted key feeds once; the delta replicates downstream") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/s18_cdf_src"
    val dst = s"${Etl.scratch(spark)}/s18_cdf_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev, "data/v1"))
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    Lakehouse.morDelete(spark, src, doomed.select($"event_id"))
    val feed = Lakehouse.cdfRead(spark, src, 1, 2, "event_id")
    assert(feed.select($"_change_type").distinct().as[String].collect().toSeq
      === Seq("delete"))
    // pre-images ride the delete rows (the value column is the v1 value)
    val want = doomed.select($"event_id", $"value").as[(Long, Double)]
      .collect().toSet
    assert(feed.select($"event_id", $"value").as[(Long, Double)]
      .collect().toSet === want)
    // a second DV naming already-deleted keys (plus one live key) feeds
    // ONLY the live key — no pre-image, no delta
    val oneLive = ev.filter($"event_type" === "view").limit(1)
      .select($"event_id").as[Long].head()
    Lakehouse.morDelete(spark, src,
      doomed.limit(5).select($"event_id")
        .unionAll(Seq(oneLive).toDF("event_id")))
    val feed2 = Lakehouse.cdfRead(spark, src, 2, 3, "event_id")
    assert(feed2.select($"event_id").as[Long].collect().toSeq === Seq(oneLive))
    // and the S17 apply replicates the MOR deletes into a downstream
    // copy-on-write table exactly
    (1 to 3).foreach(v =>
      Lakehouse.cdfApply(spark, src, dst, v, "event_id", "s18cdf", files = 4))
    val gotDst = TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
      .select($"event_id").as[Long].collect().toSet
    val wantSrc = TableLog.readAsOf(spark, src, 3)
      .select($"event_id").as[Long].collect().toSet
    assert(gotDst === wantSrc)
  }

  test("s18 x mv1: a DV commit inside an abelian-refresh window refuses LOUDLY — the file-level delta cannot see its deletes") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_mv1_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    Lakehouse.morDelete(spark, table,
      ev.filter($"event_type" === "click").select($"event_id"))
    // folding (1, 2] would silently keep the deleted clicks in the view
    val e = intercept[IllegalArgumentException] {
      TableLog.mvDelta(spark, table, 1, 2).collect()
    }
    assert(e.getMessage.contains("deletion-vector") &&
      e.getMessage.contains("mv2Refresh"))
    // windows before the DV still fold fine
    assert(TableLog.mvDelta(spark, table, 0, 1).count() > 0)
    // and the CDF-driven refresh it points at handles the same window
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type").agg(count(lit(1)).as("n_rows"))
    val state = view(TableLog.readAsOf(spark, table, 1))
    val out = Lakehouse.mv2Refresh(spark, table, state, 1, 2, "event_type")(view)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!out.contains("click"), "the DV delete must reach the refreshed view")
    assert(out === view(TableLog.readAsOf(spark, table, 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("s18 wire format: dv round-trips; corrupt dv lines refuse loudly; a stray dv never reaches pre-S18 replay paths") {
    assert(TableLog.parseAction("dv\tdata/dv/k.parquet")
      === Some(TableLog.Action("dv", "data/dv/k.parquet")))
    intercept[IllegalStateException] { TableLog.parseAction("dv") }
    intercept[IllegalStateException] {
      TableLog.parseAction("dv\tdata/dv/k.parquet\tgarbage")
    }
  }

  test("s18: morDelete refuses a key column the table schema lacks — a committed DV under it would fail every read") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_badcol_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    val e = intercept[IllegalArgumentException] {
      Lakehouse.morDelete(spark, table,
        ev.select($"event_id".as("id")))
    }
    assert(e.getMessage.contains("'id'"))
    // reads stay healthy — nothing was committed
    assert(TableLog.liveState(spark, table, 1).dvs.isEmpty)
    assert(TableLog.readAsOf(spark, table, 1).count() > 0)
  }

  test("s17 x s18: the CoW apply reads touched destination files DV-AWARE — a dst morDelete survives a later src update") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/s18_resurrect_src"
    val dst = s"${Etl.scratch(spark)}/s18_resurrect_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev, "data/v1"))
    Lakehouse.cdfApply(spark, src, dst, 1, "event_id", "resur", files = 4)
    // a LOCAL dst policy delete (e.g. GDPR erasure on the replica): hide
    // key k1 via a deletion vector, no data file rewritten
    val Seq(k1, k2) = ev.orderBy($"event_id").limit(2)
      .select($"event_id").as[Long].collect().toSeq
    Lakehouse.morDelete(spark, dst, Seq(k1).toDF("event_id"))
    assert(TableLog.readAsOf(spark, dst, 2)
      .filter($"event_id" === k1).count() === 0L)
    // a src update of NEIGHBOR key k2 touches the dst file that also
    // holds k1's (DV-hidden) original row — the rewrite must not carry
    // it into a post-DV file, where the DV would no longer scope over it
    val bumped = ev.withColumn("value",
      when($"event_id" === k2, $"value" + 1.0).otherwise($"value"))
    TableLog.commit(spark, src,
      TableLog.liveFiles(spark, src, 1).map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, src, bumped, "data/v2"))
    Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "resur", files = 4)
    val head = TableLog.currentVersion(spark, dst)
    assert(TableLog.readAsOf(spark, dst, head)
      .filter($"event_id" === k1).count() === 0L,
      "a DV-deleted row resurrected through the CoW rewrite")
    assert(TableLog.readAsOf(spark, dst, head)
      .filter($"event_id" === k2).select($"value").as[Double].head()
      === ev.filter($"event_id" === k2).select($"value").as[Double].head() + 1.0)
  }

  test("s18 x mv1: DVs LIVE at the window start refuse too — an absorbing compaction's removes would double-subtract") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_mv1_absorb_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    Lakehouse.morDelete(spark, table,
      ev.filter($"event_type" === "click").select($"event_id"))
    // the state was computed DV-aware at v2; v3 absorbs the DV — no dv
    // ACTION inside (2, 3], but the removes carry DV-hidden rows the
    // state never contained
    Lakehouse.compactCommit(spark, table, targetFiles = 2)
    val e = intercept[IllegalArgumentException] {
      TableLog.mvDelta(spark, table, 2, 3).collect()
    }
    assert(e.getMessage.contains("live at v2"))
  }

  test("s19: reads at or past the checkpoint never open older manifests — head reads survive pre-checkpoint manifest loss, older reads replay from v1") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s19_spec_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    (0 until 6).foreach { b =>
      val adds = TableLog.stage(spark, table,
        ev.filter($"event_id" % 6 === b), s"data/b$b")
      TableLog.commit(spark, table,
        if (b == 0) TableLog.Action("schema", ev.schema.json) +: adds else adds)
    }
    assert(TableLog.checkpointLog(spark, table) === 6)
    // one more commit past the checkpoint
    val extra = ev.filter($"event_id" % 6 === 0)
      .withColumn("event_id", $"event_id" + 10000000L)
    TableLog.commit(spark, table, TableLog.stage(spark, table, extra, "data/x"))
    val head = TableLog.currentVersion(spark, table)
    val want = ev.count() + extra.count()
    assert(TableLog.readAsOf(spark, table, head).count() === want)
    // yank a pre-checkpoint manifest: head reads (and the pruned path,
    // and schemaAsOf) must not notice — they start from the checkpoint
    val v1 = new Path(s"$table/_log/v1.log")
    val hidden = new Path(s"$table/_log/hidden-v1")
    assert(fs(table).rename(v1, hidden))
    try {
      assert(TableLog.readAsOf(spark, table, head).count() === want)
      assert(TableLog.schemaAsOf(spark, table, head).get.fieldNames.toSeq
        === Seq("event_id", "user_id", "event_type", "value"))
      assert(TableLog.readAsOfRange(spark, table, head, "event_id",
        0L, 10L).count() === ev.filter($"event_id".between(0, 10)).count())
      // time travel BELOW the checkpoint needs the full chain — loud
      intercept[java.io.FileNotFoundException] {
        TableLog.readAsOf(spark, table, 3).count()
      }
    } finally assert(fs(table).rename(hidden, v1))
    // with the chain restored, pre-checkpoint time travel works again
    assert(TableLog.readAsOf(spark, table, 3).count()
      === ev.filter($"event_id" % 6 < 3).count())
  }

  test("s19: DV sequence-number scoping and the txn gate survive the checkpoint") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s19_dv_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    Lakehouse.morDelete(spark, table, doomed.select($"event_id"))
    // a txn-marked batch BEFORE the checkpoint
    TableLog.commitIfAbsent(spark, table, "s19stream", 7L,
      TableLog.stage(spark, table,
        ev.filter($"event_id" % 97 === 0)
          .withColumn("event_id", $"event_id" + 20000000L), "data/b7"))
    assert(TableLog.checkpointLog(spark, table) === 3)
    // the checkpoint preserves ORIGINAL add versions: a post-checkpoint
    // re-insert of deleted keys must escape the v2 DV, while the v1
    // copies stay hidden (ids pinned first — LIMIT re-evaluation is
    // non-deterministic)
    val reinsIds = doomed.orderBy($"event_id").limit(10)
      .select($"event_id").as[Long].collect().toSeq
    val reins = doomed.filter($"event_id".isin(reinsIds: _*))
      .withColumn("value", $"value" + 100000.0)
    TableLog.commit(spark, table, TableLog.stage(spark, table, reins, "data/v4"))
    val got = TableLog.readAsOf(spark, table, 4)
    assert(got.filter($"value" >= 100000.0).count() === 10L)
    assert(got.filter($"event_id".isin(reinsIds: _*)).count() === 10L,
      "checkpointed DV scope must not widen over the re-insert")
    assert(got.filter($"event_id".isin(
      doomed.select($"event_id").as[Long].collect().toSeq.diff(reinsIds): _*))
      .count() === 0L, "checkpoint lost the DV")
    // the pre-checkpoint txn marker still gates a re-delivery — from the
    // CHECKPOINT's txn set, even with the early manifests yanked
    val v1 = new Path(s"$table/_log/v1.log")
    val v2 = new Path(s"$table/_log/v2.log")
    val h1 = new Path(s"$table/_log/h1"); val h2 = new Path(s"$table/_log/h2")
    assert(fs(table).rename(v1, h1) && fs(table).rename(v2, h2))
    try {
      val again = TableLog.stage(spark, table,
        ev.filter($"event_id" % 97 === 0), "data/b7-redelivery")
      assert(TableLog.commitIfAbsent(spark, table, "s19stream", 7L, again) === -1,
        "the checkpointed txn set must stop the re-delivered batch")
    } finally {
      assert(fs(table).rename(h1, v1) && fs(table).rename(h2, v2))
    }
    // idempotent: a second checkpoint at the same version is a quiet no-op
    val head = TableLog.currentVersion(spark, table)
    assert(TableLog.checkpointLog(spark, table) === head)
    assert(TableLog.checkpointLog(spark, table) === head)
  }

  test("s19: manifest GC retires fully-checkpointed chains — nothing without a covering checkpoint, head intact even when the checkpoint IS the head") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s19_gc_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    (0 until 6).foreach { b =>
      val adds = TableLog.stage(spark, table,
        ev.filter($"event_id" % 6 === b), s"data/b$b")
      TableLog.commit(spark, table,
        if (b == 0) TableLog.Action("schema", ev.schema.json) +: adds else adds)
    }
    // no checkpoint yet: manifest GC must refuse to outrun checkpointing
    assert(TableLog.vacuumLog(spark, table, retainFrom = 6).isEmpty)
    assert(TableLog.checkpointLog(spark, table) === 6)
    TableLog.commit(spark, table, TableLog.stage(spark, table,
      ev.filter($"event_id" % 6 === 0)
        .withColumn("event_id", $"event_id" + 10000000L), "data/x"))
    val deleted = TableLog.vacuumLog(spark, table, retainFrom = 6)
    assert(deleted === (1 to 6).map(v => s"v$v.log"))
    // the retained surface is untouched: head version, snapshot reads,
    // schema, new commits
    assert(TableLog.currentVersion(spark, table) === 7)
    val want = ev.count() + ev.filter($"event_id" % 6 === 0).count()
    assert(TableLog.readAsOf(spark, table, 7).count() === want)
    assert(TableLog.schemaAsOf(spark, table, 7).isDefined)
    // reads below retention are gone, loudly — the vacuum contract
    intercept[java.io.FileNotFoundException] {
      TableLog.readAsOf(spark, table, 3).count()
    }
    // checkpoint AT the head: the whole chain retires, the head is then
    // represented by the checkpoint alone — still readable, writable
    TableLog.commit(spark, table, TableLog.stage(spark, table,
      ev.filter($"event_id" % 6 === 1)
        .withColumn("event_id", $"event_id" + 20000000L), "data/y"))
    assert(TableLog.checkpointLog(spark, table) === 8)
    val deleted2 = TableLog.vacuumLog(spark, table, retainFrom = 8)
    assert(deleted2 === Seq("v6.ckpt", "v7.log", "v8.log"))
    assert(TableLog.currentVersion(spark, table) === 8)
    assert(TableLog.readAsOf(spark, table, 8).count()
      === want + ev.filter($"event_id" % 6 === 1).count())
    assert(TableLog.commit(spark, table, TableLog.stage(spark, table,
      ev.limit(5), "data/z")) === 9)
    assert(TableLog.readAsOf(spark, table, 9).count()
      === TableLog.readAsOf(spark, table, 8).count() + 5)
  }

  test("s19 x r15: the conf-gated auto-checkpoint rides the micro-batch sink — every Nth commit, replay stays bounded") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s19_auto_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table,
      Seq(TableLog.Action("schema", ev.schema.json)))
    spark.conf.set("spark.graft.log.checkpointInterval", "2")
    try {
      (0 until 4).foreach(b =>
        TableLog.commitBatch(table, "auto")(
          ev.filter($"event_id" % 4 === b), b.toLong))
      // commits landed at v2..v5; checkpoints at the even versions
      assert(TableLog.newestCheckpoint(spark, table, 5) === Some(4))
      assert(TableLog.newestCheckpoint(spark, table, 3) === Some(2))
      // a re-delivered batch still no-ops (its probe now starts from the
      // checkpoint's txn set)
      val again = TableLog.stage(spark, table,
        ev.filter($"event_id" % 4 === 1), "data/auto/b1-redelivery")
      assert(TableLog.commitIfAbsent(spark, table, "auto", 1L, again) === -1)
      // and the checkpointed replay serves the head without v1/v2
      Seq("v1.log", "v2.log").foreach { m =>
        assert(fs(table).rename(new Path(s"$table/_log/$m"),
          new Path(s"$table/_log/hidden-$m")))
      }
      try assert(TableLog.readAsOf(spark, table, 5).count() === ev.count())
      finally Seq("v1.log", "v2.log").foreach { m =>
        fs(table).rename(new Path(s"$table/_log/hidden-$m"),
          new Path(s"$table/_log/$m"))
      }
    } finally spark.conf.unset("spark.graft.log.checkpointInterval")
  }

  test("s18 plan: the DV anti-join BROADCASTS the key side — the data side never shuffles for a delete") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_plan_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    Lakehouse.morDelete(spark, table,
      ev.filter($"event_type" === "click").select($"event_id"))
    val plan = TableLog.readAsOf(spark, table, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV read must be a broadcast anti-join:\n$plan")
    // no exchange on the scan side: a snapshot read under a DV costs a
    // broadcast probe, never a shuffle of the table
    assert(!plan.contains("Exchange hashpartitioning"),
      s"DV read shuffled the data side:\n$plan")
  }

  test("s19: checkpoint wire format refuses corruption loudly") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s19_wire_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    TableLog.checkpointLog(spark, table)
    val ck = TableLog.loadCheckpoint(spark, table, 1)
    assert(ck.files.nonEmpty && ck.files.forall(_.version === 1))
    assert(ck.schema.isDefined)
    // corrupt one file line: the loader must refuse, never silently drop
    val p = new Path(s"$table/_log/v1.ckpt")
    val lines = {
      val in = fs(table).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val out = fs(table).create(p, true)
    try out.write((lines.head.split("\t").take(2).mkString("\t") + "\n" +
      lines.tail.mkString("\n")).getBytes("UTF-8"))
    finally out.close()
    intercept[IllegalStateException] {
      TableLog.loadCheckpoint(spark, table, 1)
    }
  }

  test("mv2: a NULL group key recomputes and retires like any other (null-safe joins)") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/mv2_null_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id",
        when($"event_id" % 5 === 0, lit(null).cast("string"))
          .otherwise($"event_type").as("event_type"),
        $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    // v2 deletes half the NULL group's rows (a file-level rewrite)
    val keep = ev.filter($"event_type".isNotNull || $"event_id" % 10 =!= 0)
    TableLog.commit(spark, table,
      TableLog.liveFiles(spark, table, 1).map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, table, keep, "data/v2"))
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type").agg(count(lit(1)).as("n_rows"))
    val state = view(TableLog.readAsOf(spark, table, 1))
    val out = Lakehouse.mv2Refresh(spark, table, state, 1, 2, "event_type")(view)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = view(TableLog.readAsOf(spark, table, 2))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out === want,
      "the NULL group must recompute (stale-state carry is the === bug)")
    assert(out.contains(None) && out(None) < ev.filter($"event_type".isNull).count())
  }

  test("warm lake fixture: the ensure is stamped — a second call rebuilds nothing, and the shared src stays at v4") {
    val root = Lakehouse.ensureLakeFixture(spark, sfDir)
    assert(TableLog.currentVersion(spark, s"$root/src") === 4)
    assert(TableLog.currentVersion(spark, s"$root/packed")
      === Lakehouse.S13_BATCHES + 1)
    val probe = new Path(s"$root/src/_log/v4.log")
    val m1 = fs(root).getFileStatus(probe).getModificationTime
    val root2 = Lakehouse.ensureLakeFixture(spark, sfDir)
    assert(root2 === root)
    assert(fs(root).getFileStatus(probe).getModificationTime === m1,
      "a fresh stamped fixture was rebuilt")
  }

  test("mv2: the refresh plan keeps touched-group keys DISTRIBUTED — semi/anti joins, never collected isin literals") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/mv2_plan_table"
    Lakehouse.s14Fixture(spark, sfDir, table)
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"), min($"value").as("min_value"))
    val state = view(TableLog.readAsOf(spark, table, 2))
    val out = Lakehouse.mv2Refresh(spark, table, state, 2, 4, "event_type")(view)
    val plan = out.queryExecution.optimizedPlan.toString
    // the join shapes: semi on the recompute side, anti on the state carry
    assert(plan.contains("LeftSemi"),
      s"recompute side must SEMI-join the touched keys:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"state carry must ANTI-join the touched keys:\n$plan")
    // and no group key rides the plan as a literal (the isin blowup the
    // r16 review flagged: 10^4-10^6 keys embedded per plan at a wide
    // window — analyzer/codegen cost and a driver OOM vector)
    assert(!plan.contains(" IN (") && !plan.contains("click,error") &&
      !plan.contains("click, error"),
      s"touched group keys leaked into the plan as literals:\n$plan")
    // the re-planned refresh still lands on the direct v4 aggregate
    val got = out.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = view(TableLog.readAsOf(spark, table, 4)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === want)
  }

  test("mv2: untouched groups ride from the stored state — a planted sentinel survives the CDF-targeted refresh") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/mv2_spec_table"
    Lakehouse.s14Fixture(spark, sfDir, table)
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"), min($"value").as("min_value"))
    // the (2,4] window touches ONLY click (v3 deletes) and error (v4
    // updates): plant a sentinel in an untouched group's state row — a
    // refresh that recomputes it would repair the sentinel and FAIL here
    val state = view(TableLog.readAsOf(spark, table, 2))
      .withColumn("min_value",
        when($"event_type" === "view", lit(-777.0)).otherwise($"min_value"))
    val out = Lakehouse.mv2Refresh(spark, table, state, 2, 4, "event_type")(view)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("view")._2 === -777.0,
      "an untouched group was recomputed instead of riding from state")
    // the touched groups ARE recomputed: min(click) jumps to the >=100
    // floor, min(error) moves by the +1 backfill
    val v4 = view(TableLog.readAsOf(spark, table, 4))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("click") === v4("click"))
    assert(out("error") === v4("error"))
    assert(out("click")._2 >= 100.0)
  }

  // ------------------------------------------ S20: merge-on-read UPSERT

  test("s20: a MOR merge commits ONE DV + post-images and rewrites ZERO data files; updates replace, inserts land, stacked merges scope correctly") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s20_spec_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    val before = TableLog.liveState(spark, table, 1)
    val sig = before.files.map { f =>
      val st = fs(table).getFileStatus(new Path(s"$table/${f.path}"))
      f.path -> (st.getLen, st.getModificationTime)
    }.toMap
    val upd = ev.filter($"event_type" === "view" && $"value" < 100.0)
      .withColumn("value", $"value" + 500000.0)
    val ins = ev.filter($"event_type" === "signup" && $"value" < 50.0)
      .withColumn("event_id", $"event_id" + 10000000L)
    val v2 = Lakehouse.morMerge(spark, table, upd.unionByName(ins), "event_id", 2)
    assert(v2 === 2)
    // zero data-file rewrites: every v1 file still live and byte-identical
    val after = TableLog.liveState(spark, table, 2)
    before.files.foreach { f =>
      assert(after.files.map(_.path).contains(f.path))
      val st = fs(table).getFileStatus(new Path(s"$table/${f.path}"))
      assert((st.getLen, st.getModificationTime) === sig(f.path),
        s"MOR merge physically rewrote ${f.path}")
    }
    assert(after.dvs.size === 1)
    // the snapshot replaced every updated key exactly once (the DV hides
    // the v1 copy; the post-image escapes its own commit's DV) and the
    // inserts landed
    val updIds = upd.select($"event_id").as[Long].collect().toSet
    val snap2 = TableLog.readAsOf(spark, table, 2)
    assert(snap2.filter($"event_id".isInCollection(updIds))
      .groupBy($"event_id").count().filter($"count" =!= 1L).count() === 0L)
    assert(snap2.filter($"event_id".isInCollection(updIds) &&
      $"value" < 500000.0).count() === 0L, "a pre-image survived the merge")
    assert(snap2.filter($"event_id" >= 10000000L).count() === ins.count())
    assert(snap2.count() === ev.count() + ins.count())
    // v1 time travel is unaffected
    assert(TableLog.readAsOf(spark, table, 1).filter($"value" >= 500000.0)
      .count() === 0L)
    // a stacked re-merge: v3's DV must hide v2's post-image FILE for the
    // re-merged keys (file version 2 < dv version 3) while v3's own
    // post-images escape
    val upd2 = upd.filter($"event_id" % 3 === 0)
      .withColumn("value", $"value" + 500000.0)
    val v3 = Lakehouse.morMerge(spark, table, upd2, "event_id", 1)
    assert(v3 === 3)
    val upd2Ids = upd2.select($"event_id").as[Long].collect().toSet
    val snap3 = TableLog.readAsOf(spark, table, 3)
    assert(snap3.filter($"event_id".isInCollection(upd2Ids))
      .groupBy($"event_id").count().filter($"count" =!= 1L).count() === 0L)
    assert(snap3.filter($"event_id".isInCollection(upd2Ids) &&
      $"value" < 1000000.0).count() === 0L,
      "a once-merged post-image survived the stacked re-merge")
    assert(snap3.count() === snap2.count())
  }

  test("s20 x s14: a MOR merge feeds UPDATE rows with post-images and INSERT rows — never an insert/delete pair") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s20_cdf_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    val upd = ev.filter($"event_type" === "view" && $"value" < 100.0)
      .withColumn("value", $"value" + 500000.0)
    val ins = ev.filter($"event_type" === "signup" && $"value" < 50.0)
      .withColumn("event_id", $"event_id" + 10000000L)
    Lakehouse.morMerge(spark, table, upd.unionByName(ins), "event_id", 2)
    val feed = Lakehouse.cdfRead(spark, table, 1, 2, "event_id")
    val byType = feed.groupBy($"_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType.keySet === Set("update", "insert"),
      s"a MOR merge must net to updates+inserts; got $byType")
    assert(byType("update") === upd.count())
    assert(byType("insert") === ins.count())
    // update rows carry the POST-image
    assert(feed.filter($"_change_type" === "update" && $"value" < 500000.0)
      .count() === 0L)
    val wantUpd = upd.select($"event_id", $"value").as[(Long, Double)]
      .collect().toSet
    assert(feed.filter($"_change_type" === "update")
      .select($"event_id", $"value").as[(Long, Double)].collect().toSet
      === wantUpd)
    // an upsert whose post-image EQUALS the pre-image feeds NOTHING (the
    // pure-rewrite discipline): merge the same rows again unchanged
    Lakehouse.morMerge(spark, table,
      ev.filter($"event_type" === "error").limit(20), "event_id", 1)
    assert(Lakehouse.cdfRead(spark, table, 2, 3, "event_id").count() === 0L,
      "an identical-value upsert leaked into the change feed")
  }

  test("s20 x s13: compaction ABSORBS merge DVs — rows physically purged, snapshot identical, post-images kept") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s20_compact_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    val upd = ev.filter($"event_type" === "view" && $"value" < 100.0)
      .withColumn("value", $"value" + 500000.0)
    Lakehouse.morMerge(spark, table, upd, "event_id", 2)
    val pre = TableLog.readAsOf(spark, table, 2)
      .agg(count(lit(1)), sum($"event_id"),
        count(when($"value" >= 500000.0, 1))).collect().head
    val vOpt = Lakehouse.compactCommit(spark, table, 2)
    val st = TableLog.liveState(spark, table, vOpt)
    assert(st.dvs.isEmpty, "compaction must retire the merge DV")
    assert(st.files.size === 2)
    assert(TableLog.readAsOf(spark, table, vOpt)
      .agg(count(lit(1)), sum($"event_id"),
        count(when($"value" >= 500000.0, 1))).collect().head === pre,
      "the absorbing OPTIMIZE changed the merged snapshot")
    // the packed files physically exclude the replaced pre-images: a raw
    // un-DV'd read of the live files equals the snapshot
    val raw = spark.read.parquet(
      st.files.map(f => s"$table/${f.path}"): _*)
    assert(raw.count() === pre.getLong(0))
  }

  test("s20 x s17: the CoW apply replicates a MOR merge downstream — update keys rewrite their covering files, inserts append") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/s20_apply_src"
    val dst = s"${Etl.scratch(spark)}/s20_apply_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev, "data/v1"))
    val upd = ev.filter($"event_type" === "view" && $"value" < 100.0)
      .withColumn("value", $"value" + 500000.0)
    val ins = ev.filter($"event_type" === "signup" && $"value" < 50.0)
      .withColumn("event_id", $"event_id" + 10000000L)
    Lakehouse.morMerge(spark, src, upd.unionByName(ins), "event_id", 2)
    (1 to 2).foreach(v =>
      Lakehouse.cdfApply(spark, src, dst, v, "event_id", "s20cdf", files = 4))
    val gotDst = TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
    val wantSrc = TableLog.readAsOf(spark, src, 2)
    assert(gotDst.agg(count(lit(1)), sum($"event_id"),
        count(when($"value" >= 500000.0, 1))).collect().head
      === wantSrc.agg(count(lit(1)), sum($"event_id"),
        count(when($"value" >= 500000.0, 1))).collect().head)
  }

  test("s20: loud contracts — partial post-images refuse, unknown key refuses, empty source is a no-op") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s20_contract_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    intercept[IllegalArgumentException] {
      Lakehouse.morMerge(spark, table, ev, "event_id") // no v1 yet
    }
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    intercept[IllegalArgumentException] {
      Lakehouse.morMerge(spark, table, ev.drop("value"), "event_id")
    }
    intercept[IllegalArgumentException] {
      Lakehouse.morMerge(spark, table, ev, "no_such_col")
    }
    // right names, wrong TYPE: a mismatched post-image file would commit
    // fine and then fail every later read — refused at merge time
    val e = intercept[IllegalArgumentException] {
      Lakehouse.morMerge(spark, table,
        ev.withColumn("value", $"value".cast("string")), "event_id")
    }
    assert(e.getMessage.contains("'value'"))
    val v = Lakehouse.morMerge(spark, table, ev.limit(0), "event_id")
    assert(v === 1, "an empty MERGE must not commit")
    assert(TableLog.currentVersion(spark, table) === 1)
  }

  // -------------------------------------- R17: exactly-once log-tail relay

  test("r17: the relay resumes from the destination's own txn markers — a restarted/re-run tick applies only the gap") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/r17_spec_src"
    val dst = s"${Etl.scratch(spark)}/r17_spec_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // a never-written destination has no offset
    assert(TableLog.lastCommitted(spark, dst, "cdf:r17spec").isEmpty)
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev.filter($"event_id" % 4 =!= 3), "data/v1"))
    TableLog.commit(spark, src,
      TableLog.stage(spark, src, ev.filter($"event_id" % 4 === 3), "data/v2"))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17spec") === Seq(1, 2))
    assert(TableLog.lastCommitted(spark, dst, "cdf:r17spec") === Some(2L))
    // the offset probe is tab-delimited: a consumer whose id PREFIXES
    // another's must not claim its offsets
    assert(TableLog.lastCommitted(spark, dst, "cdf:r17").isEmpty)
    // caught up: the next tick (a restart — nothing is held in memory)
    // applies NOTHING and commits NOTHING
    val vBefore = TableLog.currentVersion(spark, dst)
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17spec").isEmpty)
    assert(TableLog.currentVersion(spark, dst) === vBefore)
    // the source grows; the relay applies only the gap
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    Lakehouse.morDelete(spark, src, doomed.select($"event_id"))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17spec") === Seq(3))
    val got = TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
      .agg(count(lit(1)), sum($"event_id")).collect().head
    val want = TableLog.readAsOf(spark, src, 3)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    assert(got === want, "the relayed destination diverged from the source head")
  }

  test("r17 x r15 x s19: a Structured Streaming tick drives the relay; the destination auto-checkpoints under the sink conf") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = s"${Etl.scratch(spark)}/r17_stream_src"
    val dst = s"${Etl.scratch(spark)}/r17_stream_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev.filter($"event_id" % 2 === 0), "data/v1"))
    spark.conf.set("spark.graft.log.checkpointInterval", "2")
    try {
      val ticks = MemoryStream[Int]
      val q = ticks.toDS().toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          Lakehouse.relay(spark, src, dst, "event_id", "r17stream"); ()
        }
        .outputMode("append").start()
      try {
        ticks.addData(1); q.processAllAvailable()
        // tick 2 lands two more source commits; the relay applies both
        TableLog.commit(spark, src,
          TableLog.stage(spark, src, ev.filter($"event_id" % 2 =!= 0), "data/v2"))
        Lakehouse.morDelete(spark, src,
          ev.filter($"event_type" === "click" && $"value" < 100.0)
            .select($"event_id"))
        ticks.addData(2); q.processAllAvailable()
        // an idle tick applies nothing
        ticks.addData(3); q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.unset("spark.graft.log.checkpointInterval")
    assert(TableLog.currentVersion(spark, dst) === 3)
    // the long-lived relay checkpointed its destination (v2 % 2 == 0)
    assert(fs(dst).exists(new Path(s"$dst/_log/v2.ckpt")),
      "the relay destination never auto-checkpointed")
    val got = TableLog.readAsOf(spark, dst, 3)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    val want = TableLog.readAsOf(spark, src, 3)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    assert(got === want)
  }

  test("r17 x s12: with evolveSchema the relay propagates source schema evolution — the backfill's new-column values replicate") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/r17_evo_src"
    val dst = s"${Etl.scratch(spark)}/r17_evo_dst"
    val dst2 = s"${Etl.scratch(spark)}/r17_evo_dst2"
    Seq(src, dst, dst2).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      (TableLog.stage(spark, src, ev.filter($"event_type" === "error"),
        "data/v1/error") ++
       TableLog.stage(spark, src, ev.filter($"event_type" =!= "error"),
        "data/v1/rest")))
    Lakehouse.relay(spark, src, dst, "event_id", "r17evo", evolveSchema = true)
    // v2: the evolution commit — identical common columns, non-null
    // source_tag on every error row (TableLog.evolveFixture's shape)
    val retired = TableLog.liveFiles(spark, src, 1).filter(_.contains("/error/"))
    val tagged = ev.filter($"event_type" === "error")
      .withColumn("source_tag",
        concat($"event_type", lit("-"), pmod($"user_id", lit(3L)).cast("string")))
    TableLog.commit(spark, src,
      TableLog.Action("schema", tagged.schema.json) +:
        (retired.map(TableLog.Action("remove", _)) ++
          TableLog.stage(spark, src, tagged, "data/v2/error")))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17evo",
      evolveSchema = true) === Seq(2))
    // the destination evolved atomically with the apply and the
    // backfill's values ARRIVED (the pre-r17 intersection feed dropped
    // them — a silently diverged replica)
    val dstHead = TableLog.currentVersion(spark, dst)
    assert(TableLog.schemaAsOf(spark, dst, dstHead).get.fieldNames
      .contains("source_tag"))
    val got = TableLog.readAsOf(spark, dst, dstHead)
    assert(got.count() === ev.count())
    assert(got.filter($"event_type" === "error" && $"source_tag".isNull)
      .count() === 0L)
    assert(got.filter($"event_type" =!= "error" && $"source_tag".isNotNull)
      .count() === 0L)
    val wantTags = tagged.select($"event_id", $"source_tag")
      .as[(Long, String)].collect().toSet
    assert(got.filter($"event_type" === "error")
      .select($"event_id", $"source_tag").as[(Long, String)]
      .collect().toSet === wantTags)
    // a BARE schema commit (no files) still propagates on an idle-data tick
    val wider = org.apache.spark.sql.types.StructType(
      TableLog.schemaAsOf(spark, src, 2).get.fields :+
        org.apache.spark.sql.types.StructField("extra_col",
          org.apache.spark.sql.types.DoubleType))
    TableLog.commit(spark, src, Seq(TableLog.Action("schema", wider.json)))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17evo",
      evolveSchema = true) === Seq(3))
    assert(TableLog.schemaAsOf(spark, dst,
      TableLog.currentVersion(spark, dst)).get.fieldNames.contains("extra_col"))
    // the DEFAULT stays the loud guard: a fresh replica without
    // evolveSchema applies v1, then refuses the evolution commit
    val e = intercept[IllegalArgumentException] {
      Lakehouse.relay(spark, src, dst2, "event_id", "r17evo2")
    }
    assert(e.getMessage.contains("source_tag") &&
      e.getMessage.contains("evolveSchema"))
  }

  test("s13 policy: maybeOptimize is off by default, fires on the DV threshold, and packs to the target") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/policy_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    // off by default: no conf, no commit
    assert(Lakehouse.maybeOptimize(spark, table).isEmpty)
    (0 until 3).foreach(i => Lakehouse.morDelete(spark, table,
      ev.filter($"event_id" % 100 === i).select($"event_id")))
    val pre = TableLog.readAsOf(spark, table, 4)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    spark.conf.set("spark.graft.log.optimizeMaxDvs", "3")
    spark.conf.set("spark.graft.log.optimizeTargetFiles", "2")
    try {
      val v = Lakehouse.maybeOptimize(spark, table, Seq("event_id"))
      assert(v === Some(5))
      val st = TableLog.liveState(spark, table, 5)
      assert(st.dvs.isEmpty, "the policy OPTIMIZE must absorb the DVs")
      assert(st.files.size === 2)
      assert(st.files.forall(_.stats.exists(_.col === "event_id")),
        "the packed files must re-carry key stats")
      assert(TableLog.readAsOf(spark, table, 5)
        .agg(count(lit(1)), sum($"event_id")).collect().head === pre)
      // below threshold now: a second check is a no-op
      assert(Lakehouse.maybeOptimize(spark, table, Seq("event_id")).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.log.optimizeMaxDvs")
      spark.conf.unset("spark.graft.log.optimizeTargetFiles")
    }
  }

  test("r17 x s13 policy: a relay under the conf auto-OPTIMIZEs its destination; the snapshot is unchanged") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/policy_relay_src"
    val dst = s"${Etl.scratch(spark)}/policy_relay_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, src, ev.filter($"event_id" % 3 === 0), "data/v1"))
    TableLog.commit(spark, src,
      TableLog.stage(spark, src, ev.filter($"event_id" % 3 === 1), "data/v2"))
    TableLog.commit(spark, src,
      TableLog.stage(spark, src, ev.filter($"event_id" % 3 === 2), "data/v3"))
    spark.conf.set("spark.graft.log.optimizeMaxFiles", "6")
    spark.conf.set("spark.graft.log.optimizeTargetFiles", "2")
    try {
      assert(Lakehouse.relay(spark, src, dst, "event_id", "policyrelay",
        files = 4) === Seq(1, 2, 3))
      val head = TableLog.currentVersion(spark, dst)
      val st = TableLog.liveState(spark, dst, head)
      assert(st.files.size === 2,
        s"the relay should have packed its destination; live=${st.files.size}")
      assert(st.files.forall(_.path.startsWith("data/compact/")))
      val got = TableLog.readAsOf(spark, dst, head)
        .agg(count(lit(1)), sum($"event_id")).collect().head
      val want = TableLog.readAsOf(spark, src, 3)
        .agg(count(lit(1)), sum($"event_id")).collect().head
      assert(got === want, "maintenance changed the replicated data")
      // and the maintenance commit fed consumers NOTHING (pure rewrite)
      assert(Lakehouse.cdfRead(spark, dst, head - 1, head, "event_id")
        .count() === 0L)
    } finally {
      spark.conf.unset("spark.graft.log.optimizeMaxFiles")
      spark.conf.unset("spark.graft.log.optimizeTargetFiles")
    }
  }

  test("medallion: stream -> bronze commits (R15) -> relay (R17) -> silver -> incremental view (MV1), exactly-once through both logs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bronze = s"${Etl.scratch(spark)}/medallion_bronze"
    val silver = s"${Etl.scratch(spark)}/medallion_silver"
    Seq(bronze, silver).foreach(t => fs(t).delete(new Path(t), true))
    val evts = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .orderBy($"event_id").limit(200).as[Evt].collect().toSeq
    // the whole pipeline lives in ONE foreachBatch: land the micro-batch
    // as an atomic bronze commit, relay the new bronze versions into
    // silver (offset = silver's own txn markers), fold silver's new
    // versions into the view state — each stage resumes from ITS log,
    // nothing is held anywhere else
    var state = TableLog.mvSlice(spark, silver, Seq.empty, 1L)
    var refreshedTo = 0
    val mem = MemoryStream[Evt]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        TableLog.commitBatch(bronze, "medallion")(df, bid)
        Lakehouse.relay(spark, bronze, silver, "event_id", "medallion")
        val head = TableLog.currentVersion(spark, silver)
        if (head > refreshedTo) {
          state = TableLog.mvMerge(state,
            TableLog.mvDelta(spark, silver, refreshedTo, head)).localCheckpoint()
          refreshedTo = head
        }
        ()
      }
      .outputMode("append").start()
    try {
      mem.addData(evts.take(120)); q.processAllAvailable()
      mem.addData(evts.drop(120)); q.processAllAvailable()
    } finally q.stop()
    // silver tracks bronze exactly
    val bHead = TableLog.currentVersion(spark, bronze)
    val sHead = TableLog.currentVersion(spark, silver)
    assert(bHead === 2 && sHead === 2)
    val b = TableLog.readAsOf(spark, bronze, bHead)
      .agg(count(lit(1)), sum($"event_id")).collect().head
    assert(TableLog.readAsOf(spark, silver, sHead)
      .agg(count(lit(1)), sum($"event_id")).collect().head === b)
    // the incrementally-maintained view equals the direct aggregate
    val direct = TableLog.readAsOf(spark, silver, sHead)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"))
    assert(state.orderBy($"event_type").collect().toSeq
      === direct.orderBy($"event_type").collect().toSeq)
    // the worst-case re-delivery is inert at EVERY layer: the bronze
    // commit gate rejects the duplicate batch, so no version appears,
    // the relay finds nothing past its offset, and the view has no
    // window to fold
    TableLog.commitBatch(bronze, "medallion")(
      spark.createDataset(evts.take(120)).toDF(), 0L)
    assert(TableLog.currentVersion(spark, bronze) === 2)
    assert(Lakehouse.relay(spark, bronze, silver, "event_id", "medallion").isEmpty)
    assert(TableLog.currentVersion(spark, silver) === 2)
  }

  test("r17: a schema-only first source commit cold-starts the relay — the schema propagates on the empty delta, data follows") {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/r17_cold_src"
    val dst = s"${Etl.scratch(spark)}/r17_cold_dst"
    Seq(src, dst).foreach(t => fs(t).delete(new Path(t), true))
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // the common creation pattern: v1 = schema only, data lands at v2
    TableLog.commit(spark, src, Seq(TableLog.Action("schema", ev.schema.json)))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17cold") === Seq(1))
    // the destination now has the schema even though no rows moved —
    // without this the v2 apply finds a marker-only destination with no
    // schema to read under and wedges permanently (r17 review)
    assert(TableLog.schemaAsOf(spark, dst, 1).isDefined)
    TableLog.commit(spark, src, TableLog.stage(spark, src, ev, "data/v2"))
    assert(Lakehouse.relay(spark, src, dst, "event_id", "r17cold") === Seq(2))
    assert(TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
      .agg(count(lit(1)), sum($"event_id")).collect().head
      === ev.agg(count(lit(1)), sum($"event_id")).collect().head)
  }

  // ----------------------- S21: reader-feature gate (protocol versioning)

  test("s21: a committed FUTURE feature makes every read past it refuse loudly; earlier versions stay readable") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s21_future_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    // a writer from the future: v2 declares a feature this reader lacks
    // (parseAction would silently SKIP its unknown actions — the gate is
    // what turns that into a refusal instead of resurrected rows)
    TableLog.commit(spark, table,
      Seq(TableLog.Action("feature", "vector_index"),
        TableLog.Action("future_action", "data/v2/whatever.bin")))
    // v1 never opens the v2 manifest — still fully readable
    assert(TableLog.readAsOf(spark, table, 1).count() === ev.count())
    assert(TableLog.schemaAsOf(spark, table, 1).isDefined)
    // every path that must replay v2 refuses, naming the feature
    Seq(
      () => TableLog.readAsOf(spark, table, 2).count(): Unit,
      () => TableLog.schemaAsOf(spark, table, 2): Unit,
      () => TableLog.alreadyCommitted(spark, table, "s", 1L): Unit,
      () => Lakehouse.cdfRead(spark, table, 1, 2, "event_id").count(): Unit,
      () => TableLog.checkpointLog(spark, table): Unit
    ).foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("vector_index"),
        s"refusal must name the missing feature; got: ${e.getMessage}")
    }
  }

  test("s21: DV commits declare the dv feature; the declaration rides checkpoints past manifest GC") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s21_dv_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    Lakehouse.morDelete(spark, table,
      ev.filter($"event_type" === "click" && $"value" < 100.0)
        .select($"event_id"))
    // the requirement is on the wire, not assumed
    val v2lines = {
      val in = fs(table).open(new Path(s"$table/_log/v2.log"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(v2lines.contains("feature\tdv"),
      "a DV commit must declare the dv reader feature")
    // the feature set survives checkpointing AND manifest GC: after
    // vacuumLog retires the declaring manifest, the checkpoint is the
    // only carrier — and a LATER checkpoint must inherit it from the
    // previous one, not from the (gone) manifests
    TableLog.commit(spark, table, TableLog.stage(spark, table,
      ev.filter($"event_id" % 7 === 0)
        .withColumn("event_id", $"event_id" + 10000000L), "data/v3"))
    assert(TableLog.checkpointLog(spark, table) === 3)
    assert(TableLog.loadCheckpoint(spark, table, 3).features === Set("dv"))
    TableLog.commit(spark, table, TableLog.stage(spark, table,
      ev.filter($"event_id" % 7 === 1)
        .withColumn("event_id", $"event_id" + 20000000L), "data/v4"))
    assert(TableLog.vacuumLog(spark, table, retainFrom = 3)
      === (1 to 3).map(v => s"v$v.log"))
    assert(TableLog.checkpointLog(spark, table) === 4)
    assert(TableLog.loadCheckpoint(spark, table, 4).features === Set("dv"),
      "the feature set must survive manifest GC via checkpoint inheritance")
    // and the DV itself still applies when reading from the checkpoint
    assert(TableLog.readAsOf(spark, table, 4)
      .filter($"event_type" === "click" && $"value" < 100.0 &&
        $"event_id" < 10000000L).count() === 0L)
  }

  test("s21: corrupt feature lines refuse; a checkpoint demanding an unknown feature refuses") {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s21_corrupt_table"
    fs(table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir).select($"event_id", $"value").limit(50)
    TableLog.commit(spark, table, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table, ev, "data/v1"))
    // an empty feature name is wire corruption, not a tolerable marker
    TableLog.commit(spark, table, Seq(TableLog.Action("feature", "")))
    val e = intercept[IllegalStateException] {
      TableLog.readAsOf(spark, table, 2).count()
    }
    assert(e.getMessage.contains("corrupt feature line"))
    // a checkpoint from a future writer: known wire, unknown feature
    val table2 = s"${Etl.scratch(spark)}/s21_ckpt_table"
    fs(table2).delete(new Path(table2), true)
    TableLog.commit(spark, table2, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, table2, ev, "data/v1"))
    assert(TableLog.checkpointLog(spark, table2) === 1)
    val p = new Path(s"$table2/_log/v1.ckpt")
    val lines = {
      val in = fs(table2).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val out = fs(table2).create(p, true)
    try out.write((lines :+ "feature\trange_delete")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val e2 = intercept[IllegalStateException] {
      TableLog.readAsOf(spark, table2, 1).count()
    }
    assert(e2.getMessage.contains("range_delete"))
  }
}
