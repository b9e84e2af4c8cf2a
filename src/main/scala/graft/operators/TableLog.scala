package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** S11 [EXT]: a minimal transactional table log — the manifest layer the
  * other sink operators point at. S10's selective compaction swaps dirs
  * with FS renames and its own Scaladoc concedes "production would swap
  * via a transactional table format's manifest"; U1–U4 compute CDC
  * snapshots but publish them as bare overwrites. This operator supplies
  * the missing contract: every table mutation is an APPEND-ONLY commit
  * (`_log/vN.log`, one add/remove file action per line) and a reader
  * resolves any historical snapshot purely from the log — never from a
  * directory listing.
  *
  * Why this is the 100 TB posture:
  *  - a commit is one manifest rename, so writers stage data files at any
  *    pace and readers NEVER see a torn write (a crashed writer's files
  *    are unreachable until its manifest lands — [[currentVersion]]
  *    ignores staging tmps);
  *  - removal is LOGICAL: old versions stay readable (time travel, audit,
  *    reproducible training-data lineage) until a GC pass drops files
  *    unreferenced by any retained version;
  *  - a snapshot read scans exactly the manifest's file list — no
  *    eventually-consistent listing, no stray-file pickup, and the
  *    listing cost is metadata-scale (log lines), not data-scale.
  * The one atomic step is storage-specific, so it lives behind the
  * [[LogStore]] seam: HDFS's no-clobber rename, POSIX's link(2) (the
  * closed-window primitive local tables get by default), an object
  * store's conditional PUT — the log replay and snapshot-read shape here
  * is the portable part.
  */
object TableLog {

  /** Per-file column statistics carried by an `add` action: min/max of ONE
    * long-typed stats column, recorded at stage time. At 100 TB this is
    * the difference between opening ~800k parquet footers to plan a range
    * scan and reading one manifest: a snapshot read prunes to the files
    * whose [min, max] overlaps the predicate BEFORE any footer I/O (the
    * data-skipping S9's clustered layout provides inside a file, lifted
    * to the file-set level). Stats are optional per action — a file
    * staged without them is simply never pruned (the safe direction). */
  private[graft] final case class FileStats(col: String, min: Long, max: Long)

  /** One logged file action; `path` is table-relative (portable across
    * mounts — the log never embeds an absolute URI). An `add` may carry
    * stats for SEVERAL columns (the Z-order layout records every
    * clustered dimension — S16). */
  private[graft] final case class Action(op: String, path: String,
      stats: Seq[FileStats] = Nil)

  /** Parse one manifest line to a file action (None for schema/txn
    * markers). Wire format: `add\tpath[\tcol\tmin\tmax]...` (one col-min-
    * max triple per stats column) / `remove\tpath` / `dv\tpath` (S18: a
    * deletion-vector file — a parquet of deleted keys whose single
    * column IS the key column it deletes on) — the 2-field forms are
    * what every pre-stats manifest holds, so old logs replay unchanged.
    * A CORRUPT file action (stats arity not 3k, non-numeric bound, lost
    * path) fails LOUDLY: silently dropping an unparseable add would lose
    * a LIVE file — and a swallowed remove or dv would RESURRECT deleted
    * rows — from every subsequent read with no error anywhere; a
    * transactional log must refuse to replay what it cannot parse. */
  private[graft] def parseAction(line: String): Option[Action] =
    line.split("\t") match {
      case Array("add", p, rest @ _*) =>
        Some(Action("add", p, parseStatsTriples(rest, line)))
      case Array("remove", p) => Some(Action("remove", p))
      case Array("dv", p) => Some(Action("dv", p))
      case arr if arr.headOption.exists(op =>
          op == "add" || op == "remove" || op == "dv") =>
        throw new IllegalStateException(s"corrupt manifest file action: $line")
      case _ => None // schema / txn / feature markers
    }

  /** S21 [EXT]: reader features this engine implements. A manifest or
    * checkpoint line `feature\t<name>` declares that correctly reading
    * the table from that commit on REQUIRES understanding `<name>` — the
    * protocol/table-features posture of the production formats (Delta
    * reader versions, Iceberg format-version). The gate exists because
    * [[parseAction]] deliberately tolerates unknown line kinds (schema
    * and txn markers ride the same wire), so without it a FUTURE writer's
    * new action — a range delete, an equality predicate — would be
    * silently SKIPPED by an old reader, which then serves resurrected or
    * duplicate rows with no error anywhere. The gate turns that silent
    * wrongness into a loud refusal at replay time; declaring a feature
    * the reader does implement costs one string compare per line. A
    * declaration is permanent once committed (removal would need a
    * rewrite proving no surviving action depends on it); the set rides
    * checkpoints so it survives [[vacuumLog]] manifest GC. */
  private[graft] val SUPPORTED_READER_FEATURES: Set[String] =
    Set("dv", "stats", "checkpoint")

  /** Refuse a `feature` line naming anything this reader does not
    * implement; tolerate everything else. `where` names the table+version
    * so the refusal points at the offending commit, not just the read. */
  private def checkFeatureLine(line: String, where: String): Unit =
    if (line.startsWith("feature\t")) {
      val name = line.stripPrefix("feature\t")
      if (name.isEmpty || name.contains("\t"))
        throw new IllegalStateException(s"corrupt feature line in $where: $line")
      if (!SUPPORTED_READER_FEATURES(name))
        throw new IllegalStateException(
          s"$where requires reader feature '$name'; this engine implements " +
            s"only [${SUPPORTED_READER_FEATURES.toSeq.sorted.mkString(", ")}] " +
            "and refuses to replay a log whose actions it could misread")
    }

  private def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Integer conf knob, refused loudly on a malformed value BEFORE any
    * side effect — the one parse every conf-gated writer hook shares
    * (the r17 review found three hand-rolled copies drifting apart). */
  private[graft] def confInt(spark: SparkSession, key: String,
      default: String): Int = {
    val v = spark.conf.get(key, default)
    v.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be an integer, got '$v'"))
  }

  /** [[confInt]] for byte-sized knobs past Int range. */
  private[graft] def confLong(spark: SparkSession, key: String,
      default: String): Long = {
    val v = spark.conf.get(key, default)
    v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be an integer, got '$v'"))
  }

  /** The manifest-stats / DV-pruning integral-key contract in one place:
    * long wire bounds are exact for these types and truncate for
    * everything else. */
  private[graft] def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
  }

  /** Newest committed version (0 = empty table). Staging tmps (dot-files)
    * and foreign names are ignored: a crashed writer leaves no trace a
    * reader can observe. Checkpoint files count too: after [[vacuumLog]]
    * retires a fully-checkpointed chain, the head may be represented by
    * `vN.ckpt` alone and the table must still report version N. */
  private[graft] def currentVersion(spark: SparkSession, table: String): Int = {
    val f = fsOf(spark, table)
    val dir = new Path(table, "_log")
    if (!f.exists(dir)) 0
    else f.listStatus(dir).toSeq
      .flatMap(s => "^v(\\d+)\\.(log|ckpt)$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .foldLeft(0)(math.max)
  }

  /** Append commit v(current+1). The write stages to a dot-tmp and
    * publishes with ONE rename — the table's single atomic step. Returns
    * the committed version. */
  private[graft] def commit(spark: SparkSession, table: String,
      actions: Seq[Action]): Int =
    publish(spark, table, currentVersion(spark, table) + 1, actions)

  /** Stage-and-publish manifest `v$next.log`. Split from [[commit]] so the
    * lost-race case — two writers that both read the same current version
    * and race to publish the SAME next manifest — is directly drivable in
    * a spec; commit() is just publish(currentVersion + 1). */
  private[graft] def publish(spark: SparkSession, table: String,
      next: Int, actions: Seq[Action]): Int = {
    val f = fsOf(spark, table)
    // attempt-unique staging name: two writers racing to the same version
    // must never stomp each other's tmp (dot-prefix keeps it invisible to
    // currentVersion; a crashed attempt leaves only an ignorable tmp)
    val tmp = f.makeQualified(new Path(table,
      s"_log/.v$next.${java.util.UUID.randomUUID}.tmp"))
    val out = f.create(tmp, true)
    try {
      actions.foreach { a =>
        val line = (s"${a.op}\t${a.path}" +:
          a.stats.map(s => s"${s.col}\t${s.min}\t${s.max}")).mkString("\t")
        out.write((line + "\n").getBytes("UTF-8"))
      }
      out.hflush()
    } finally out.close()
    // one-winner publish through the LogStore seam — the storage-specific
    // atomic-exclusive primitive (HDFS no-clobber rename, POSIX link(2),
    // an object store's conditional PUT); see [[LogStore]] for the
    // contract and per-storage windows. A lost race surfaces as
    // FileAlreadyExistsException, never as a silently overwritten
    // manifest.
    val dst = f.makeQualified(new Path(table, s"_log/v$next.log"))
    try LogStore.forTable(spark, dst)
      .publishExclusive(spark.sparkContext.hadoopConfiguration, tmp, dst)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"commit v$next lost the publish race", e)
    }
    next
  }

  /** Optimistic-concurrency commit: [[commit]] retried across lost
    * publish races — the conflict-resolution loop of the production log
    * stores. A loser re-reads the log and re-targets the next version;
    * its ACTIONS need no rebase because they are file-level adds/removes
    * of files only this writer staged (blind appends commute — the same
    * argument that makes the MV delta abelian). Writers whose semantics
    * do NOT commute with a concurrent commit (read-modify-write of the
    * same files, e.g. two compactions of one partition) must instead
    * treat the race error as a real conflict — that is why [[commit]]
    * stays the primitive and the retry is opt-in. Gives up after
    * `maxAttempts` (a pathological storm should surface, not spin). */
  private[graft] def commitWithRetry(spark: SparkSession, table: String,
      actions: Seq[Action], maxAttempts: Int = 5,
      beforePublish: Int => Unit = _ => ()): Int = {
    var attempt = 1
    while (true) {
      val next = currentVersion(spark, table) + 1
      // `beforePublish(next)` marks the read-to-publish window — the
      // exact gap a concurrent writer can land in. TimeTravelSpec drives
      // a competitor through it deterministically; production callers
      // leave it a no-op.
      beforePublish(next)
      try return publish(spark, table, next, actions)
      catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.contains("lost the publish race") =>
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"commit still losing the publish race after $maxAttempts attempts", e)
          attempt += 1
      }
    }
    -1 // unreachable
  }

  private def readLogLines(f: FileSystem, path: Path): Seq[String] = {
    val in = f.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The ONE manifest read primitive — every replay path (liveState,
    * schemaAsOf, the txn gates, cdf, vacuum) comes through here, so the
    * S21 feature gate lives here: a manifest declaring a feature this
    * reader lacks refuses before any caller can act on a partial parse.
    * (GC included on purpose: deleting manifests you cannot fully read
    * is how a retention pass loses an action it never understood.) */
  private def manifestLines(f: FileSystem, table: String, v: Int): Seq[String] = {
    val lines = readLogLines(f, new Path(table, s"_log/v$v.log"))
    lines.foreach(checkFeatureLine(_, s"$table@v$v"))
    lines
  }

  /** Parse the col-min-max triples of a file action / checkpoint file
    * line — ONE parser so the manifest and checkpoint wire formats can
    * never silently diverge. Refuses loudly with the offending line. */
  private def parseStatsTriples(rest: Seq[String], line: String): Seq[FileStats] = {
    if (rest.size % 3 != 0) throw new IllegalStateException(
      s"corrupt stats arity ${rest.size} in: $line")
    try rest.grouped(3).map {
      case Seq(c, mn, mx) => FileStats(c, mn.toLong, mx.toLong)
    }.toSeq
    catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt stats bound in: $line", e)
    }
  }

  /** One live data file in a snapshot: table-relative path, its logged
    * column stats, and the version whose commit ADDED it — the add
    * version is what scopes deletion vectors (a DV committed at version v
    * applies only to files added BEFORE v, so a post-delete re-insert of
    * the same key survives, exactly the sequence-number rule of the
    * production v2 table formats). */
  private[graft] final case class LiveFile(path: String, stats: Seq[FileStats],
      version: Int)

  /** Full replay result as of a version: live data files plus live
    * deletion vectors (path, commit version). */
  private[graft] final case class LiveState(files: Seq[LiveFile],
      dvs: Seq[(String, Int)])

  // ------------------------------------------------ S19: log checkpoints

  /** A parsed checkpoint: the collapsed replay state as of its version.
    * Files keep their ORIGINAL add versions — collapsing them to the
    * checkpoint version would silently widen deletion-vector scope (a DV
    * applies to files added before ITS commit, not before the
    * checkpoint). Txn markers ride along so the exactly-once gate stays
    * O(commits since checkpoint) too. */
  private[graft] final case class Checkpoint(files: Seq[LiveFile],
      dvs: Seq[(String, Int)], schema: Option[org.apache.spark.sql.types.StructType],
      txns: Set[String], features: Set[String] = Set.empty)

  /** Parsed-checkpoint cache. Without it every txn probe and every
    * schema fallback re-downloads and re-parses the same multi-MB file —
    * at ~800k live files that is exactly the per-read cost class S19
    * exists to remove. Keyed by (qualified path, length, mtime), NOT by
    * version alone: test fixtures (and a production restore) can delete
    * and rebuild a table at the same path, and a stale entry would serve
    * the dead table's state. One getFileStatus per hit — metadata-scale.
    * Bounded: cleared wholesale past 256 entries (checkpoints are few;
    * this is a leak guard, not an eviction policy). */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Checkpoint]()

  /** Newest checkpoint version at or below `atMost` (None = replay from
    * v1, the pre-S19 path — old tables read unchanged). */
  private[graft] def newestCheckpoint(spark: SparkSession, table: String,
      atMost: Int): Option[Int] = {
    val f = fsOf(spark, table)
    val dir = new Path(table, "_log")
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .flatMap(s => "^v(\\d+)\\.ckpt$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .filter(_ <= atMost)
      .maxOption
  }

  /** Checkpoint wire format — ONE line per collapsed fact, its own forms
    * (manifests are untouched; pre-S19 logs replay unchanged):
    * `file\t<addVersion>\t<path>[\tcol\tmin\tmax]...` / `dv\t<version>\t
    * <path>` / `schema\t<json>` / `txn\t<stream>\t<batch>` /
    * `feature\t<name>` (S21 — the accumulated reader-feature set, gated
    * by the same check the manifests run). Corrupt lines refuse loudly,
    * the manifest-parse discipline: a silently dropped `file` line loses
    * a live file from every read that trusts the checkpoint. */
  private[graft] def loadCheckpoint(spark: SparkSession, table: String,
      version: Int): Checkpoint = {
    val f = fsOf(spark, table)
    val path = f.makeQualified(new Path(table, s"_log/v$version.ckpt"))
    val st = f.getFileStatus(path)
    val key = (path.toString, st.getLen, st.getModificationTime)
    val hit = ckptCache.get(key)
    if (hit != null) return hit
    def corrupt(line: String): Nothing = throw new IllegalStateException(
      s"corrupt checkpoint line in v$version.ckpt: $line")
    val files = Seq.newBuilder[LiveFile]
    val dvs = Seq.newBuilder[(String, Int)]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    val txns = Set.newBuilder[String]
    val features = Set.newBuilder[String]
    readLogLines(f, path).foreach { line =>
      line.split("\t") match {
        case Array("file", v, p, rest @ _*) =>
          val addV = v.toIntOption.getOrElse(corrupt(line))
          files += LiveFile(p, parseStatsTriples(rest, line), addV)
        case Array("dv", v, p) =>
          dvs += (p -> v.toIntOption.getOrElse(corrupt(line)))
        case Array("schema", json) =>
          schema = Some(org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        case Array("txn", s, b) => txns += s"$s\t$b"
        case Array("feature", _) =>
          // validated (and refused if unimplemented) by the same gate the
          // manifests use — the feature set must survive vacuumLog's
          // manifest GC, which is why it rides the checkpoint at all
          checkFeatureLine(line, s"$table v$version.ckpt")
          features += line.stripPrefix("feature\t")
        case Array("") => ()
        case _ => corrupt(line)
      }
    }
    val ck = Checkpoint(files.result(), dvs.result(), schema, txns.result(),
      features.result())
    if (ckptCache.size > 256) ckptCache.clear()
    ckptCache.put(key, ck)
    ck
  }

  /** Write the checkpoint for the CURRENT version: one collapsed-state
    * file `_log/vN.ckpt`, staged to a dot-tmp and published with the same
    * exclusive primitive as a commit. At 100 TB this is what keeps every
    * read metadata cost O(commits since the last OPTIMIZE-and-checkpoint)
    * instead of O(table lifetime): [[liveState]], [[schemaAsOf]] and the
    * [[alreadyCommitted]] txn gate all start from the newest checkpoint
    * at or below their version. Older manifests stay on disk, so time
    * travel BELOW the checkpoint still replays from v1. Idempotent and
    * race-safe: checkpoint content for a version is a pure function of
    * the log, so a lost publish race means an identical file already
    * exists — return the version quietly. Returns the checkpointed
    * version. */
  def checkpointLog(spark: SparkSession, table: String): Int = {
    val cur = currentVersion(spark, table)
    require(cur >= 1, s"nothing to checkpoint in $table")
    val st = liveState(spark, table, cur)
    val schema = schemaAsOf(spark, table, cur)
    // txn markers and feature declarations: the previous checkpoint's
    // sets plus the window's lines (features MUST ride the checkpoint —
    // after vacuumLog retires the declaring manifest, the checkpoint is
    // the only place the requirement survives)
    val f = fsOf(spark, table)
    val prevC = newestCheckpoint(spark, table, cur)
    val prevCk = prevC.map(loadCheckpoint(spark, table, _))
    val window = ((prevC.getOrElse(0) + 1) to cur)
      .flatMap(v => manifestLines(f, table, v))
    val txns = prevCk.map(_.txns).getOrElse(Set.empty[String]) ++
      window.collect {
        case l if l.startsWith("txn\t") => l.stripPrefix("txn\t")
      }
    val features = prevCk.map(_.features).getOrElse(Set.empty[String]) ++
      window.collect {
        case l if l.startsWith("feature\t") => l.stripPrefix("feature\t")
      }
    val tmp = f.makeQualified(new Path(table,
      s"_log/.v$cur.ckpt.${java.util.UUID.randomUUID}.tmp"))
    val out = f.create(tmp, true)
    try {
      st.files.foreach { lf =>
        val line = (Seq("file", lf.version.toString, lf.path) ++
          lf.stats.flatMap(s => Seq(s.col, s.min.toString, s.max.toString)))
          .mkString("\t")
        out.write((line + "\n").getBytes("UTF-8"))
      }
      st.dvs.foreach { case (p, v) =>
        out.write(s"dv\t$v\t$p\n".getBytes("UTF-8"))
      }
      schema.foreach(s => out.write(s"schema\t${s.json}\n".getBytes("UTF-8")))
      txns.foreach(t => out.write(s"txn\t$t\n".getBytes("UTF-8")))
      features.toSeq.sorted.foreach(n =>
        out.write(s"feature\t$n\n".getBytes("UTF-8")))
      out.hflush()
    } finally out.close()
    val dst = f.makeQualified(new Path(table, s"_log/v$cur.ckpt"))
    try LogStore.forTable(spark, dst)
      .publishExclusive(spark.sparkContext.hadoopConfiguration, tmp, dst)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        // a concurrent checkpointer won with IDENTICAL content (the state
        // is a pure function of the immutable log prefix) — clean up our
        // tmp and accept theirs
        f.delete(tmp, false)
    }
    cur
  }

  /** Replay adds/removes/dvs up to `version`, starting from the newest
    * checkpoint at or below it (schema/txn markers skipped) — O(commits
    * since checkpoint) metadata work, one short text line per file
    * action. */
  private[graft] def liveState(spark: SparkSession, table: String,
      version: Int): LiveState = {
    val f = fsOf(spark, table)
    val live =
      scala.collection.mutable.LinkedHashMap.empty[String, (Seq[FileStats], Int)]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val from = newestCheckpoint(spark, table, version) match {
      case Some(c) =>
        val ck = loadCheckpoint(spark, table, c)
        ck.files.foreach(lf => live(lf.path) = (lf.stats, lf.version))
        ck.dvs.foreach { case (p, v) => dvs(p) = v }
        c
      case None => 0
    }
    ((from + 1) to version).foreach { v =>
      manifestLines(f, table, v).foreach { line =>
        parseAction(line) match {
          case Some(Action("add", path, st)) => live(path) = (st, v)
          case Some(Action("dv", path, _)) => dvs(path) = v
          case Some(Action("remove", path, _)) =>
            live.remove(path); dvs.remove(path)
          case _ => () // schema / txn marker
        }
      }
    }
    LiveState(live.toSeq.map { case (p, (st, v)) => LiveFile(p, st, v) },
      dvs.toSeq)
  }

  /** Live table-relative files as of `version`, each with its logged
    * column stats (deletion vectors not included — use [[liveState]]
    * where DV semantics matter). */
  private[graft] def liveFilesWithStats(spark: SparkSession, table: String,
      version: Int): Seq[(String, Seq[FileStats])] =
    liveState(spark, table, version).files.map(f => f.path -> f.stats)

  /** Live table-relative files as of `version` (stats dropped). */
  private[graft] def liveFiles(spark: SparkSession, table: String,
      version: Int): Seq[String] =
    liveFilesWithStats(spark, table, version).map(_._1)

  /** Has `(streamId, batchId)` already committed? The exactly-once test a
    * restarted micro-batch writer runs before (and [[commitIfAbsent]]
    * re-runs at publish time) — the `txn` action of the production log
    * formats. */
  private[graft] def alreadyCommitted(spark: SparkSession, table: String,
      streamId: String, batchId: Long): Boolean = {
    val f = fsOf(spark, table)
    val cur = currentVersion(spark, table)
    // the txn set rides the checkpoint (S19): without it, every micro-
    // batch commit would scan the WHOLE manifest chain for its marker —
    // O(table lifetime) per batch on a long-lived ingest
    val floor = newestCheckpoint(spark, table, cur)
    floor.exists(c =>
      loadCheckpoint(spark, table, c).txns.contains(s"$streamId\t$batchId")) ||
      ((floor.getOrElse(0) + 1) to cur).exists(v =>
        manifestLines(f, table, v).contains(s"txn\t$streamId\t$batchId"))
  }

  /** Newest batchId committed under `streamId`, or None if the stream has
    * never committed here — the RESUME OFFSET of a relay or ingest whose
    * exactly-once markers live in THIS table's own log (R17): a restarted
    * consumer asks the destination where it left off, so there is no
    * external offset store to lose, lag, or double-apply against. Same
    * S19 cost shape as [[alreadyCommitted]]: the checkpoint's txn set
    * plus only the manifests past it — O(commits since checkpoint), not
    * O(table lifetime). The `\t` in the probe prefix is load-bearing: it
    * stops a streamId that prefixes another (`cdf:a` / `cdf:ab`) from
    * claiming the other's offsets. */
  private[graft] def lastCommitted(spark: SparkSession, table: String,
      streamId: String): Option[Long] = {
    val f = fsOf(spark, table)
    val cur = currentVersion(spark, table)
    if (cur == 0) return None
    val floor = newestCheckpoint(spark, table, cur)
    val pfx = s"$streamId\t"
    val linePfx = s"txn\t$pfx"
    val fromCkpt = floor.toSeq.flatMap(c =>
      loadCheckpoint(spark, table, c).txns.collect {
        case t if t.startsWith(pfx) => t.stripPrefix(pfx).toLong
      })
    val fromLog = ((floor.getOrElse(0) + 1) to cur).flatMap(v =>
      manifestLines(f, table, v).collect {
        case l if l.startsWith(linePfx) => l.stripPrefix(linePfx).toLong
      })
    (fromCkpt ++ fromLog).maxOption
  }

  /** Commit `actions` tagged with a `(streamId, batchId)` txn marker —
    * a NO-OP if that marker already committed (the re-delivered micro-
    * batch after a writer restart: its re-staged files stay orphaned and
    * unreferenced until [[vacuum]], the table never sees them twice).
    * Returns the committed version, or -1 for the skipped re-delivery.
    *
    * The txn gate RE-CHECKS on every publish attempt: without that, two
    * writers racing the SAME re-delivered batch could both pass one
    * up-front check, the loser retry past the winner, and the batch land
    * twice — the gate and the race loop must interleave per attempt
    * (TimeTravelSpec drives exactly that interleaving through the
    * `beforePublish` seam). Unrelated concurrent commits just cost the
    * loser a retry, as in [[commitWithRetry]]. */
  private[graft] def commitIfAbsent(spark: SparkSession, table: String,
      streamId: String, batchId: Long, actions: Seq[Action],
      maxAttempts: Int = 5, beforePublish: Int => Unit = _ => ()): Int = {
    var attempt = 1
    while (true) {
      if (alreadyCommitted(spark, table, streamId, batchId)) return -1
      val next = currentVersion(spark, table) + 1
      beforePublish(next)
      try return publish(spark, table, next,
        actions :+ Action("txn", s"$streamId\t$batchId"))
      catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.contains("lost the publish race") =>
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"txn commit still losing the publish race after $maxAttempts attempts", e)
          attempt += 1
      }
    }
    -1 // unreachable
  }

  /** Physical GC: delete every file under `data/` that no RETAINED
    * version (>= `retainFrom`) references — retired files past their
    * retention horizon AND orphans a crashed or re-delivered writer
    * staged but never committed. Reads as of versions < `retainFrom`
    * stop working, by contract; every retained read is untouched
    * (TimeTravelSpec proves both). Listing is metadata-scale; deletion
    * count is bounded by the files the retained manifests do NOT name.
    *
    * `minAgeMs` is the in-flight-writer guard (the production-vacuum
    * convention): a file younger than the threshold is skipped even when
    * unreferenced, because "unreferenced" cannot distinguish an orphan
    * from a file a SLOW writer has staged whose manifest has not landed
    * yet — a vacuum racing such a commit would GC the staged files and
    * leave the landed manifest pointing at nothing. Set the threshold
    * above the longest plausible stage-to-commit latency (the same knob
    * production table formats expose as `retentionDurationHours`); 0
    * keeps the delete-now behavior for tables with no concurrent
    * writers (the declared fixtures). */
  private[graft] def vacuum(spark: SparkSession, table: String,
      retainFrom: Int, minAgeMs: Long = 0L): Seq[String] = {
    val f = fsOf(spark, table)
    // referenced = every retained version's data files AND deletion
    // vectors — a GC'd live DV would silently resurrect its deleted rows
    val referenced = (retainFrom to currentVersion(spark, table))
      .flatMap { v =>
        val st = liveState(spark, table, v)
        st.files.map(_.path) ++ st.dvs.map(_._1)
      }.toSet
    val root = new Path(table, "data")
    if (!f.exists(root)) return Seq.empty
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s)
      }
    val cutoff = System.currentTimeMillis() - minAgeMs
    val rootUri = new Path(table).toUri.getPath
    val dead = walk(root)
      .filter(_.getModificationTime <= cutoff)
      .map { s =>
        s.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      }.filterNot(referenced)
    dead.foreach(r => f.delete(new Path(s"$table/$r"), false))
    // crashed publish attempts leave attempt-unique dot-tmps in _log —
    // invisible to readers (currentVersion ignores dot-files) but
    // accumulating forever without this sweep; the same age guard
    // protects an attempt between its create and its rename
    val logDir = new Path(table, "_log")
    if (f.exists(logDir))
      f.listStatus(logDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime <= cutoff)
        .foreach(s => f.delete(s.getPath, false))
    dead
  }

  /** Manifest GC (S19's retention complement to [[vacuum]]'s data GC): a
    * manifest chain grows one file per commit forever unless retired —
    * 10^5–10^6 tiny objects on a mature 100 TB table, a LIST-cost and
    * object-count tax every production format bounds the same way. A
    * manifest `vM.log` is dead once (a) retention forbids reads below
    * `retainFrom` AND (b) a CHECKPOINT exists in [M, retainFrom] — every
    * allowed read (v >= retainFrom) then starts replay at a checkpoint at
    * or past M and never opens it (the property LakehouseSpec pins by
    * yanking manifests under live reads). Without such a checkpoint
    * NOTHING is deleted: manifest GC must never outrun checkpointing.
    * Superseded checkpoints below the newest one in the retained range
    * retire too. Returns the deleted _log entries.
    * `minAgeMs` is the in-flight-READER grace guard (vacuum's minAgeMs
    * analog, other direction): a reader that resolved its replay start
    * BEFORE the covering checkpoint landed is still walking the old
    * manifests — nothing retires unless the checkpoint is older than the
    * longest plausible read, so such a reader finishes first. 0 keeps
    * delete-now for single-reader tables (the spec fixtures). Only names
    * whose delete actually SUCCEEDED are reported — a failed delete must
    * not read as a retired chain. */
  private[graft] def vacuumLog(spark: SparkSession, table: String,
      retainFrom: Int, minAgeMs: Long = 0L): Seq[String] = {
    val f = fsOf(spark, table)
    val logDir = new Path(table, "_log")
    if (!f.exists(logDir)) return Seq.empty
    // ONE listing serves both the covering-checkpoint lookup and the
    // candidate sweep (this API exists for 10^5-10^6-entry _log dirs)
    val logRe = "^v(\\d+)\\.log$".r
    val ckptRe = "^v(\\d+)\\.ckpt$".r
    val entries = f.listStatus(logDir).toSeq
    val cover = entries.flatMap { s =>
      ckptRe.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toInt, s.getModificationTime))
    }.filter(_._1 <= retainFrom).sortBy(_._1).lastOption
    cover match {
      case None => Seq.empty // GC never outruns checkpointing
      case Some((_, ckptMtime))
          if ckptMtime > System.currentTimeMillis() - minAgeMs =>
        Seq.empty // checkpoint too fresh: in-flight readers may predate it
      case Some((c, _)) =>
        entries.filter { s =>
          val n = s.getPath.getName
          logRe.findFirstMatchIn(n).exists(_.group(1).toInt <= c) ||
            ckptRe.findFirstMatchIn(n).exists(_.group(1).toInt < c)
        }
          .filter(s => f.delete(s.getPath, false))
          .map(_.getPath.getName).sorted
    }
  }

  /** The table schema AS OF `version`: the newest `schema` action at or
    * before it (None for a log that predates schema tracking). Schema
    * lives in the LOG, not the files — the reader never trusts footer
    * inference, and an old file simply lacks the columns later commits
    * added (the parquet reader fills them with null). */
  private[graft] def schemaAsOf(spark: SparkSession, table: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] = {
    val f = fsOf(spark, table)
    // backward scan stops at the newest checkpoint <= version: the
    // checkpoint carries the schema as of ITS version, so no read ever
    // opens a manifest below it (S19)
    val floor = newestCheckpoint(spark, table, version)
    (version to (floor.getOrElse(0) + 1) by -1).iterator
      .flatMap(v => manifestLines(f, table, v).reverseIterator.collect {
        case line if line.startsWith("schema\t") =>
          org.apache.spark.sql.types.DataType.fromJson(line.stripPrefix("schema\t"))
            .asInstanceOf[org.apache.spark.sql.types.StructType]
      })
      .nextOption()
      .orElse(floor.flatMap(c => loadCheckpoint(spark, table, c).schema))
  }

  /** Snapshot read AS OF `version`: scans exactly the manifest's live
    * files under the LOGGED schema as of that version — a column added by
    * a later commit is invisible to earlier versions, and files staged
    * before the column existed read as null under a later version's
    * schema (S12). A parquet file dropped next to a live one (a stray
    * writer, an uncommitted stage) is invisible — TimeTravelSpec proves
    * both. */
  def readAsOf(spark: SparkSession, table: String, version: Int): DataFrame = {
    val st = liveState(spark, table, version)
    scanState(spark, table, st.files, st.dvs, schemaAsOf(spark, table, version))
  }

  /** The DV-aware snapshot scan both [[readAsOf]] and [[readAsOfRange]]
    * build on. Data files group by the SET of deletion vectors that apply
    * to them (dv.version > file's add version — the sequence-number
    * scoping); each group anti-joins its DV keys. The DV side is
    * delete-volume-sized and BROADCAST (compaction absorbs DVs, which is
    * what bounds their accumulation — the S13×S18 contract), so at 100 TB
    * a snapshot read pays one broadcast anti-join per group, never a
    * shuffle of the data. Group count is bounded by the commit count
    * between compactions. A table with no live DVs takes the exact
    * pre-S18 single-scan plan — zero cost when the feature is unused. */
  private[graft] def scanState(spark: SparkSession, table: String,
      files: Seq[LiveFile], dvs: Seq[(String, Int)],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    def rd(paths: Seq[String]): DataFrame = {
      val full = paths.map(r => s"$table/$r")
      schema match {
        case Some(s) => spark.read.schema(s).parquet(full: _*)
        case None => spark.read.parquet(full: _*)
      }
    }
    if (dvs.isEmpty || files.isEmpty) rd(files.map(_.path))
    else {
      files.groupBy(f => dvs.filter(_._2 > f.version).map(_._1)).toSeq
        .map { case (dvPaths, group) =>
          applyDvs(spark, table, rd(group.map(_.path)), dvPaths)
        }
        .reduce(_ unionByName _)
    }
  }

  /** Anti-join `df` against the keys of the given deletion-vector files.
    * Each DV parquet is self-describing: its single column's NAME is the
    * key column it deletes on. DVs sharing a key column union into one
    * broadcast per column. */
  private def applyDvs(spark: SparkSession, table: String, df: DataFrame,
      dvPaths: Seq[String]): DataFrame =
    if (dvPaths.isEmpty) df
    else dvPaths.map(p => spark.read.parquet(s"$table/$p"))
      .groupBy(_.columns.head).toSeq
      .foldLeft(df) { case (acc, (kc, frames)) =>
        val keys = frames.map(_.select(col(kc).as("__dv_key")))
          .reduce(_ union _)
        acc.join(broadcast(keys), col(kc) === col("__dv_key"), "left_anti")
      }

  /** Stage `df` as a fresh file set under `table/rel/` and return the add
    * actions — no reader sees them until the enclosing [[commit]]. */
  private[graft] def stage(spark: SparkSession, table: String, df: DataFrame,
      rel: String): Seq[Action] = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$table/$rel")
    listStaged(spark, table, rel)
  }

  /** Run independent staging tasks CONCURRENTLY on a bounded pool and
    * return their results in input order. Spark's scheduler happily runs
    * several jobs at once inside one application; a multi-commit fixture
    * build is N tiny independent write jobs whose wall is almost entirely
    * per-job floor (task launch + driver planning gaps between actions —
    * Probe trace measures 60-150 ms per staged file set at sf0.1), so
    * submitting them from a small pool overlaps the floors instead of
    * paying them end to end. Correctness is unchanged by construction:
    * staged dirs are DISJOINT and invisible to every reader until the
    * caller's sequential [[commit]]s land — concurrency here reorders no
    * observable event. Parallelism stays small (default 8): enough to
    * hide the scheduling gap, not enough for the tiny jobs to fight for
    * executor slots (the staged writes are one-task jobs over the
    * unsplittable fixture scans, so eight in flight still undercommit a
    * 32-core master; measured: 8 beats 4 on the 10-write relay source
    * build and the 12-commit s19 fixture). A task failure propagates its
    * own exception (the cause, not the pool wrapper), loudly as before,
    * and cancels the tasks still queued — running ones finish, and their
    * staged dirs are invisible orphans either way (vacuum's job). */
  private[graft] def inParallel[T](tasks: Seq[() => T], parallelism: Int = 8): Seq[T] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, tasks.size))
      try {
        val futs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        }))
        futs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futs.foreach(_.cancel(false)) // stop wasting staging work
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** The add actions for every parquet file already staged under
    * `table/rel/` (hidden `_`/`.` entries skipped) — the single listing
    * discipline both [[stage]] and [[stageWithStats]] derive their
    * manifests from. */
  private[graft] def listStaged(spark: SparkSession, table: String,
      rel: String): Seq[Action] =
    fsOf(spark, table).listStatus(new Path(s"$table/$rel")).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(s => Action("add", s"$rel/${s.getPath.getName}"))

  /** Stage `df` clustered by `orderBy` into `files` range-partitioned
    * files and return add actions carrying each file's (min, max) of
    * every column in `statsCols` — the manifest column stats
    * [[readAsOfRange]] prunes by. The range layout (S9's clusteredWrite
    * discipline) is what makes the stats TIGHT: each file covers a
    * disjoint slice of the cluster order, so a range predicate on a
    * clustered dimension keeps O(1) files instead of all of them.
    * `orderBy` defaults to the first stats column; a Z-VALUE expression
    * over several columns (S16, [[Lakehouse.zOrderValue]]) clusters ALL
    * of them at once — each dimension's per-file ranges then tighten
    * together (the multi-dimensional data-skipping layout). The stats
    * pass reads each staged file's parquet FOOTER — metadata-sized work
    * (one footer per file, no Spark job), where a scan+aggregate pass
    * would re-read every just-written row: at 100 TB that second full
    * read of the staged bytes is the difference between a stage costing
    * 1x and 2x its data volume. Footer min/max is exact for the integral
    * types the stage contract admits (parquet's stats-truncation caveats
    * apply only to binary columns). */
  private[graft] def stageWithStats(spark: SparkSession, table: String,
      df: DataFrame, rel: String, statsCols: Seq[String], files: Int,
      orderBy: Option[org.apache.spark.sql.Column] = None): Seq[Action] = {
    // the wire format stores LONG bounds, and a fractional column's
    // cast("long") truncates toward zero — recorded min RAISED, max
    // LOWERED, which lets pruning "prove" disjointness for a file that
    // holds matching rows (silent row loss — the inverted direction of
    // the "stats skip work, never rows" invariant). Integral columns are
    // exact under the cast, so the contract is enforced at stage time
    // instead of discovered as a missing row at read time.
    statsCols.foreach { sc =>
      val dt = df.schema(sc).dataType
      require(isIntegral(dt),
        s"manifest stats need an integral column; '$sc' is ${dt.simpleString} " +
          "— long wire bounds would truncate fractional min/max toward zero " +
          "and prune files that still hold matching rows")
    }
    val dir = s"$table/$rel"
    val ord = orderBy.getOrElse(col(statsCols.head))
    // the cluster key may be a derived expression (z-value): ride it as a
    // temp column so the range partitioner and the in-file sort agree,
    // then drop it before the write (a projection — order-preserving)
    df.withColumn("__cluster", ord)
      .repartitionByRange(files, col("__cluster"))
      .sortWithinPartitions(col("__cluster"))
      .drop("__cluster")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val listed = listStaged(spark, table, rel)
    // an empty stage (e.g. a copy-on-write purge whose survivors and
    // arrivals are both empty) writes no parquet at all — there is
    // nothing to read stats from, and nothing to add
    if (listed.isEmpty) return Nil
    // the add set comes from the LISTING (stage()'s discipline), never
    // from the stats read-back: a file whose footer yields no usable
    // stats still lands in the manifest — with no stats, so it is never
    // pruned (stats can skip work, never rows)
    val conf = spark.sparkContext.hadoopConfiguration
    listed.map(a => a.copy(stats =
      footerStats(conf, new Path(s"$table/${a.path}"), statsCols)))
  }

  /** Per-file (min, max) of each `statsCols` column, read from the
    * parquet FOOTER'S column-chunk statistics — the metadata every
    * parquet writer already records, aggregated across the file's row
    * groups. Exact for the integral physical types (INT32/INT64) the
    * [[stageWithStats]] contract admits. Degrades in the safe direction
    * only: a column chunk with missing/foreign-typed statistics, or a
    * column that is all-null in every row group, yields NO stats for
    * that column — the file is then never pruned. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCols: Seq[String]): Seq[FileStats] = {
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      statsCols.flatMap { sc =>
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var trusted = true // every row group must carry usable stats
        var any = false    // at least one row group had a non-null value
        blocks.foreach { b =>
          // exact-case match first. The case-INSENSITIVE fallback keeps
          // the former Spark-side aggregation's resolver (a miscased
          // caller still gets stats), but only when it is unambiguous:
          // under spark.sql.caseSensitive=true a file can hold `k` and
          // `K` twins, and binding the wrong twin would log a range that
          // prunes files still holding matching rows
          val cols = b.getColumns.asScala
          cols.find(_.getPath.toDotString == sc).orElse {
            val ci = cols.filter(_.getPath.toDotString.equalsIgnoreCase(sc))
            if (ci.size == 1) ci.headOption else None
          } match {
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty) trusted = false
              else if (st.hasNonNullValue) st match {
                case s: LongStatistics =>
                  mn = math.min(mn, s.getMin); mx = math.max(mx, s.getMax); any = true
                case s: IntStatistics =>
                  mn = math.min(mn, s.getMin.toLong); mx = math.max(mx, s.getMax.toLong); any = true
                case _ => trusted = false
              }
            // else: an all-null row group contributes nothing (numNulls
            // set, no min/max) — same as the former agg's null-skip
            case None => trusted = false
          }
        }
        if (trusted && any) Some(FileStats(sc, mn, mx)) else None
      }
    } finally reader.close()
  }

  /** The live files of `version` that can contain rows with `statsCol` in
    * [lo, hi], plus the unpruned live-file count. A file is dropped ONLY
    * when its logged stats prove disjointness; a file without stats (or
    * with stats on a different column) is always kept — pruning can skip
    * work, never rows. */
  private[graft] def prunedLiveFiles(spark: SparkSession, table: String,
      version: Int, statsCol: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val all = liveFilesWithStats(spark, table, version)
    val kept = all.collect {
      case (p, sts) if sts.find(_.col == statsCol)
        .forall(s => s.max >= lo && s.min <= hi) => p
    }
    (kept, all.size)
  }

  /** Snapshot range read: [[readAsOf]] restricted to `statsCol` in
    * [lo, hi], with the file list pruned by manifest stats BEFORE any
    * parquet footer is opened (S15). The predicate is STILL applied to
    * the scan — pruning is a pure optimization, so a wrong logged stat
    * can only surface as a missing file, which the declared query's
    * oracle catches as a row diff, never as a silent extra row. */
  def readAsOfRange(spark: SparkSession, table: String, version: Int,
      statsCol: String, lo: Long, hi: Long): DataFrame = {
    val st = liveState(spark, table, version)
    val kept = st.files.filter(_.stats.find(_.col == statsCol)
      .forall(s => s.max >= lo && s.min <= hi))
    val pred = col(statsCol) >= lo && col(statsCol) <= hi
    val schema = schemaAsOf(spark, table, version)
    if (kept.isEmpty) {
      val s = schema.getOrElse(throw new IllegalStateException(
        s"every file pruned and no logged schema for $table@v$version"))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
    }
    scanState(spark, table, kept, st.dvs, schema).filter(pred)
  }

  /** The s11 fixture: three commits over the events slice, one file set
    * per event_type per commit so the v3 rewrite can retire a partition's
    * files wholesale (the file-level MERGE every table format performs).
    *  - v1: initial snapshot — events with event_id % 4 != 3;
    *  - v2: append — the % 4 == 3 remainder;
    *  - v3: rewrite of the `click` partition — every live click file
    *    removed, one rewritten set added holding only clicks with
    *    value >= 100 (a MERGE-delete expressed as add+remove, the swap
    *    s10 performs with renames made transactional).
    * Returns the click files the rewrite retired (still on disk — older
    * versions must keep reading them). */
  private[graft] def buildFixture(spark: SparkSession, sfDir: String,
      table: String): Seq[String] =
    buildFixtureWith(spark, sfDir, table, Nil)._1

  /** [[buildFixture]] plus caller-supplied extra file sets (relpath → df)
    * staged CONCURRENTLY with the fixture's nine — staged dirs are
    * invisible until the caller commits their returned add actions, so a
    * follow-on commit's write job overlaps the fixture pool instead of
    * paying its own job-floor round afterwards (the s14 v4 backfill).
    * Returns (retired click files, extra add-action lists in input
    * order). */
  private[graft] def buildFixtureWith(spark: SparkSession, sfDir: String,
      table: String, extra: Seq[(String, DataFrame)]): (Seq[String], Seq[Seq[Action]]) = {
    import spark.implicits._
    val f = fsOf(spark, table)
    f.delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // bounded-domain driver collect (the s10Fragment convention): the
    // type enum names the per-commit file sets
    val types = ev.select($"event_type").distinct()
      .orderBy($"event_type").as[String].collect().toSeq
    // ALL NINE file sets (plus any caller extras) stage concurrently
    // ([[inParallel]]): the staged dirs are disjoint and unreachable until
    // the three ordered commits below publish them, so the only sequential
    // steps left are the manifest renames — previously nine tiny write
    // jobs of per-job floor ran end to end and dominated every
    // fixture-built declared row
    def typedTasks(df: DataFrame, v: Int): Seq[() => Seq[Action]] =
      types.map(t => () => stage(spark, table,
        df.filter($"event_type" === t), s"data/v$v/$t"))
    val staged = inParallel(
      typedTasks(ev.filter($"event_id" % 4 =!= 3), 1) ++
        typedTasks(ev.filter($"event_id" % 4 === 3), 2) ++
        Seq(() => stage(spark, table,
          ev.filter($"event_type" === "click" && $"value" >= 100.0), "data/v3/click")) ++
        extra.map { case (rel, df) => () => stage(spark, table, df, rel) })
    // the initial commit records the schema: readers never trust footers
    commit(spark, table,
      Action("schema", ev.schema.json) +: staged.take(types.size).flatten)
    commit(spark, table, staged.slice(types.size, 2 * types.size).flatten)
    val retired = liveFiles(spark, table, 2).filter(_.contains("/click/"))
    commit(spark, table, retired.map(Action("remove", _)) ++ staged(2 * types.size))
    (retired, staged.drop(2 * types.size + 1))
  }

  /** Every version's snapshot rolled to (version, n_rows, id_sum) — the
    * whole-history audit both declared queries end in. */
  private def versionsFrame(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    (1 to currentVersion(spark, table))
      .map { v =>
        readAsOf(spark, table, v)
          .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"))
          .select(lit(v.toLong).as("version"), $"n_rows", $"id_sum")
      }
      .reduce(_ unionByName _)
      .orderBy($"version")
  }

  /** S11 [EXT]: time-travel read over the commit log — build the
    * three-commit fixture, then read the table AS OF every version in its
    * history and roll each snapshot up to (version, n_rows, id_sum). The
    * oracle recomputes each version's row set from the deterministic
    * commit rules on the source table, so a manifest replay bug (a missed
    * remove, a stray file, torn isolation between versions) shows up as a
    * row/hash mismatch. */
  def s11TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s11_table"
    buildFixture(spark, sfDir, table)
    versionsFrame(spark, table)
  }

  /** Fingerprint of the events source (file sizes+mtimes) — the warm
    * fixture's invalidation key, AnnIndex.sourceFingerprint's recipe. */
  private[graft] def eventsFp(sfDir: String): String = {
    val src = new java.io.File(s"$sfDir/events.parquet")
    if (src.isFile) s"${src.getName}=${src.length}:${src.lastModified}"
    else
      Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .sortBy(_.getName)
        .map(f => s"${f.getName}=${f.length}:${f.lastModified}")
        .mkString(";")
  }

  private val warmLock = new Object

  /** Warm-fixture ensure: [[buildFixture]] plus a persisted v2 MV state,
    * paid once per source generation and stamped — the AnnIndex/
    * ensureCodebook idiom applied to the table log (r12 verdict item 5:
    * the shipped s11/mv1 rows price the ten-file-set fixture BUILD
    * against a one-GROUP-BY oracle; no deployment re-pays the build per
    * read, so the warm queries below are the production-path numbers). */
  private[graft] def ensureWarmFixture(spark: SparkSession, sfDir: String): String =
    warmLock.synchronized {
      val table = s"${Etl.scratch(spark)}/s11_warm_table"
      val fp = eventsFp(sfDir)
      val marker = java.nio.file.Paths.get(s"$table/_GRAFT_SOURCE")
      val statePath = java.nio.file.Paths.get(s"$table/mv_state_v2")
      val fresh = java.nio.file.Files.isRegularFile(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fp &&
        currentVersion(spark, table) == 3 &&
        java.nio.file.Files.isDirectory(statePath)
      if (!fresh) {
        buildFixture(spark, sfDir, table)
        // the stored view state as of v2: what a deployment has on disk
        // when commit v3 lands and the refresh runs
        Tables.sink(s"$table/mv_state_v2") {
          mvMerge(mvSlice(spark, table, Seq.empty, 1L), mvDelta(spark, table, 0, 2))
            .write.mode(SaveMode.Overwrite).parquet(s"$table/mv_state_v2")
        }
        java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
      }
      table
    }

  /** S11 warm path [EXT]: the production-shape time-travel read — the
    * log already exists ([[ensureWarmFixture]], outside the recurring
    * cost after the first run), the query is ONE `readAsOf` snapshot
    * rollup. The oracle has no log: DuckDB recomputes the v3 snapshot
    * from the commit rules with a full-table scan — exactly the
    * comparison the "as-of read costs manifest replay + pruned scan, not
    * history replay" claim needs a number for. */
  /** Serving-loop width (r14 verdict item 5): the warm rows price an
    * N-read serving deployment INSIDE one declared query — N distinct
    * read legs in one plan, so the per-query job floor amortizes over N
    * and the ledger row prices the steady state instead of a cold
    * session. The oracle replays the same recompute N times (UNION ALL
    * of N literal-tagged SELECTs), so DuckDB pays N real recomputes —
    * the comparison a dashboard ticking N times actually faces. */
  val WARM_READS = 8

  def s11WarmRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = ensureWarmFixture(spark, sfDir)
    // the read_i literal sits BELOW each leg's aggregate on purpose: it
    // makes the N subtrees non-identical, so AQE exchange reuse cannot
    // collapse the N reads into one — every leg really scans the
    // snapshot, as N independent serving requests would
    (1 to WARM_READS).map { i =>
      readAsOf(spark, table, 3)
        .withColumn("read_i", lit(i))
        .groupBy($"read_i")
        .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"))
    }.reduce(_.unionAll(_))
  }

  /** MV1 warm path [EXT]: one O(batch) refresh — the persisted v2 view
    * state merges the (2,3] window's delta (the rewrite commit: click
    * files out, filtered click files in; the delta scan touches ONLY
    * those files, pinned in TimeTravelSpec for the cold form). The
    * oracle recomputes the refreshed view with a full GROUP BY over the
    * v3 snapshot — the full-recompute a dashboard without IVM pays on
    * every tick. */
  def mv1WarmRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = ensureWarmFixture(spark, sfDir)
    // N refresh legs in one plan ([[WARM_READS]] doc): each leg reads the
    // stored state and the (2,3] window's add/remove files SEPARATELY
    // (refresh_i below the aggregate — 3 real scans per leg, nothing
    // exchange-reuse'd away), contributions normalized to SIGNED rows
    // (state rows carry their aggregates, added rows +1/+event_id,
    // removed rows −1/−event_id — the same abelian merge mvSlice+mvMerge
    // compute, associativity makes one global sum ≡ per-leg sums), then
    // ONE (refresh_i, event_type) aggregate merges all legs. Every leg's
    // merge work still happens — 8x the rows ride the hash table — but
    // the 8x2 per-leg slice exchanges collapse to one, which is how a
    // real scheduler batches N concurrent refresh ticks.
    val (adds, removes) = actionsIn(spark, table, 2, 3)
    // window files read under the LOGGED snapshot schema (the readAsOf
    // discipline) — inferring from the first file's footer and projecting
    // the rest through it would silently drop columns an evolved file
    // carries (r16 advice: the log's own v4 column-tagging scenario).
    // Footer inference is only the fallback for a log predating schema
    // tracking, and then once per call, not once per leg.
    val windowSchema = schemaAsOf(spark, table, 3)
      .getOrElse(Tables.readMemo(spark, s"$table/${adds.head}").schema)
    def readFiles(files: Seq[String]): DataFrame =
      spark.read.schema(windowSchema).parquet(files.map(r => s"$table/$r"): _*)
    def contrib(i: Int, files: Seq[String], sign: Long): DataFrame =
      if (files.isEmpty)
        spark.emptyDataset[(Int, String, Long, Long)]
          .toDF("refresh_i", "event_type", "nc", "ic")
      else
        readFiles(files)
          .select(lit(i).as("refresh_i"), $"event_type",
            lit(sign).as("nc"), (lit(sign) * $"event_id").as("ic"))
    (1 to WARM_READS).map { i =>
      Tables.readMemo(spark, s"$table/mv_state_v2")
        .select(lit(i).as("refresh_i"), $"event_type",
          $"n_rows".as("nc"), $"id_sum".as("ic"))
        .unionByName(contrib(i, adds, 1L))
        .unionByName(contrib(i, removes, -1L))
    }.reduce(_.unionByName(_))
      .groupBy($"refresh_i", $"event_type")
      .agg(sum($"nc").as("n_rows"), sum($"ic").as("id_sum"))
      .filter($"n_rows" > 0)
  }

  /** Deletion-vector paths committed at exactly version `v` (S18). */
  private[graft] def dvsAt(spark: SparkSession, table: String,
      v: Int): Seq[String] =
    manifestLines(fsOf(spark, table), table, v).flatMap(parseAction).collect {
      case Action("dv", p, _) => p
    }

  /** ONE manifest's parsed file actions plus its schema action (if any) —
    * the unit a caller threading its own replay across a window consumes
    * ([[graft.operators.Lakehouse.cdfRead]]: one pass over the log instead
    * of a fresh prefix replay per slice). */
  private[graft] def manifestEntries(spark: SparkSession, table: String,
      v: Int): (Seq[Action], Option[org.apache.spark.sql.types.StructType]) = {
    val lines = manifestLines(fsOf(spark, table), table, v)
    val schema = lines.reverseIterator.collectFirst {
      case l if l.startsWith("schema\t") =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("schema\t"))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    (lines.flatMap(parseAction), schema)
  }

  /** DATA-file actions across manifests (from, to]: (added, removed),
    * each a list of table-relative paths. A file added and removed INSIDE
    * the window appears in both — its +agg and −agg cancel exactly in the
    * abelian merge, so no dedup pass is needed. Deletion-vector files are
    * excluded from BOTH lists: a window that retires a DV (compaction
    * absorbing it — S18×S13) must not hand the key file to a reader as
    * removed-row pre-images, which would fabricate null-filled phantom
    * deltas. The dv-path set seeds from the DVs live at `from`
    * (checkpoint-bounded), so the call is O(commits since checkpoint +
    * window), never O(table lifetime). */
  private[graft] def actionsIn(spark: SparkSession, table: String,
      from: Int, to: Int): (Seq[String], Seq[String]) = {
    val f = fsOf(spark, table)
    // seeded from the DVs LIVE at `from` (checkpoint-bounded via
    // liveState — a DV added AND removed before the window can never be
    // removed again inside it), so this stays O(commits since checkpoint
    // + window), never O(table lifetime), and survives pre-checkpoint
    // manifest loss like every other checkpointed read
    val dvEver = scala.collection.mutable.HashSet.empty[String]
    liveState(spark, table, from).dvs.foreach(dvEver += _._1)
    val adds = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    ((from + 1) to to).foreach { v =>
      manifestLines(f, table, v).foreach { line =>
        parseAction(line) match {
          case Some(Action("add", p, _)) => adds += p
          case Some(Action("dv", p, _)) => dvEver += p
          case Some(Action("remove", p, _)) => if (!dvEver(p)) removes += p
          case _ => ()
        }
      }
    }
    (adds.result(), removes.result())
  }

  /** The MV's per-file-set aggregate: (event_type, n_rows, id_sum) with
    * every term SIGNED so removed files subtract. Empty file sets yield
    * an empty frame of the same schema. */
  private[graft] def mvSlice(spark: SparkSession, table: String,
      files: Seq[String], sign: Long): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      spark.emptyDataset[(String, Long, Long)]
        .toDF("event_type", "n_rows", "id_sum")
    else
      spark.read.parquet(files.map(r => s"$table/$r"): _*)
        .groupBy($"event_type")
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum($"event_id") * sign).as("id_sum"))
  }

  /** MV1 [EXT]: incremental materialized-view maintenance over the log —
    * the delta-refresh a 100 TB dashboard needs: the view's aggregate is
    * ABELIAN (counts and sums merge by addition), so a refresh from
    * version v0 to v1 reads ONLY the files the window's commits touched:
    * +agg(added files) − agg(removed files), merged into the stored
    * state. A daily commit touching 0.01% of the table refreshes the
    * view at 0.01% of the full-scan cost — the log's add/remove actions
    * are exactly the delta an IVM engine otherwise reconstructs from
    * change capture. Removed files are still on disk until [[vacuum]]
    * (whose retention must cover the oldest unrefreshed view — the
    * documented coupling). Returns the refreshed state for [from, to]. */
  private[graft] def mvDelta(spark: SparkSession, table: String,
      from: Int, to: Int): DataFrame = {
    // a deletion-vector commit (S18) deletes rows WITHOUT an add/remove
    // action, so it is invisible to this file-level delta — folding a
    // window that contains one would silently serve a STALE view (the
    // deleted rows never subtract). And DVs LIVE at `from` break the fold
    // too, even with no dv action inside the window: the stored state was
    // computed DV-aware, but this delta reads window files RAW — an
    // absorbing compaction's removes would subtract the DV-hidden rows a
    // SECOND time (the state never contained them). Non-abelian either
    // way → refuse loudly and point at the CDF-driven refresh, which sees
    // DV deletes as first-class rows and reads pre-images DV-aware.
    val dvCommits = ((from + 1) to to)
      .filter(v => dvsAt(spark, table, v).nonEmpty)
    val dvLiveAtFrom = liveState(spark, table, from).dvs.map(_._1)
    require(dvCommits.isEmpty && dvLiveAtFrom.isEmpty,
      s"mvDelta window ($from, $to] is not abelian-foldable: " +
        (if (dvCommits.nonEmpty)
          s"deletion-vector commit(s) v${dvCommits.mkString(", v")} inside " +
            "the window have no add/remove action"
        else
          s"deletion vector(s) live at v$from (e.g. ${dvLiveAtFrom.head}) " +
            "mean the stored state is DV-aware while this delta reads " +
            "window files raw") +
        " — refresh via the change feed (Lakehouse.mv2Refresh / cdfRead) " +
        "or recompute the view")
    val (adds, removes) = actionsIn(spark, table, from, to)
    mvSlice(spark, table, adds, 1L)
      .unionByName(mvSlice(spark, table, removes, -1L))
  }

  /** One refresh step: fold the (from, to] delta into `state`, dropping
    * groups whose membership went to zero. Both inputs are
    * group-cardinality frames — the merge never touches the table. */
  private[graft] def mvMerge(state: DataFrame, delta: DataFrame): DataFrame = {
    import state.sparkSession.implicits._
    state.unionByName(delta)
      .groupBy($"event_type")
      .agg(sum($"n_rows").as("n_rows"), sum($"id_sum").as("id_sum"))
      .filter($"n_rows" > 0)
  }

  /** MV1 [EXT]: declared query — build the s11 history, then maintain the
    * per-type (n_rows, id_sum) view through THREE incremental refreshes
    * (v0→1, 1→2, 2→3: the cold start is just the first window), never
    * scanning the whole table after a commit. The final state must equal
    * the direct aggregate over the v3 snapshot — the oracle replays that;
    * TimeTravelSpec additionally pins that each delta's scan touches ONLY
    * the window's files. */
  def mv1IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/mv1_table"
    buildFixture(spark, sfDir, table)
    (1 to currentVersion(spark, table))
      .foldLeft(mvSlice(spark, table, Seq.empty, 1L)) { (state, v) =>
        mvMerge(state, mvDelta(spark, table, v - 1, v))
      }
      .orderBy($"event_type")
  }

  /** S12 [EXT]: schema evolution on the log — the fourth commit the s11
    * fixture grows: a BACKFILL rewrite of the `error` partition that adds
    * a `source_tag` column. The new schema publishes as a `schema` action
    * in the same atomic commit as the file swap, so the column and the
    * data carrying it appear together: reads as of v1–v3 still present
    * the ORIGINAL schema (the added column is invisible retroactively),
    * and under the v4 schema every pre-v4 file null-fills the column —
    * no file is ever rewritten for schema's sake, the 100 TB point of
    * log-tracked schemas. Returns the v4 version number. */
  /** The evolved (column-adding) backfill frame — shared by
    * [[evolveFixture]] and the s12 staging hoist. */
  private[graft] def evolvedTagged(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .filter($"event_type" === "error")
      .withColumn("source_tag",
        concat($"event_type", lit("-"), pmod($"user_id", lit(3L)).cast("string")))
  }

  /** `staged`: pre-staged add actions for the backfill file set (the
    * buildFixtureWith hoist) — None stages here, the standalone form. */
  private[graft] def evolveFixture(spark: SparkSession, sfDir: String,
      table: String, staged: Option[Seq[Action]] = None): Int = {
    val retired = liveFiles(spark, table, currentVersion(spark, table))
      .filter(_.contains("/error/"))
    val tagged = evolvedTagged(spark, sfDir)
    val adds = staged.getOrElse(stage(spark, table, tagged, "data/v4/error"))
    commit(spark, table,
      Action("schema", tagged.schema.json) +:
        (retired.map(Action("remove", _)) ++ adds))
  }

  /** S12 [EXT]: declared query — build the s11 history, evolve it with
    * the column-adding backfill commit, then audit every version:
    * (version, n_rows, n_tagged). Versions 1–3 must report ZERO tagged
    * rows (the column does not exist yet under their logged schema) and
    * identical row counts to s11's pre-evolution reads; v4 keeps v3's row
    * set (the backfill is the identity on rows) with exactly the error
    * rows tagged. The oracle replays all four from the commit rules. */
  def s12SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s12_table"
    // the evolution backfill's file set rides the fixture pool (the s14
    // v4 hoist); the v4 commit still derives its remove set and schema
    // action at commit time
    val (_, extraAdds) = buildFixtureWith(spark, sfDir, table,
      Seq("data/v4/error" -> evolvedTagged(spark, sfDir)))
    evolveFixture(spark, sfDir, table, staged = Some(extraAdds.head))
    (1 to currentVersion(spark, table))
      .map { v =>
        val df = readAsOf(spark, table, v)
        val tagged =
          if (df.columns.contains("source_tag")) count($"source_tag")
          else lit(0L)
        df.agg(count(lit(1)).as("n_rows"), tagged.cast("long").as("n_tagged"))
          .select(lit(v.toLong).as("version"), $"n_rows", $"n_tagged")
      }
      .reduce(_ unionByName _)
      .orderBy($"version")
  }

  /** S12b [EXT]: column DROP — the other direction of schema evolution.
    * One manifest commit carrying the current logged schema MINUS
    * `name`: purely logical and O(1) — no file is read or rewritten, the
    * logged-schema read rule projects the column away from this version
    * on, and time travel below the drop still presents it. The payload
    * BYTES stay in the data files until those files retire naturally
    * (compaction, copy-on-write) — GDPR-grade physical erasure is
    * [[graft.operators.Lakehouse.morDelete]]/cdfApply territory, not a
    * schema commit.
    *
    * Two guards: a column a LIVE deletion vector deletes on cannot drop
    * (every subsequent read's DV anti-join would fail to resolve the key
    * — run OPTIMIZE first to absorb the DV), and the last column cannot
    * drop. DOCUMENTED HAZARD: re-adding a dropped NAME in a later schema
    * commit RESURFACES the old values wherever their files still live,
    * because this log maps columns BY NAME — the production fix is
    * column mapping (stable column IDs, Delta's columnMapping / Iceberg
    * field-ids), which is exactly the feature the S21 gate exists to
    * declare if a future writer adds it. TimeTravelSpec pins the drop,
    * the guards, and the resurface hazard itself. */
  def dropColumn(spark: SparkSession, table: String, name: String): Int = {
    val cur = currentVersion(spark, table)
    require(cur > 0, s"dropColumn on an empty table: $table")
    val sch = schemaAsOf(spark, table, cur).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn needs a logged schema for $table — commit one at v1"))
    require(sch.fieldNames.contains(name),
      s"dropColumn: '$name' is not in the schema (${sch.fieldNames.mkString(", ")})")
    require(sch.fields.length > 1, s"dropColumn: cannot drop the last column")
    liveState(spark, table, cur).dvs.foreach { case (p, _) =>
      val kc = spark.read.parquet(s"$table/$p").columns.head
      require(kc != name,
        s"dropColumn: live deletion vector $p deletes on '$name' — every " +
          "read's DV anti-join would fail; OPTIMIZE first to absorb it")
    }
    commit(spark, table, Seq(Action("schema",
      org.apache.spark.sql.types.StructType(
        sch.fields.filterNot(_.name == name)).json)))
  }

  /** R16 [EXT]: streaming view refresh — the composition the S11/R15/MV1
    * trio exists for: a micro-batch stream lands as atomic txn-marked
    * commits (R15) and a downstream aggregate view refreshes from each
    * commit's DELTA (MV1) instead of rescanning the table — the live
    * dashboard a 100 TB ingest feeds at per-batch cost. Declared batch
    * form replays r15's four mod-4 micro-batches (including the
    * worst-case re-delivery, which the commit gate rejects — no version
    * appears, so nothing folds) and emits the view AS OF every version — per-type
    * (n_rows, id_sum) — so the oracle's cumulative replay fails if any
    * refresh missed a file, double-counted the re-delivery, or tore a
    * batch. Each folded state checkpoints (a |types|-row frame) so
    * version v's state feeds both the output union and the v+1 fold
    * without re-deriving the whole delta chain. */
  def r16StreamViewRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/r16_table"
    fsOf(spark, table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // folded-state checkpoint LADDER (the BPE_CHECKPOINT_EVERY idiom,
    // r18): each version's view folds the ≤K pending window deltas onto
    // the last checkpointed state lazily — version v's output union
    // branch and the v+1 fold then re-derive at most K tiny delta
    // slices (LINEAR, each branch built from ckState, never from the
    // previous lazy state — reusing state_{v-1} twice per version is
    // the exponential-inline trap) instead of paying one |types|-row
    // checkpoint JOB per version (4 job walls of pure floor here).
    // Every K folds the state materializes once, which keeps a
    // long-lived refresher's plan depth and per-tick cost O(K) — the
    // same bounded-depth contract the per-version checkpoint gave, at
    // 1/K the materialization jobs.
    val every = math.max(1, confInt(spark, "spark.graft.mv.checkpointEvery", "8"))
    var ckState = mvSlice(spark, table, Seq.empty, 1L)
    var pending: Seq[DataFrame] = Nil
    val views = (0 until 4).map { b =>
      commitBatch(table, "r16")(ev.filter($"event_id" % 4 === b), b.toLong)
      if (b == 1) {
        val again = stage(spark, table,
          ev.filter($"event_id" % 4 === 1), "data/r16/b1-redelivery")
        require(commitIfAbsent(spark, table, "r16", 1L, again) == -1,
          "re-delivered batch must not commit twice")
      }
      val v = currentVersion(spark, table)
      pending :+= mvDelta(spark, table, v - 1, v)
      if (pending.size >= every) {
        ckState = pending.foldLeft(ckState)(mvMerge).localCheckpoint()
        pending = Nil
      }
      pending.foldLeft(ckState)(mvMerge)
        .select(lit(v.toLong).as("version"), $"event_type", $"n_rows", $"id_sum")
    }
    views.reduce(_ unionByName _).orderBy($"version", $"event_type")
  }

  /** The exactly-once micro-batch sink: stage the batch under an
    * attempt-unique dir, then publish behind the `(streamId, batchId)`
    * txn marker. The pre-check skips a KNOWN re-delivery without
    * re-staging; the gate inside [[commitIfAbsent]] is the guarantee —
    * a writer that re-stages anyway leaves orphans (vacuum's job) but
    * never commits twice. This is the `foreachBatch` body a Structured
    * Streaming ingest runs against the table log (TimeTravelSpec drives
    * it from a real MemoryStream). */
  private[graft] def commitBatch(table: String, streamId: String)(
      df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    // conf parsed BEFORE any commit: a malformed value must fail the
    // batch cleanly, not commit-then-crash (which would crash-loop the
    // restarted stream one successfully-committed batch at a time)
    val every = confInt(spark, "spark.graft.log.checkpointInterval", "0")
    if (!alreadyCommitted(spark, table, streamId, batchId)) {
      val rel = s"data/$streamId/b$batchId-${java.util.UUID.randomUUID}"
      // a table BORN from the stream logs its schema on the first commit
      // (every other writer's discipline): without it the landed table is
      // not CDF-readable — a bronze→silver relay (R17) has no logged
      // schema to slice under. Racing first writers may both prepend it;
      // a redundant identical schema action is harmless on replay.
      val schemaActs: Seq[Action] =
        if (currentVersion(spark, table) == 0)
          Seq(Action("schema", df.schema.json))
        else Nil
      val v = commitIfAbsent(spark, table, streamId, batchId,
        schemaActs ++ stage(spark, table, df, rel))
      // conf-gated auto-checkpoint (R15×S19): a long-lived micro-batch
      // ingest is exactly the writer whose chain grows without bound and
      // whose own exactly-once probe pays the replay on every batch —
      // checkpoint every N commits so both stay O(N). A lost checkpoint
      // race (or a competing writer having advanced the head) is
      // harmless: checkpointLog is idempotent at whatever version it
      // lands on.
      if (every > 0 && v > 0 && v % every == 0) checkpointLog(spark, table)
    }
  }

  /** R15 [EXT]: streaming ingest INTO the table log — the lakehouse
    * landing pattern: each micro-batch publishes as ONE atomic commit
    * with a `(streamId, batchId)` txn marker, so readers always see
    * whole batches (no torn micro-batch) and a re-delivered batch after
    * a writer restart commits exactly once. Declared batch form replays
    * the event feed as four deterministic micro-batches (event_id mod 4
    * — the l2g/u3 synthetic-feed convention), RE-DELIVERS batch 1 with a
    * freshly staged file set (which must no-op at the commit gate), and
    * returns every version's (n_rows, id_sum) — the oracle's cumulative
    * replay fails if the duplicate lands or a batch tears. */
  def r15StreamTableCommit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/r15_table"
    fsOf(spark, table).delete(new Path(table), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    (0 until 4).foreach { b =>
      commitBatch(table, "r15")(ev.filter($"event_id" % 4 === b), b.toLong)
      if (b == 1) {
        // the re-delivered batch, worst case: the restarted writer does
        // NOT know (no pre-check), fully re-stages the batch, and must be
        // stopped at the commit gate — its files stay orphaned (vacuum's
        // job), the table never sees them
        val again = stage(spark, table,
          ev.filter($"event_id" % 4 === 1), "data/r15/b1-redelivery")
        require(commitIfAbsent(spark, table, "r15", 1L, again) == -1,
          "re-delivered batch must not commit twice")
      }
    }
    versionsFrame(spark, table)
  }
}
