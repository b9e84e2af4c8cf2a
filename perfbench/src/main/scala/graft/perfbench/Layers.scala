package graft.perfbench

import Main.PassRec
import Stats.Span

/** Per-layer metrics of a traced run. Totals are per traced pass; the
  * `tablelog.*_ms` call latencies are medians per call; the lake latency
  * percentiles come from the same run's untraced passes. A layer a
  * workload never calls reads 0. */
object Layers {

  /** Span-name prefix of each layer timing (spans are named
    * `<layer>.<call>`, see the workloads). */
  private def total(spans: Seq[Span], pred: String => Boolean): Double =
    spans.filter(s => pred(s.name)).map(_.dur).sum

  private def medianMs(spans: Seq[Span], name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.dur)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def perLayer(recs: Seq[PassRec], extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val tr = recs.filter(_.traced)
    val plain = recs.filterNot(_.traced)
    val n = tr.size.toDouble
    val snap = Trace.snapshot()
    val spans = snap.spans
    val accs = snap.accs.values.toSeq
    def sumAcc(f: Trace.Acc => Long): Double = accs.map(f).sum.toDouble
    def counter(k: String): Double = tr.map(_.out.counters.getOrElse(k, 0.0)).sum
    def written(kind: String): (Double, Double) = {
      val w = tr.flatMap(_.written.get(kind))
      (w.map(_._1).sum.toDouble, w.map(_._2).sum.toDouble)
    }
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def samples(k: String): Seq[Double] = plain.flatMap(_.out.samples.getOrElse(k, Nil))
    def pct(k: String, p: Double): Double = {
      val xs = samples(k)
      if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    }
    val gapMs = tr.map { r =>
      Stats.driverGap(r.start, r.end, snap.jobs.filter(j => j.end >= 0)
        .map(j => (j.start.toDouble, j.end.toDouble)))
    }.sum
    val runS = sumAcc(_.runMs) / 1000
    val cpuS = sumAcc(_.cpuNs) / 1e9
    val self = Stats.selfTimes(spans)
    val passSelf = spans.filter(_.name == "pass").map(s => self(s.id)).sum
    val (tableFiles, tableBytes) = written("table")
    val (sinkFiles, sinkBytes) = written("sink")
    val trWall = Stats.median(tr.map(_.wallMs)) / 1000
    val plainWall = Stats.median(plain.map(_.wallMs)) / 1000
    Seq(
      ("sources.requests", counter("sources.requests") / n, "count"),
      ("sources.retries", counter("sources.retries") / n, "count"),
      ("sources.useful_ratio", ratio(counter("sources.distinct"), counter("sources.requests")), "ratio"),
      ("sources.extract_s", total(spans, _.startsWith("sources.")) / 1000 / n, "s"),
      ("sources.server_s", counter("sources.server_ms") / 1000 / n, "s"),
      ("driver.analysis_ms", snap.queries.map(_.analysisMs).sum / n, "ms"),
      ("driver.optimize_ms", snap.queries.map(_.optimizeMs).sum / n, "ms"),
      ("driver.physical_ms", snap.queries.map(_.physicalMs).sum / n, "ms"),
      ("driver.queries", snap.queries.size / n, "count"),
      ("driver.gap_s", gapMs / 1000 / n, "s"),
      ("sched.jobs", sumAcc(_.jobs) / n, "count"),
      ("sched.stages", sumAcc(_.stages) / n, "count"),
      ("sched.tasks", sumAcc(_.tasks) / n, "count"),
      ("exec.run_s", runS / n, "s"),
      ("exec.cpu_s", cpuS / n, "s"),
      ("exec.cpu_ratio", ratio(cpuS, runS), "ratio"),
      ("exec.gc_s", sumAcc(_.gcMs) / 1000 / n, "s"),
      ("shuffle.write_bytes", sumAcc(_.shuffleWrite) / n, "bytes"),
      ("shuffle.read_bytes", sumAcc(_.shuffleRead) / n, "bytes"),
      ("spill.bytes", sumAcc(_.spill) / n, "bytes"),
      ("exchange.bytes", snap.queries.map(_.exchangeBytes).sum / n, "bytes"),
      ("scan.count", snap.queries.map(_.scans).sum / n, "count"),
      ("operators.transform_s",
        total(spans, s => s.startsWith("operators.") && s != "operators.sink") / 1000 / n, "s"),
      ("operators.sink_s", total(spans, _ == "operators.sink") / 1000 / n, "s"),
      ("operators.sink_files", sinkFiles / n, "count"),
      ("operators.sink_bytes", sinkBytes / n, "bytes"),
      ("llm.dedup_s", total(spans, _.startsWith("llm.dedup.")) / 1000 / n, "s"),
      ("llm.text_s", total(spans, _.startsWith("llm.text.")) / 1000 / n, "s"),
      ("llm.ann_s", total(spans, _.startsWith("llm.ann.")) / 1000 / n, "s"),
      ("llm.lsh_candidates", counter("llm.lsh_candidates") / n, "count"),
      ("llm.lsh_useful_ratio", ratio(counter("llm.lsh_useful"), counter("llm.lsh_candidates")), "ratio"),
      ("tablelog.stage_ms", medianMs(spans, "tablelog.stage"), "ms"),
      ("tablelog.publish_ms", medianMs(spans, "tablelog.publish"), "ms"),
      ("tablelog.merge_ms", medianMs(spans, "tablelog.merge"), "ms"),
      ("tablelog.delete_ms", medianMs(spans, "tablelog.delete"), "ms"),
      ("tablelog.replay_ms", medianMs(spans, "tablelog.replay"), "ms"),
      ("tablelog.relay_tick_ms", medianMs(spans, "tablelog.relay"), "ms"),
      ("tablelog.checkpoint_ms", medianMs(spans, "tablelog.checkpoint"), "ms"),
      ("tablelog.compaction_s", total(spans, _ == "tablelog.compact") / 1000 / n, "s"),
      ("tablelog.vacuum_s", extra.getOrElse("tablelog.vacuum_s", 0.0), "s"),
      ("tablelog.log_files", extra.getOrElse("tablelog.log_files", 0.0), "count"),
      ("tablelog.files_written", tableFiles / n, "count"),
      ("tablelog.bytes_written", tableBytes / n, "bytes"),
      ("commit_p50_ms", pct("commit", 50), "ms"),
      ("commit_p90_ms", pct("commit", 90), "ms"),
      ("read_p50_ms", pct("read", 50), "ms"),
      ("read_p90_ms", pct("read", 90), "ms"),
      ("replica_lag_p50_ms", pct("replica_lag", 50), "ms"),
      ("space_amp", extra.getOrElse("space_amp", 0.0), "ratio"),
      ("peak_rss_mb", Main.peakRssMb, "MB"),
      ("trace.wall_s", trWall, "s"),
      ("trace.overhead_s", trWall - plainWall, "s"),
      ("trace.unaccounted_s", passSelf / 1000 / n, "s"))
  }

  /** The per-span breakdown of the traced passes, written beside the
    * result line: per span name, calls, total and self time, and the Spark
    * work charged to it. */
  def writeReport(path: String, workload: String, seed: Long, recs: Seq[PassRec]): Unit = {
    val snap = Trace.snapshot()
    val self = Stats.selfTimes(snap.spans)
    val rows = snap.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.dur).sum).map { case (name, ss) =>
      val a = ss.flatMap(s => snap.accs.get(s.id))
      def sum(f: Trace.Acc => Long): Long = a.map(f).sum
      Map[String, Any]("span" -> name, "calls" -> ss.size.toLong,
        "total_ms" -> ss.map(_.dur).sum, "self_ms" -> ss.map(s => self(s.id)).sum,
        "jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
        "cpu_s" -> sum(_.cpuNs) / 1e9, "run_s" -> sum(_.runMs) / 1000.0,
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "shuffle_read_bytes" -> sum(_.shuffleRead))
    }
    val doc = Json.obj(Seq(
      "run_id" -> Trace.runId, "workload" -> workload, "seed" -> seed,
      "traced_pass_walls_s" -> recs.filter(_.traced).map(_.wallMs / 1000),
      "untraced_pass_walls_s" -> recs.filterNot(_.traced).map(_.wallMs / 1000),
      "latency_ms" -> recs.filterNot(_.traced).flatMap(_.out.samples.toSeq)
        .groupMapReduce(_._1)(_._2)(_ ++ _).collect { case (k, xs) if xs.nonEmpty =>
          // p90 only where ten samples lie beyond it
          k -> Map[String, Any]("n" -> xs.size.toLong, "p50" -> Stats.median(xs),
            "p90" -> Stats.tailPercentile(xs, 90).getOrElse("too few samples"))
        },
      "spans" -> rows))
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (doc + "\n").getBytes("UTF-8"))
    println(s"trace report: $path")
  }
}
