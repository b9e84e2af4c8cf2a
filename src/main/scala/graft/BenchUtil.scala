package graft

/** Shared bits of the Bench/BenchHeavy sweep harnesses. */
object BenchUtil {

  /** Force FULL evaluation for timing: drain the compiled plan's own
    * row iterator — every operator runs and every output row is
    * produced by whole-stage codegen, exactly the plan `explain` shows.
    *
    * History of this method, because the forcing IS the methodology:
    * `.count()` (rounds 1-9) let Catalyst optimize the plan ABOVE the
    * count — a cardinality-preserving left join was eliminated outright
    * (l24 measured as a bare scan), a final window with no rank filter
    * dropped (l9/u2), aggregate VALUE expressions pruned to their keys —
    * while the DuckDB column of every BENCHNOTES table fetched all rows
    * (measured 1.1-2.7x skew per query). Rounds 10-14 used a
    * noop-sink v2 write: full materialization, but the write command
    * wraps the query in write-task setup + commit coordination that
    * prices in PER JOB — measured at the
    * driver's cpus=32 config: 4-11% of wall on the r14 suite's floor-
    * and heavy-row samples, pure harness overhead that DuckDB's side
    * never pays. The r15 drain keeps the materialization contract (the
    * iterator yields every UnsafeRow of every output column) with zero
    * wrapper: `toRdd` executes the UNCHANGED executed plan — no plan
    * rewrite is possible because no operator is added above it. Bonus:
    * the caller's own `df.queryExecution` is the execution that ran, so
    * Bench reads per-query plan metrics (exchange bytes, spill, scans)
    * off it directly — under the noop write those lived in a separate
    * command execution. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }

  /** LOWER median: with an even sample count (a sweep failed) and one
    * contaminated slow sample among the survivors, the upper-middle pick
    * would select the contaminated one — prefer the uncontaminated side.
    * (Odd counts are the true median either way.) */
  def median(v: Vector[Double]): Double = {
    val s = v.sorted
    s((s.size - 1) / 2)
  }

  /** Persist a bench JSON line next to the build (parent dirs created):
    * stdout capture may truncate long lines; the file never does. */
  def writeArtifact(path: String, line: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
  }

  /** One JSON line guaranteed `<= budget` chars for a stdout capture that
    * keeps only the tail of the output (the round driver keeps ~2000).
    * The headline total and failure list always fit; the per-query map is
    * filled slowest-first at 3-decimal precision until the budget is hit,
    * so what gets dropped is the job-floor noise, never the signal. The
    * full-precision map lives in BENCHFULL.json (see "full" field). */
  def compactLine(total: Double, results: Seq[(String, Double)],
                  failed: Seq[String], sfDir: String,
                  sweepWalls: Seq[Double], budget: Int,
                  planTotals: Option[(Long, Long, Long)] = None): String = {
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // suite-level plan signature (host-invariant): total exchange bytes /
    // spill bytes / scan count across all queries — the three numbers a
    // round-over-round reader checks first; the per-query map is in the
    // full artifact's "plan" field
    val planSig = planTotals.map { case (x, sp, sc) =>
      s""","plan_totals":{"exchange_bytes":$x,"spill_bytes":$sp,"scans":$sc}"""
    }.getOrElse("")
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"""" +
      s""","sweep_walls":[${sweepWalls.map(f3).mkString(",")}]""" +
      s""","failed":[${failed.map("\"" + _ + "\"").mkString(",")}]""" + planSig +
      s""","queries_total":${results.size},"full":"BENCHFULL.json","queries":{"""
    val tail = "}}"
    val entries = results.filter(_._2 >= 0).sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
    var len = head.length + tail.length
    val kept = entries.takeWhile { e =>
      val fits = len + e.length + 1 <= budget
      if (fits) len += e.length + 1
      fits
    }
    head + kept.mkString(",") + tail
  }
}
