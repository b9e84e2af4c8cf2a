package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --dir <scratch dir> --out <report dir>
  *
  * Sets up [[Setups]] times (fresh session, fresh directory, seeded inputs,
  * initial load; the first also starts the JVM) and reports the median as
  * `setup_s`, runs [[WarmPasses]] untimed warm passes, then runs checked passes
  * closed-loop from this one thread until `--seconds` have passed. With `--trace 1` passes alternate untraced and
  * traced, the per-layer metrics come from the traced ones and the
  * difference of the two medians is the tracing overhead. The last stdout
  * line is the result; a failed call or check exits 1.
  */
object Main {
  val Setups = 3
  val WarmPasses = 2

  final case class PassRec(traced: Boolean, start: Double, end: Double, out: PassOut,
      written: Map[String, (Long, Long)]) {
    def wallMs: Double = end - start
  }

  def workload(name: String): () => Workload = name match {
    case "vendor_etl" => () => new VendorEtl
    case "corpus_curation" => () => new CorpusCuration
    case "lake_churn" => () => new LakeChurn
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val mk = workload(name)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val dir = opts("dir")
    val out = opts("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val led = new Ledger
    val setupMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    for (k <- 1 to Setups) {
      val t0 = if (k == 1) jvmStart else Trace.nowMs
      if (spark != null) { wl.close(); spark.stop() }
      spark = graft.GraftSession.local(cores)
      val d = s"$dir/setup$k"
      // fresh per-setup state dirs: an index or memo left by an earlier
      // setup must not speed up a later one
      spark.conf.set("spark.graft.scratchDir", s"$d/scratch")
      spark.conf.set("spark.graft.ann.indexDir", s"$d/ann")
      spark.conf.set("spark.graft.checkpointDir", s"$d/ckpt")
      wl = mk()
      wl.setup(spark, d, seed, led)
      setupMs += Trace.nowMs - t0
    }
    // untimed warm passes: pass walls keep falling for several passes after
    // start-up (JIT, codegen, first-call work), so timing starts after
    // [[WarmPasses]] of them
    var broken = false
    try for (w <- 1 to WarmPasses) wl.pass(-w, led)
    catch { case e: Throwable => System.err.println(s"warm pass failed: $e"); broken = true }
    if (traced) Trace.attach(spark)

    val recs = ArrayBuffer.empty[PassRec]
    val deadline = Trace.nowMs + seconds * 1000.0
    // traced runs order their passes untraced, traced, traced, untraced
    // (repeating), at least one round, so warm-up drift cancels out of the
    // overhead estimate
    def more: Boolean = Trace.nowMs < deadline || recs.isEmpty || (traced && recs.size < 4)
    while (!broken && more) {
      val tr = traced && (recs.size % 4 == 1 || recs.size % 4 == 2)
      val before = wl.outputRoots.map { case (k, r) => k -> Fs.listing(r) }
      Trace.enabled = tr
      val t0 = Trace.nowMs
      try {
        val o = Trace.span("pass")(wl.pass(recs.size, led))
        val t1 = Trace.nowMs
        Trace.enabled = false
        val written = wl.outputRoots.zip(before).map { case ((k, r), (_, was)) =>
          val created = Fs.listing(r).filter { case (p, n) => !was.get(p).contains(n) }
          k -> (created.size.toLong, created.values.sum)
        }.groupMapReduce(_._1)(_._2)((a, b) => (a._1 + b._1, a._2 + b._2))
        recs += PassRec(tr, t0, t1, o, written)
      } catch {
        case e: Throwable =>
          Trace.enabled = false
          System.err.println(s"pass ${recs.size} failed: $e")
          broken = true
      }
    }
    val extra =
      if (broken) Map.empty[String, Double]
      else try wl.finish(led) catch {
        case e: Throwable => System.err.println(s"finish failed: $e"); Map.empty[String, Double]
      }
    if (traced) Trace.drain()

    val plain = recs.filterNot(_.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (plain.isEmpty) Nil
      else if (!traced) endToEnd(plain, setupMs.toSeq)
      else Layers.perLayer(recs.toSeq, extra)
    val correct = led.failed == 0 && metrics.nonEmpty
    led.failures.foreach(f => System.err.println(s"FAILURE $f"))

    println("inputs: " + wl.inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(f"passes: ${plain.size} untraced, ${recs.count(_.traced)} traced; " +
      f"pass ms: ${recs.map(r => f"${r.wallMs}%.0f").mkString(",")}; " +
      f"setup ms: ${setupMs.map(m => f"$m%.0f").mkString(",")}")
    if (traced) Layers.writeReport(s"$out/$name-seed$seed-trace.json", name, seed, recs.toSeq)
    val result = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> math.max(1L, led.attempted),
      "failed" -> (if (metrics.isEmpty) math.max(1L, led.failed) else led.failed),
      "metrics" -> Json.raw(metrics.map { case (k, v, u) =>
        Json.str(k) + ":" + Json.obj(Seq("value" -> v, "unit" -> u)) }.mkString("{", ",", "}"))))
    wl.close()
    spark.stop()
    println(result)
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** Peak resident memory of this process (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def endToEnd(plain: Seq[PassRec], setupMs: Seq[Double]): Seq[(String, Double, String)] = {
    val wallS = Stats.median(plain.map(_.wallMs)) / 1000
    val userBytes = plain.map(_.out.userBytes).sum.toDouble
    val written = plain.map(_.written.values.map(_._2).sum).sum.toDouble
    Seq(
      ("setup_s", Stats.median(setupMs) / 1000, "s"),
      ("wall_s", wallS, "s"),
      ("rows_per_s", Stats.median(plain.map(p => p.out.rows / (p.wallMs / 1000))), "rows/s"),
      ("write_amp", written / userBytes, "ratio"))
  }
}

/** Minimal JSON output: numbers keep every digit Java prints. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double =>
      require(java.lang.Double.isFinite(d), s"non-finite metric value $d")
      d.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
