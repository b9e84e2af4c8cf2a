package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{Bench, BenchUtil, GraftSession, SparkEntry}

/** Per-query probes of declared SparkEntry queries, on graft.Bench's
  * session conf and forcing:
  *   trace — per-JOB timeline: which Spark jobs a query launches, each
  *           one's wall, the driver gap before it and its description —
  *           whether a multi-action operator pays compute or per-job
  *           scheduling floor. One untimed warm run, then one traced run.
  *   plan  — the EXECUTED (post-AQE) plan, then the parquet-scan and
  *           ReusedExchange counts of the plan as first planned: a
  *           subtree consumed twice inlines twice unless an exchange reuse
  *           or an explicit checkpoint deduplicates it (how j7, dq2 and
  *           l13b were caught; PlanAuditSpec pins their counts).
  *   time  — median of 3 after one untimed warmup, wall and executor-stage
  *           seconds (wall minus stage is the driver/AQE floor). With
  *           several queries the reps run round-robin, so a changed query
  *           and an untouched control share every stretch of host drift
  *           inside one JVM.
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *     sbt "runMain graft.tools.Probe <trace|plan|time> <query> [query ...]"
  */
object Probe {
  private val Usage = "usage: Probe <trace|plan|time> <query> [query ...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val probe: (SparkSession, String, Seq[String]) => Unit = args.head match {
      case "trace" => trace
      case "plan" => plan
      case "time" => time
      case other => throw new IllegalArgumentException(s"unknown probe '$other'; $Usage")
    }
    val names = args.tail.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR to a fixture dir; $Usage"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.harness(cpus, Bench.sessionConf(sys.env))
    spark.sparkContext.setLogLevel("ERROR")
    try probe(spark, sf, names) finally spark.stop()
  }

  private case class Job(desc: String, start: Long, var end: Long = -1L)

  private def trace(spark: SparkSession, sf: String, names: Seq[String]): Unit = {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val order = new ConcurrentLinkedQueue[Int]()
    // volatile: flipped on the main thread, read on the listener-bus
    // thread; the drain sleeps below keep warm-run events from bleeding
    // into (or traced events out of) the recording window
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
        val props = Option(e.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short")))
            .filter(_.nonEmpty))
          .orElse(e.stageInfos.headOption.map(_.name))
          .getOrElse("")
        jobs.put(e.jobId, Job(desc, e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })
    for (n <- names) {
      val q = SparkEntry.queries(n)
      BenchUtil.force(q(spark, sf)) // warm
      Thread.sleep(300) // drain in-flight warm-run events off the bus
      jobs.clear(); order.clear()
      tracing = true
      val t0 = System.nanoTime()
      BenchUtil.force(q(spark, sf))
      val wall = (System.nanoTime() - t0) / 1e9
      tracing = false
      Thread.sleep(300) // drain listener bus
      println(s"==== $n wall=${"%.3f".format(wall)}s jobs=${order.size} ====")
      var prevEnd = -1L
      for (id <- order.asScala) {
        val j = jobs.get(id)
        val dur = if (j.end > 0) j.end - j.start else -1
        val gap = if (prevEnd > 0) j.start - prevEnd else 0
        if (j.end > 0) prevEnd = j.end
        println(f"  job $id%4d  ${dur}%5d ms  (+${gap}%4d ms gap)  ${j.desc.take(110)}")
      }
    }
  }

  private def plan(spark: SparkSession, sf: String, names: Seq[String]): Unit =
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sf)
      // counted before the run: once AQE finalizes, the plan string
      // carries the final and the initial plan, and every scan twice
      val planned = df.queryExecution.executedPlan.toString
      BenchUtil.force(df) // run so AQE finalizes
      println(s"==== $n ====")
      println(df.queryExecution.executedPlan.toString)
      val scans = "Scan parquet".r.findAllIn(planned).size
      val reused = "ReusedExchange".r.findAllIn(planned).size
      println(s"PROBE $n scans=$scans reused=$reused")
    }

  private def time(spark: SparkSession, sf: String, names: Seq[String]): Unit = {
    val stageMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val st = s.stageInfo
        for (c <- st.completionTime; b <- st.submissionTime) stageMs.addAndGet(c - b)
      }
    })
    val queries = names.map(n => n -> SparkEntry.queries(n))
    for ((_, q) <- queries) BenchUtil.force(q(spark, sf)) // warmup
    val runs = (1 to 3).flatMap(_ => queries.map { case (n, q) =>
      stageMs.set(0)
      val t0 = System.nanoTime()
      BenchUtil.force(q(spark, sf))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // let the listener bus drain stage-completed events
      n -> (wall, stageMs.get() / 1e3)
    }).groupMap(_._1)(_._2)
    for (n <- names) {
      val rs = runs(n)
      val med = rs.sortBy(_._1).apply(1)
      println(f"TIMEQ $n%-28s median=${med._1}%.3f  stage=${med._2}%.3f  " +
        s"runs=${rs.map(t => f"${t._1}%.3f").mkString(",")}")
    }
  }
}
