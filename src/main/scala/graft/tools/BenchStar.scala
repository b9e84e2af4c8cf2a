package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-join crossover harness: measure q2/q3 (plain and bucketed) at a
  * SEQUENCE of scale factors to turn BENCHNOTES_HEAVY's "the star-join
  * ratio inverts when the fact table exceeds one node" from an assertion
  * into a measured trend. `MakeStar` materializes ONLY the star-schema
  * tables (orders/customer/lineitem + the tiny dims) at a given replica
  * count — the heavy tier's text/event tables would waste most of the
  * build time at 250x — plus the bucketed orders/lineitem layout.
  * `BenchStar` times the four queries with BenchHeavy's sweep protocol;
  * tools/crossover.py runs DuckDB on the identical oracle SQL per tier
  * and renders the ratio-vs-sf table.
  */
object MakeStar {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args(1)
    val copies = args(2).toInt
    val spark = MakeHeavy.session(Some(s"$out/warehouse"))
    import spark.implicits._
    val reps = broadcast(spark.range(copies).toDF("k"))

    // identical key-shift construction to MakeHeavy (disjoint replica key
    // ranges = the join structure replicates exactly; see MakeHeavy's doc)
    def scaled(table: String, shifts: Map[String, Long]): DataFrame = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val cols = df.columns.map { c =>
        shifts.get(c) match {
          case Some(s) => (col(c) + $"k" * s).as(c)
          case None => col(c)
        }
      }
      df.crossJoin(reps).select(cols.toSeq: _*)
    }

    val FILES = 32 // scan parallelism = cores (MakeHeavy's rationale)
    scaled("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    scaled("customer", Map("c_custkey" -> 1000000L))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    scaled("lineitem", Map("l_orderkey" -> 10000000L))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    for (t <- Seq("hv_orders_b", "hv_lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"$out/warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
    spark.read.parquet(s"$out/orders.parquet")
      .repartition(MakeHeavy.BUCKETS, col("o_orderkey"))
      .write.bucketBy(MakeHeavy.BUCKETS, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("hv_orders_b")
    spark.read.parquet(s"$out/lineitem.parquet")
      .repartition(MakeHeavy.BUCKETS, col("l_orderkey"))
      .write.bucketBy(MakeHeavy.BUCKETS, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("hv_lineitem_b")
    println(s"STAR_DATA_AT=$out copies=$copies")
    spark.stop()
  }
}

object BenchStar {

  val SWEEPS = 3

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir.split('/').last
    // trailing args past (dir, label) subset the sweep — BenchHeavy's
    // convention, so a new query joins existing tier JSONs via
    // tools/merge_bench.py without re-running the whole tier
    val subset = args.drop(2).toSet
    val spark = MakeHeavy.session(Some(s"$dir/warehouse"))
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // mirror GraftSession's AQE hash-join gate (the bench session is
    // deliberately minimal; this is the one production knob the star
    // plans depend on — r14: sort spills to zero, q2/q3 -1.2x/-1.5x)
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
    // A/B probe hook: semicolon-separated k=v runtime conf overrides, so a
    // candidate optimizer knob can be measured on a tier without a rebuild
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        // a '='-less token would slice to conf.set("", kv) — a silently
        // wrong probe; malformed entries must fail the run loudly
        require(i > 0, s"bad SPARK_GRAFT_EXTRA_CONF entry (want k=v): $kv")
        spark.conf.set(kv.take(i), kv.drop(i + 1))
      })
    val haveBuckets = MakeHeavy.registerBucketed(spark, dir,
      Seq(("hv_orders_b", "o_orderkey"), ("hv_lineitem_b", "l_orderkey")))
    require(haveBuckets, s"bucketed tables missing under $dir/warehouse — run MakeStar first")

    def pq(t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")
    val all: Seq[(String, () => DataFrame)] = Seq(
      // the DECLARED q2 is the shuffle core (see q2ShippingPriority's doc:
      // every gated arm measured worse on this fixture once gate cost
      // counts); q2_plain_legacy below is therefore the same plan — its
      // row doubles as a same-sweep repeatability indicator
      "q2_shipping_priority" -> (() =>
        graft.operators.Analytics.q2From(spark, pq("customer"), pq("orders"), pq("lineitem"))),
      "q3_revenue_by_nation" -> (() =>
        graft.operators.Analytics.q3PlainFrom(spark, pq("region"), pq("nation"),
          pq("customer"), pq("orders"), pq("lineitem"))),
      // the r13 plain plans (every-item fact shuffle), kept as probe rows
      // so CROSSOVER's "what did the gated-broadcast rework buy" delta is
      // measured on the same tier generation, not quoted across ones
      "q2_plain_legacy" -> (() =>
        graft.operators.Analytics.q2From(spark, pq("customer"), pq("orders"), pq("lineitem"))),
      "q3_plain_legacy" -> (() =>
        graft.operators.Analytics.q3From(spark, pq("region"), pq("nation"),
          pq("customer"), pq("orders"), pq("lineitem"))),
      "q2_bucketed" -> (() => graft.operators.Analytics.q2From(spark, pq("customer"),
        spark.table("hv_orders_b"), spark.table("hv_lineitem_b").hint("merge"))),
      "q3_bucketed" -> (() => graft.operators.Analytics.q3From(spark, pq("region"),
        pq("nation"), pq("customer"),
        spark.table("hv_orders_b"), spark.table("hv_lineitem_b").hint("merge"))),
      // two-phase exact percentile selection over the replicated fact
      // table: the point where DuckDB's full-sort rank replay grows with
      // n·log n while the histogram locate's shuffle stays |groups|×|buckets|
      "a13_exact_percentiles" -> (() =>
        graft.operators.Analytics.a13From(spark, pq("lineitem"))),
      // the wide scan-agg flagship: 6 groups, so the ratio is pure
      // per-row pipeline cost vs DuckDB's vectorized scan — the r12
      // verdict's one unexplained flagship ratio (3.8x at sf25 pre-
      // sum128); the star tiers give it the trend line q2/q3 have
      "q1_pricing_summary" -> (() =>
        graft.operators.Relational.q1PricingSummary(spark, dir)))
    val runnable = if (subset.isEmpty) all else all.filter(p => subset(p._1))
    require(runnable.nonEmpty, s"no queries match subset $subset")

    val stageMs = new java.util.concurrent.atomic.AtomicLong(0)
    // spill tracking: at the largest tiers a high-cardinality per-task
    // aggregate can exceed executor memory — surfacing diskBytesSpilled
    // per query tells the ratio table WHY a point regressed (memory
    // ceiling, not plan shape)
    val spillB = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val st = s.stageInfo
        for (c <- st.completionTime; b <- st.submissionTime) stageMs.addAndGet(c - b)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) spillB.addAndGet(t.taskMetrics.diskBytesSpilled)
    })
    // FORCING (round 13): full-materialization noop-sink write, the same
    // protocol as graft.Bench/BenchHeavy since round 10. The `.count()`
    // forcing used here through round 12 was safe for the original sweep
    // — q2/q3/a13 end in limit/TakeOrdered, which measured identically
    // either way — but q1 (added this round) has no
    // limit, and under count() Catalyst prunes its aggregate VALUE
    // expressions to the grouping keys: the measured q1 was a gutted
    // plan (0.96s vs 2.9s honest at sf25) while DuckDB always fetched
    // full rows.
    for ((_, fn) <- runnable) graft.BenchUtil.force(fn()) // warmup: JIT + codegen + listing

    val samples = scala.collection.mutable.Map(
      runnable.map(_._1 -> Vector.empty[(Double, Double, Double)]): _*)
    for (_ <- 1 to SWEEPS; (name, fn) <- runnable) {
      stageMs.set(0); spillB.set(0)
      val t0 = System.nanoTime()
      graft.BenchUtil.force(fn())
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // let the listener bus drain stage-completed events
      samples(name) :+= ((wall, stageMs.get() / 1e3, spillB.get() / 1e9))
    }
    val results = runnable.map { case (name, _) =>
      val v = samples(name).sortBy(_._1)
      name -> v((v.size - 1) / 2)
    }
    val qs = results.map { case (k, (w, _, _)) => s"\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val cs = results.map { case (k, (_, c, _)) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val sp = results.map { case (k, (_, _, s)) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"star_total","value":${results.map(_._2._1).sum},"unit":"sec","tier":"$label","queries":$qs,"stage_compute":$cs,"disk_spill_gb":$sp,"sf":"$dir"}"""
    println(line)
    // a subset run lands in a side file so it can't clobber the tier's
    // full artifact — merge with tools/merge_bench.py
    val out = if (subset.isEmpty) s"target/bench_star_$label.json"
              else s"target/bench_star_$label.subset.json"
    graft.BenchUtil.writeArtifact(out, line)
    spark.stop()
  }
}
