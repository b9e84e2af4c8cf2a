package graft

import org.apache.spark.sql.DataFrame

/** Plan audits: assert the physical plans have the shapes the 100 TB
  * design requires — pushdown reaching the scan, pruned read schemas,
  * broadcast dimensions, top-K without a global sort, exchange reuse on
  * self-joins. A regression here is a performance bug even when results
  * stay correct. */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  /** Formatted explain: each Exchange prints the attributes riding it —
    *   (n) Exchange
    *   Input [m]: [k#12L, doc_id#0L, ...]
    *   Arguments: hashpartitioning(k#12L, 4), ENSURE_REQUIREMENTS, ...
    * — the payload-level audit the tree string can't give. */
  private def fmtPlan(df: DataFrame): String = df.queryExecution.explainString(
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  private def exchangeBlocks(fmt: String): Seq[String] =
    fmt.split("\n\n").toSeq.filter(_.linesIterator.next().endsWith(" Exchange"))
  private def blockLine(b: String, prefix: String): String =
    b.linesIterator.find(_.startsWith(prefix)).getOrElse("")

  test("q1: shipdate predicate is pushed to the parquet scan") {
    val p = plan(q("q1_pricing_summary"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q1/q2/q3: the money pipeline is allocation-free — no decimal ops, rounds, or BigDecimal sums in the plan") {
    // the round-13 rework: cents derive via the pure-FP trunc(x*100±0.5)
    // (both the DECIMAL(18,2) cast and Spark's round() box a BigDecimal
    // per row) and unbounded money sums ride the int128 sum128 aggregate.
    // A reintroduced decimal op would keep results hash-exact while
    // silently re-paying the ~2-3x per-row tax these plans retired —
    // exactly the regression a correctness gate cannot catch.
    for (name <- Seq("q1_pricing_summary", "q2_shipping_priority",
        "q3_revenue_by_nation", "q2_bucketed", "q3_bucketed")) {
      val p = plan(q(name))
      assert(!p.contains("CheckOverflow"), s"$name re-grew a decimal op:\n$p")
      assert(!p.toLowerCase.contains("round("), s"$name re-grew a round():\n$p")
      assert(!p.contains("sum(cast("), s"$name sums through a cast again:\n$p")
    }
    assert(plan(q("q1_pricing_summary")).contains("sum128"))
    assert(plan(q("q3_revenue_by_nation")).contains("sum128"))
  }

  test("s1: read schema is pruned to the projected columns") {
    val p = plan(q("s1_parquet_scan"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int,l_quantity:double>"))
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"))
  }

  test("s2 multiLine array scan is one task per FILE; the s7 JSONL form splits") {
    // the SURVEY footnote made machine-checked (r12 verdict blemish #4):
    // a JSON *array* document (the reference's own spool shape,
    // main.rs:225-227) is inherently unsplittable — Spark must hand the
    // whole file to one task — so s2 is the ingest-fidelity path at
    // bounded size and s7's JSONL is the at-scale spool, where the same
    // bytes fan out across tasks under the normal maxPartitionBytes split
    import spark.implicits._
    val base = spark.conf.get("spark.graft.scratchDir", "target/graft-tmp")
    val rows = (0 until 20000).map(i => (i, s"name_$i"))
    val arrDir = s"$base/posture_json_array"
    rows.toDF("id", "name")
      .agg(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct($"id", $"name"))).as("doc"))
      .select($"doc").as[String]
      .coalesce(1).write.mode("overwrite").text(arrDir)
    val jsonlDir = s"$base/posture_jsonl"
    rows.toDF("id", "name").coalesce(1)
      .write.mode("overwrite").json(jsonlDir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val arr = spark.read.option("multiLine", "true")
        .schema("id INT, name STRING").json(arrDir)
      val jsonl = spark.read.schema("id INT, name STRING").json(jsonlDir)
      assert(arr.rdd.getNumPartitions === 1,
        s"multiLine array file split into ${arr.rdd.getNumPartitions} tasks?")
      assert(jsonl.rdd.getNumPartitions > 1,
        "JSONL did not split under a 16K partition target")
      assert(arr.count() === 20000L && jsonl.count() === 20000L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("j1: dimension side is broadcast (no fact shuffle)") {
    val p = plan(q("j1_enrich_details"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("j4/j5: date-range predicate pushed down under semi/anti join") {
    for (name <- Seq("j4_semi_join", "j5_anti_join")) {
      val p = plan(q(name))
      assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), s"$name plan:\n$p")
    }
  }

  test("o3: global top-K compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan(q("o3_global_topk"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("l2d: self-join reuses one shuffle exchange (signature pipeline runs once)") {
    // AQE dedups identical exchanges at stage materialization: execute,
    // then read the final adaptive plan
    val df = q("l2d_ngram_jaccard")
    df.collect() // executes THIS queryExecution (count() would derive a new one)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"), p)
  }

  test("l7: df derives from tf through a reused exchange; no full-corpus string shuffle") {
    val df = q("l7_tfidf_topterms")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    // the tf exchange on (doc_id, tkey) must feed the df aggregate too
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"), p)
    // every hash exchange moves the 48-bit tkey (or the final tiny
    // presentation exchange) — never the raw term string
    val exchanges = """Exchange hashpartitioning\(([^,]+),""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.startsWith("term")),
      s"term string rides a shuffle key: $exchanges\n$p")
  }

  test("l3: brute-force scan has no shuffle before the top-k") {
    val p = plan(q("l3_similarity_search"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("etl vendorFrame with date slice: orders scan pruned, reviews agg bounded by semi join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.operators.Etl.vendorFrame(spark, sfDir,
      $"o_orderdate" >= lit("2000-03-01").cast("timestamp")
        && $"o_orderdate" < lit("2000-03-08").cast("timestamp"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"))
    assert(p.contains("LeftSemi"))
  }

  test("partitioned sink read-back prunes partitions from the directory layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // write the demo slice, then read back with a partition-key predicate
    q("s5_s6_partitioned_sink").collect()
    val scratch = spark.conf.get("spark.graft.scratchDir", "/root/repo/target/graft-tmp")
    val back = spark.read.parquet(s"$scratch/partitioned_sink")
      .filter($"city_id" === 7 && $"day" === 1)
      .agg(count(lit(1)))
    val p = plan(back)
    assert(p.contains("PartitionFilters: [isnotnull(city_id"), p)
    // the predicate resolves against directory names only: the data-side
    // filter sets must be empty
    val dataFilters = """(DataFilters|PushedFilters): \[(.*?)\]""".r
      .findAllMatchIn(p).map(_.group(2)).mkString
    assert(dataFilters.isEmpty, s"expected empty data-side filters, got: $dataFilters")
  }

  test("w2: no unpartitioned window runs over raw (non-aggregated) rows") {
    // Every Window with an empty partitionSpec must sit above an Aggregate
    // (the two-phase rank's prefix-sum over bucket counts) — a global
    // window directly over the scan would be a one-partition sort at scale.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val lp = q("w2_batch_numbering").queryExecution.optimizedPlan
    def hasAggBelow(p: LogicalPlan): Boolean =
      p.isInstanceOf[Aggregate] || p.children.exists(hasAggBelow)
    val globalWindows = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globalWindows.nonEmpty, "expected the prefix-sum window in the plan")
    globalWindows.foreach { w =>
      assert(hasAggBelow(w.child),
        s"global window over raw rows (single-partition sort at scale):\n$w")
    }
    // and the per-bucket rank window must be partitioned
    val partitioned = lp.collect { case w: LWindow if w.partitionSpec.nonEmpty => w }
    assert(partitioned.nonEmpty, "expected the bucket-partitioned rank window")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB the win: a selective dimension filter is turned into a
    // bloom filter evaluated on the fact side BEFORE its shuffle, cutting
    // shuffle volume by the filter's selectivity. Size thresholds are
    // lowered to fire at fixture scale; production defaults (creation side
    // <= 10 MB, application side >= 10 GB scan) match the deployment in
    // SCALE.md. Broadcast is disabled to model the fact-fact case — with
    // broadcast available Spark correctly prefers it and no bloom is needed.
    val sets = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = sets.map { case (k, _) => k -> spark.conf.getOption(k) }
    sets.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val orders = Tables.orders(spark, sfDir).filter($"o_orderpriority" === "1-URGENT")
      val li = Tables.lineitem(spark, sfDir)
      val joined = li.join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("l11: rate table broadcasts; the corpus never hash-shuffles") {
    val p = plan(q("l11_source_mix"))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchanges move the tiny per-lang aggregate; a
    // doc_id-keyed exchange would mean the corpus itself shuffled
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("l9: one window pass, partitioned by (source, shard)") {
    val p = plan(q("l9_sequence_pack"))
    val windows = p.linesIterator.filter(_.trim.startsWith("+- Window ")).toSeq
    assert(windows.size === 1, p)
    // the window's partition spec is [source#N, shard#N] — never
    // unpartitioned over raw rows
    assert("""\], \[source#\d+, shard#\d+L?\], \[doc_id""".r
      .findFirstIn(windows.head).isDefined, windows.head)
  }

  test("l12: corpus shuffles ONCE, on shard — never a global sort over raw rows") {
    val p = plan(q("l12_shuffle_shard"))
    val windows = p.linesIterator.filter(_.trim.startsWith("+- Window ")).toSeq
    assert(windows.size === 1, p)
    // one hash exchange feeds the window (the loader-shard split); the
    // only range exchange is the trailing fixture-scale presentation sort
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).size
    assert(hashEx === 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("a13: no per-group value buffering — histogram agg + broadcast target join") {
    val p = plan(q("a13_exact_percentiles"))
    // the scale claim: never Spark's buffering `percentile` aggregate
    assert(!p.contains("percentile"), p)
    // phase B joins the located buckets via broadcast, not a corpus shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    // ... and probes on the ONE fused long key (LongHashedRelation), never
    // the (string, long) composite, which probes an UnsafeHashedRelation
    // at ~2.3us/row — measured 14x on a 150M-row stream side. The range
    // residuals must stay residual, not become extra equi keys.
    assert(p.contains("BroadcastHashJoin [jk#"), p)
    assert(p.contains("(grp#") && p.contains(">= t_grp#"), p)
  }

  test("l13: dedup keys the corpus exchange by text hash; decontam is a broadcast anti join") {
    val p = plan(q("l13_corpus_export"))
    // stage 2's window partitions on the 8-byte xxhash64 of the text —
    // the pipeline's one corpus-wide exchange ships a long, not the text
    // as a key
    assert(p.contains("xxhash64(text"), p)
    // stage 3: contaminated ids broadcast into a LeftAnti probe — the
    // corpus never shuffles to subtract them
    assert(p.contains("LeftAnti"), p)
    // shingles via the native one-pass expression, not a transform lambda
    assert(p.contains("shingle_hashes"), p)
  }

  test("l2f_gen: native expression in the plan, no lambda artifacts") {
    val p = plan(q("l2f_gen"))
    assert(p.contains("shingle_hashes"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the ladder baselines' interpreted machinery must be absent
    assert(!p.contains("array_distinct") && !p.contains("lambda"), p)
  }

  test("l3i: one real exchange — query codes broadcast, partial agg pre-shuffle, TakeOrdered top-k") {
    val p = plan(q("l3i_sq8_topk"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // exactly ONE shuffle (the post-partial-agg exchange); max|x| must come
    // from array_max/array_min, not a windowed explode or a lambda fold
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(shuffles === 1, s"expected 1 shuffle exchange, got $shuffles:\n$p")
    assert(!p.contains("Window") && !p.contains("lambda"), p)
  }

  test("l3j: shortlist broadcasts into the re-rank scan; top-k is TakeOrdered") {
    val p = plan(q("l3j_rerank_topk"))
    // stage-2 must join the float vectors against a BROADCAST shortlist
    // (pruned re-read), and both stages' top-k must avoid a global sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("l2f_decontam (native md5 anchor): same plan shape as l2f_gen") {
    val p = plan(q("l2f_decontam"))
    assert(p.contains("shingle_hashes"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("array_distinct") && !p.contains("lambda"), p)
  }

  test("l2g/l4g: index and thresholds broadcast; the corpus never hash-shuffles by doc") {
    for (name <- Seq("l2g_incremental_simhash", "l4g_quality_filter")) {
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n$p")
      // the corpus-side frame must never hash-exchange on doc_id — only
      // tiny aggregates and the bounded signature/threshold frames shuffle
      assert(!p.contains("Exchange hashpartitioning(doc_id"), s"$name:\n$p")
    }
  }

  test("l3i_serve: scans ONLY the persisted packed codes, zero exchanges") {
    val p = plan(q("l3i_serve"))
    assert(p.contains("sq8_codes"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // packed layout + native dot_i64: one row per vector, no explode, no
    // position join — nothing shuffles before the TakeOrdered
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("dot_i64"), p)
  }

  test("l3j_serve: shortlist from codes; floats only from the by-id index copy") {
    val p = plan(q("l3j_serve"))
    assert(p.contains("sq8_codes"), p)
    // every float byte comes from the index: the vec_id=0 query lookup
    // (row-group pruned by the sorted layout) and the shortlist-pruned
    // re-read both scan vectors_by_id — the raw table is never touched
    assert(p.contains("vectors_by_id"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("l3f_serve: probe reads the partitioned inverted lists, pruned dynamically") {
    val p = plan(q("l3f_serve"))
    assert(p.contains("ivf_centroids"), p)
    assert(p.contains("ivf_corpus"), p)
    // the corpus scan must carry a dynamic partition filter from the
    // broadcast probe join — the on-disk realization of "search only the
    // probed inverted lists"
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    // the raw embeddings table is never touched: the query lookup reads
    // the by-id index copy (row-group pruned vec_id=0 point read; the DPP
    // subquery replays it), the corpus side reads the inverted lists
    assert(!p.contains("embeddings.parquet"), p)
    val vecScans = p.linesIterator.filter(_.contains("vectors_by_id")).toSeq
    assert(vecScans.nonEmpty && vecScans.forall(_.contains("EqualTo(vec_id,0)")),
      s"non-point-lookup vectors_by_id scan:\n${vecScans.mkString("\n")}")
  }

  test("l3f/l3c: the centroid table replays the stamped artifact, never a per-query corpus aggregate") {
    // the r12 verdict's worst at-scale row (8.3x compute at sf25) was
    // l3f re-running the corpus-wide centroid aggregate per evaluation;
    // this pins the fix — the probe ranking reads the persisted
    // ivf_centroids components, and the only scan of the raw embeddings
    // table is the corpus search side (plus the vec_id=0 query lookup),
    // never an Expand/posexplode aggregate underneath the probe ranking
    for (name <- Seq("l3f_ivf_multiprobe", "l3c_ivf_topk")) {
      val p = plan(q(name))
      assert(p.contains("ivf_centroids"), p)
      assert(!p.contains("posexplode"), s"$name still aggregates centroids inline:\n$p")
    }
  }

  test("l3n_serve: ADC over the probed pq_codes shards only; floats only as point lookups") {
    val p = plan(q("l3n_serve"))
    // corpus side = the list-sharded code store, dynamically pruned to the
    // probed shards; the codebook artifact feeds the broadcast ADC table
    assert(p.contains("pq_codes"), p)
    assert(p.contains("pq_codebook"), p)
    assert(p.contains("ivf_centroids"), p)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    // the raw embeddings table is never touched, and every float read is
    // the row-group-pruned query point lookup against the by-id copy
    assert(!p.contains("embeddings.parquet"), p)
    val vecScans = p.linesIterator.filter(_.contains("vectors_by_id")).toSeq
    assert(vecScans.nonEmpty && vecScans.forall(_.contains("EqualTo(vec_id,0)")),
      s"non-point-lookup vectors_by_id scan:\n${vecScans.mkString("\n")}")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("l16: rank filter compiles to a partial WindowGroupLimit before the exchange") {
    // the 100 TB claim: the per-domain cap ships O(domains x N) rows, not
    // the corpus — InferWindowGroupLimit must turn the row_number <= N
    // filter into map-side top-N pruning BEFORE the shuffle
    val p = plan(q("l16_domain_cap"))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"no map-side (Partial) window group limit:\n$p")
    // and the only hash exchange carries the already-capped rows on source
    assert(p.contains("Exchange hashpartitioning(source"), p)
  }

  test("l15: chunk fan-out is shuffle-free — Generate over the scan, no exchange before the presentation sort") {
    val p = plan(q("l15_chunk"))
    assert(p.contains("Generate explode(sequence"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"chunking introduced a shuffle:\n$p")
    // the chunk text is sliced from the split array — no lambda machinery
    assert(!p.contains("lambda"), p)
  }

  test("l14: one corpus exchange, keyed by the 8-byte span hash; native shingles") {
    val p = plan(q("l14_span_screen"))
    assert(p.contains("shingle_hashes"), p)
    // exactly two hash exchanges: the span-hash window feed and the tiny
    // per-doc rollup — and the corpus one is keyed on sh, never the text
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size === 2, s"expected 2 hash exchanges, got ${hashEx.size}:\n$p")
    assert(hashEx.exists(_.contains("hashpartitioning(sh#")), p)
    assert(!hashEx.exists(_.contains("text")), p)
    // the rollup pre-aggregates map-side (partial_sum before its exchange)
    assert(p.contains("partial_sum"), p)
  }

  test("l17: model fits in one corpus pass; scoring pass is shuffle-free") {
    val p = plan(q("l17_unigram_logprob"))
    // round-11 shape: the fit is ONE word_count_agg pass — partial
    // vocabulary maps combine map-side, so the only exchange in the whole
    // query ships ~one vocab-sized buffer per partition to a single
    // combiner; no token row, no word key, and no doc_id ever shuffles
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash exchange (fit should be the map-agg combine only):\n$p")
    assert(p.contains("partial_word_count_agg"),
      s"no map-side combine on the vocab build:\n$p")
    // exactly two corpus scans: fit + scoring (the old frame-level build
    // paid three for the same model)
    assert("FileScan parquet".r.findAllIn(p).size === 2, p)
    // per-row scoring through the native kernel, model on a broadcast
    assert(p.contains("model_score("), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("l18: split assignment is a pure map — no exchange before the presentation sort") {
    val p = plan(q("l18_leakage_split"))
    assert(!p.contains("Exchange hashpartitioning"), s"split introduced a shuffle:\n$p")
    // the hash rides the GROUP key — the leakage guard is visible in the plan
    assert(p.contains("md5(") && p.contains("source"), p)
  }

  test("l19: no exchange carries document text; split map joins on the doc key") {
    val p = plan(q("l19_split_screen"))
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    // the corpus-scale frames on the wire are (doc_id, band keys) and
    // (doc_id, split) — the text itself reduces to signatures before any
    // exchange, same diet as the l2b pipeline this screen reuses
    assert(hashEx.nonEmpty && !hashEx.exists(_.contains("text")),
      s"document text rides an exchange:\n$p")
  }

  test("l20: per-char fan-out collapses map-side — only the pair-alphabet exchange") {
    val p = plan(q("l20_bpe_pair_count"))
    // the double Generate (words, pair positions) and the partial count
    // run in one map stage; the sole hash exchange carries the pair key
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size === 1 && hashEx.head.contains("hashpartitioning(pair#"),
      s"expected one pair-keyed exchange:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine before the exchange:\n$p")
    assert(p.contains("TakeOrdered"), p)
  }

  test("l22: tokenization is a broadcast-dictionary join; no corpus string shuffle") {
    val p = plan(q("l22_bpe_tokenize"))
    // the learned dictionary broadcasts onto the corpus scan — a sort-merge
    // join here would shuffle every word occurrence at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    // corpus-side exchange carries only (doc_id, partial sums); the w-keyed
    // exchange under the broadcast subtree is the vocab-sized dict build
    assert(hashEx.exists(_.contains("doc_id#")), s"missing per-doc agg exchange:\n$p")
    assert(!hashEx.exists(_.contains("text")), s"document text rides an exchange:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no map-side combine before the doc agg exchange:\n$p")
  }

  test("l32: anchor and island exchanges never carry text or word arrays") {
    val fmt = fmtPlan(q("l32_dup_run_trim"))
    val hashEx = exchangeBlocks(fmt).filter(b =>
      blockLine(b, "Arguments").contains("hashpartitioning"))
    // exactly two hash exchanges in the run pipeline: the sh-keyed df
    // window and the doc-keyed islands regroup (the run grouping and both
    // rollups must reuse the doc_id partitioning); a third may appear only
    // if the zero-run restore join declines to broadcast
    val shEx = hashEx.filter(b => blockLine(b, "Arguments").contains("hashpartitioning(sh#"))
    val docEx = hashEx.filter(b => blockLine(b, "Arguments").contains("hashpartitioning(doc_id#"))
    assert(shEx.size == 1, s"expected one sh-keyed exchange:\n$fmt")
    assert(docEx.size == 1, s"expected one doc-keyed islands exchange:\n$fmt")
    // neither the anchor stream nor the flagged stream carries strings:
    // the 5-gram dies in the scan-side projection (l2f_pos shape); the
    // word-boundary match keeps n_words# (a long) from tripping words#
    for (b <- hashEx; bad <- Seq("text#", "\\bwords#"))
      assert(!bad.r.findFirstIn(blockLine(b, "Input")).isDefined,
        s"text rides an l32 exchange:\n$b")
    // flagged stream is positions only — df must not survive the filter
    assert(!blockLine(docEx.head, "Input").contains("df#"),
      s"df column rides the islands exchange:\n${docEx.head}")
  }

  test("l33: rates broadcast; the per-doc epoch stream never hash-shuffles") {
    val fmt = fmtPlan(q("l33_budget_mix"))
    assert(fmt.contains("BroadcastHashJoin"), s"rates not broadcast:\n$fmt")
    // every hash exchange belongs to the tiny map-side-combined rates
    // aggregate (keyed by lang); the corpus stream goes scan -> broadcast
    // join -> explode -> sort with no exchange of its own
    val hashEx = exchangeBlocks(fmt).filter(b =>
      blockLine(b, "Arguments").contains("hashpartitioning"))
    assert(hashEx.nonEmpty && hashEx.forall(b =>
      blockLine(b, "Arguments").contains("hashpartitioning(lang#")),
      s"per-doc stream shuffles:\n$fmt")
  }

  test("j7: the skew join shuffles on (key, salt) and never broadcasts the dim") {
    val fmt = fmtPlan(q("j7_skew_join"))
    assert(fmt.contains("ShuffledHashJoin"),
      s"the modeled big-dim join must be a shuffle join:\n$fmt")
    val ex = exchangeBlocks(fmt).map(b => blockLine(b, "Arguments"))
    // both sides of the big join partition on the SALTED composite key —
    // the hot key's rows spread over SKEW_SALT reducers by construction
    assert(ex.exists(a => a.contains("user_id#") && a.contains("salt#")),
      s"fact exchange not salted:\n$fmt")
    assert(ex.exists(a => a.contains("c_custkey#") && a.contains("d_salt#")),
      s"dim exchange not salted:\n$fmt")
    // the hot-set membership joins are broadcasts: the histogram's result
    // rides to both sides, never the other way around
    assert(fmt.contains("BroadcastHashJoin"), s"hot set not broadcast:\n$fmt")
    // the checkpointed histogram keeps the plan at the minimal 2 scans
    // (fact + dim) — before the fix the inlined hot-set subtree re-read
    // the fact table four extra times
    val scans = "Scan parquet".r.findAllIn(
      q("j7_skew_join").queryExecution.executedPlan.toString).size
    assert(scans === 2, s"expected 2 parquet scans, saw $scans")
  }

  test("l34: pair mining pays the bucket self-join once (3 scans, not 7)") {
    val scans = "Scan parquet".r.findAllIn(
      q("l34_contrastive_pairs").queryExecution.executedPlan.toString).size
    assert(scans <= 3, s"pos subtree re-inlined: $scans scans")
  }

  test("dq2: the two-sided profile costs ONE table pass (checkpointed 2-row frame)") {
    // the single scan runs eagerly at localCheckpoint time; the final
    // plan only crosses the two checkpointed profile rows
    val scans = "Scan parquet".r.findAllIn(
      q("dq2_profile_drift").queryExecution.executedPlan.toString).size
    assert(scans === 0, s"profile re-scanned the table $scans times")
  }

  test("u4: fused diff is one scan, zero joins; the general form's exchanges carry (id, hash) only") {
    // the declared u4 derives both versions from one snapshot, so the
    // r13-item-2 fusion must hold: a single parquet scan, no join, no
    // hash exchange at all (only the output sort's range exchange)
    val fused = q("u4_snapshot_diff")
    val fusedFmt = fmtPlan(fused)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(fusedFmt).size === 1,
      s"fused diff re-grew a second scan:\n$fusedFmt")
    assert(!fusedFmt.contains("Join"), s"fused diff re-grew a join:\n$fusedFmt")
    assert(!exchangeBlocks(fusedFmt).exists(b =>
        blockLine(b, "Arguments").contains("hashpartitioning")),
      s"fused diff hash-exchanges rows:\n$fusedFmt")
    // the general two-snapshot form keeps the original pin: versions
    // reduce map-side to (doc_id, xxhash64) — text never rides a shuffle
    val docs = graft.Tables.documents(spark, sfDir)
    val fmt = fmtPlan(graft.operators.Quality.snapshotDiffTables(docs, docs))
    val hashEx = exchangeBlocks(fmt).filter(b =>
      blockLine(b, "Arguments").contains("hashpartitioning"))
    assert(hashEx.nonEmpty, s"no join exchanges:\n$fmt")
    for (b <- hashEx)
      assert(!blockLine(b, "Input").contains("text#"),
        s"document text rides a diff exchange:\n$b")
  }

  test("l24: dedup exchanges carry 8-byte keys; segment text never rides one") {
    val df = q("l24_segment_dedup")
    val fmt = fmtPlan(df)
    def line(b: String, p: String) = blockLine(b, p)
    val hashEx = exchangeBlocks(fmt).filter(b => line(b, "Arguments").contains("hashpartitioning"))
    // the corpus-wide dedup exchange: keyed by the xxhash64 key, carrying
    // (k, doc_id, i) ONLY — the old window form shipped full segment text
    // under a 32-char md5 hex key here
    val dedupEx = hashEx.filter(b => line(b, "Arguments").contains("hashpartitioning(k#"))
    assert(dedupEx.nonEmpty, s"no key-partitioned dedup exchange:\n$fmt")
    for (b <- dedupEx; bad <- Seq("seg", "ws#", "text"))
      assert(!line(b, "Input").contains(bad), s"segment text rides the dedup exchange:\n$b")
    // text appears in at most ONE hash exchange: the docs side of the
    // output-resolving join (partitioned by doc_id, text ships once)
    val textEx = hashEx.filter(b =>
      Seq("seg", "ws#", "text").exists(line(b, "Input").contains))
    assert(textEx.size <= 1, s"text rides ${textEx.size} hash exchanges:\n$fmt")
    textEx.foreach(b => assert(line(b, "Arguments").contains("hashpartitioning(doc_id#"),
      s"text exchange not the doc_id join side:\n$b"))
    // map-side combine collapses each task to its distinct segments before
    // the dedup exchange; no md5-hex keys, no window operator anywhere
    assert(fmt.contains("partial_min"), s"no map-side partial min:\n$fmt")
    assert(!fmt.contains("md5"), s"md5 hex key survived the rework:\n$fmt")
    assert(!fmt.contains("RunningWindowFunction") && !exchangeBlocks(fmt).exists(_.contains("Window")),
      s"window operator in the plan:\n$fmt")
  }

  test("l13b: the export manifest never puts document text on an exchange") {
    val df = q("l13b_corpus_export_v2")
    val fmt = fmtPlan(df)
    // unlike l13 (whose dedup window must ship survivor rows), the v2
    // manifest's decision planes ride hashes + ids ONLY — at 100 TB text
    // ships once, in the sink join, never through the planner's shuffles
    val hashEx = exchangeBlocks(fmt)
      .filter(b => blockLine(b, "Arguments").contains("hashpartitioning"))
    assert(hashEx.nonEmpty, fmt)
    for (b <- hashEx; bad <- Seq("text", "ws#", "seg"))
      assert(!blockLine(b, "Input").contains(bad),
        s"corpus text rides a hash exchange:\n$b")
    // bench span set broadcast; the domain cap keeps its partial
    // WindowGroupLimit (O(sources x cap) rows to the shuffle)
    assert(fmt.contains("BroadcastExchange"), fmt)
    assert(fmt.contains("WindowGroupLimit") && fmt.contains("Partial"), fmt)
    // the round-11 rework: winners checkpointed, segment screen and
    // language mix single-consumption — 4 corpus-table scans, not the
    // 24 the inlined decision planes cost before (Probe plan)
    val scans = "Scan parquet".r.findAllIn(
      df.queryExecution.executedPlan.toString).size
    assert(scans <= 4, s"a decision plane re-inlined its subtree: $scans scans")
  }

  test("l25: recount exchange is candidate-bounded; no key-space shuffle") {
    val p = plan(q("l25_heavy_hitters"))
    // pass 2: candidates broadcast onto the scan, partial count before the
    // (candidate-sized) exchange, top-K without a global sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    // exactly two hash exchanges, both bounded by partitions x capacity:
    // the candidate distinct and the candidate recount — the raw bigram
    // key space never shuffles
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2, p)
  }

  test("l3m: PQ search broadcasts codebook + query; one rollup exchange, top-K without a sort") {
    val p = plan(q("l3m_pq_topk"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the per-vector ADC rollup is the only data-sized exchange family;
    // everything codebook/query-sized rides broadcasts
    assert(p.contains("partial_sum") || p.contains("partial_min"), s"no map-side combine:\n$p")
  }

  test("u3: the compaction exchanges double as the MERGE join exchanges") {
    val df = q("u3_merge_upsert")
    val p = plan(df)
    // deletes make neither side preservable: a full-outer SORT-MERGE join
    // is the correct shape (a broadcast full-outer does not exist)
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"MERGE is not a full-outer sort-merge join:\n$p")
    val fmt = fmtPlan(df)
    val ex = exchangeBlocks(fmt)
    val hash = ex.filter(b => blockLine(b, "Arguments").contains("hashpartitioning"))
    val range = ex.filter(b => blockLine(b, "Arguments").contains("rangepartitioning"))
    // each side's latest-wins window already hash-partitions on the entity
    // key, so EnsureRequirements adds NOTHING for the join: MERGE costs
    // exactly the two compaction exchanges (+ the presentation sort)
    assert(hash.size == 2, s"expected only the 2 compaction exchanges, got ${hash.size}:\n$fmt")
    hash.foreach(b => assert(
      blockLine(b, "Arguments").contains("user_id") &&
        blockLine(b, "Arguments").contains("event_type"),
      s"compaction exchange not keyed by the entity key:\n$b"))
    assert(range.size <= 1, s"more than the presentation sort:\n$fmt")
  }

  test("q3 plain: the gated broadcast holds — the fact table crosses no exchange") {
    // the r14 rework's load-bearing property (CROSSOVER: 2.4 GB spill ->
    // zero, stage 15.3s -> 4.2s at sf50): under the gate's pass arm the
    // lineitem scan streams through a broadcast probe and the only hash
    // exchange left carries the 25-nation partial aggregate. A future
    // change that silently reintroduces the fact shuffle keeps results
    // hash-exact — exactly the regression the correctness gate can't see.
    val df = q("q3_revenue_by_nation")
    val fmt = fmtPlan(df)
    assert(fmt.contains("BroadcastHashJoin"), s"q3 lost the gated broadcast:\n$fmt")
    val hashEx = exchangeBlocks(fmt).filter(b =>
      blockLine(b, "Arguments").contains("hashpartitioning"))
    for (b <- hashEx; factCol <- Seq("l_orderkey", "l_extendedprice", "l_discount", "rev4"))
      assert(!blockLine(b, "Input").contains(factCol),
        s"fact column $factCol rides a hash exchange again:\n$b")
    // (the fallback arm's SHUFFLE shape can't be pinned at this scale —
    // the static 10 MB threshold broadcasts the tiny test dim with or
    // without the gate's hint; its value parity is pinned in
    // SemanticsSpec under a zero row budget)
  }

  test("r12: audit log is window-free and the events scan drops the payload column") {
    val df = q("r12_merge_log")
    val p = plan(df)
    // the log is a key-membership LEFT JOIN away from the raw feed — no
    // window, no state, nothing a 100 TB replay would buffer per key
    assert(!p.contains("Window"), s"window operator in the apply log plan:\n$p")
    // column pruning reaches the scan: `props` (the wide payload) is never read
    assert(!fmtPlan(df).contains("props"), s"props survived pruning:\n${fmtPlan(df)}")
  }

  test("q2/q3 bucketed: no fact row ever crosses a shuffle") {
    for (name <- Seq("q2_bucketed", "q3_bucketed")) {
      val df = q(name)
      val p = plan(df)
      // the bucketed layout must feed the sort-merge join directly
      // (dimensions broadcast, buckets co-locate the fact keys)
      assert(p.contains("SortMergeJoin"), s"$name lost the merge join:\n$p")
      assert(p.contains("Bucketed: true"), s"$name not reading bucketed scans:\n$p")
      val hashExchanges =
        "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1)).toSeq
      name match {
        case "q2_bucketed" =>
          // agg key == bucket key: the whole query runs with ZERO hash
          // exchanges — join and aggregation both inherit the layout
          assert(hashExchanges.isEmpty,
            s"$name shuffles despite the bucketed layout:\n$p")
        case _ =>
          // q3 aggregates by NATION, not the bucket key, so exactly one
          // post-join exchange is legitimate — and it carries only
          // |nations| x partial-agg rows, never the fact table
          assert(hashExchanges.size === 1 && hashExchanges.head.contains("n_name"),
            s"$name: expected only the nation-keyed post-agg exchange:\n$p")
      }
    }
  }

  test("no operator plan contains a cartesian product") {
    val sinkQueries = Set("s5_s6_partitioned_sink", "s7_json_sink", "s2_json_array_scan",
      "s9_clustered_scan", "l13c_export_sink")
    for ((name, fn) <- SparkEntry.queries if !sinkQueries(name)) {
      val p = plan(fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }
}
