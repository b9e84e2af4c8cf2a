package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-assembly operators: the step between a filtered/deduped corpus
  * and a training run — packing documents into fixed token budgets and
  * rebalancing the source mixture. Both are deterministic (content-keyed
  * hashes, no rand()) so re-runs, retries, and engine swaps produce the
  * identical corpus, the property every reproducible data pipeline needs.
  * Reference scope: the reference engine stops at extraction/aggregation
  * (src/pipeline, src/queries); these extend the mandated LLM family the
  * same way l1–l8 do.
  */
object Assembly {

  /** Deterministic uniform bucket in [0, 256): 2-digit hex prefix of
    * md5(doc_id) — the l6 sampling idiom (TextAnalysis.scala:92), shared
    * so mix/pack/sample decisions stay independent of partitioning. */
  private def bucket256: org.apache.spark.sql.Column =
    expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT)")

  /** Tokens per pack. Sized so the sf0.01 correctness fixture (~55-token
    * docs, ~6 docs per (source, shard) stratum) genuinely fills several
    * packs per stratum — a production run raises this to the model's
    * context window (2048+); the operator is budget-agnostic. */
  val PACK_BUDGET = 128L

  /** Shards per source: bounds window-partition size (see scale note). */
  val PACK_SHARDS = 4L

  /** L9 [EXT]: sequence packing — assign each document to a fixed
    * token-budget pack (context-window fill for training). A document
    * joins the pack its EXCLUSIVE running token total falls in:
    * pack_id = floor(prev_cum / budget) over (source, shard) ordered by
    * doc_id — deterministic, single window pass, no iteration. Packs can
    * overflow by at most one document (the straddler stays in the pack it
    * started in), the standard greedy-fill trade that keeps the operator
    * one linear scan instead of a bin-packing fixpoint.
    *
    * Scale: the window partitions by (source, shard) where shard is a
    * hash bucket of doc_id — per-partition state is one running sum, and
    * PACK_SHARDS caps partition width independent of corpus size (raise
    * it at 100 TB; packing admits ANY disjoint grouping, so sharding
    * changes which docs share a pack, never validity). No unpartitioned
    * window over raw rows — the same posture as W2's two-phase rank. */
  def l9SequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"source",
        (bucket256 % PACK_SHARDS).as("shard"),
        size(split($"text", " ")).cast("long").as("tokens"))
      .withColumn("pack_id",
        (coalesce(sum($"tokens").over(w), lit(0L)) / PACK_BUDGET).cast("long"))
      .orderBy($"doc_id")
  }

  /** L11 [EXT]: temperature-weighted mixture rebalancing — sample stratum
    * s (language here; the fixture's languages are genuinely skewed, its
    * sources are uniform) at rate sqrt(n_min / n_s), i.e. temperature
    * alpha = 0.5 relative to corpus share: the smallest stratum keeps
    * everything, a 4x-larger one keeps half. The keep decision hashes
    * doc_id (l6's bucket), so the selected subset is a pure function of
    * the data.
    *
    * Scale: per-stratum counts are a tiny aggregate (|strata| rows); the
    * rate table broadcasts back onto one corpus scan — no shuffle of the
    * corpus, the l2f decontamination shape applied to sampling. sqrt and
    * the double division are IEEE correctly-rounded, so rates are
    * bit-identical across engines. */
  def l11SourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // n_min as a window over the K-row counts frame: the agg + crossJoin
    // original consumed counts twice, re-running the corpus count pass
    // (round-11 sweep; same fix in l13's mix stage)
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .withColumn("n_min", min($"n_lang").over(
        Window.partitionBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"lang", $"n_lang",
        sqrt($"n_min".cast("double") / $"n_lang".cast("double")).as("rate"))
    docs
      .join(broadcast(rates), "lang")
      .filter(bucket256.cast("double") < $"rate" * 256d)
      .select($"doc_id", $"lang", $"n_lang", $"rate")
      .orderBy($"doc_id")
  }

  /** Shard count for [[l12ShuffleShard]] — at 100 TB this is the loader
    * fan-out (thousands); the fixture keeps it small so every shard has
    * depth. */
  val SHUFFLE_SHARDS = 8L

  /** Seed folded into the shuffle key: a new seed is a complete, equally
    * uniform reshuffle — no state to rotate, nothing rewritten but the
    * order itself. */
  val SHUFFLE_SEED = "42"

  /** L12 [EXT]: seeded global training-order shuffle + sharding — the
    * final step of every training-data pipeline: fix a reproducible
    * random READ ORDER over the corpus and split it into loader shards.
    * Key = 48-bit md5 prefix of (seed # doc_id); shard = key mod
    * [[SHUFFLE_SHARDS]]; pos = rank of the key within its shard. The
    * order is a pure function of (seed, doc_id): independent of input
    * partitioning, cluster size, and engine — the reproducibility
    * property rand() can never give.
    *
    * Scale: a global ORDER BY over 100 TB is a range-exchange over
    * everything — and pointless, since loaders only need per-shard order.
    * This plan is ONE hash exchange on `shard` with an in-partition sort
    * (the window's sort spec), i.e. exactly a shuffle write; each shard
    * then lands as one contiguous, internally ordered file set. The
    * trailing global orderBy exists for oracle row-order comparability at
    * fixture scale; a deployment writes `partitionBy(shard)` sorted
    * within partitions instead (the S9 clustered-sink idiom). */
  def l12ShuffleShard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard").orderBy($"k", $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        expr(s"CAST(conv(substr(md5(CONCAT('$SHUFFLE_SEED#', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)")
          .as("k"))
      .withColumn("shard", pmod($"k", lit(SHUFFLE_SHARDS)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"shard", $"doc_id", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** Token budget for [[l33BudgetMix]] as a multiple of the corpus token
    * mass — pretraining budgets usually EXCEED the deduped corpus, so the
    * mixer must emit repeat epochs, not only sampling rates. */
  val BUDGET_EPOCHS = 2L

  /** L33 [EXT]: token-budget mixture with per-stratum epoch factors — the
    * published-mixture posture ("N epochs of source X") that down-sample-
    * only mixers (l11) cannot express: given a global token budget
    * B = [[BUDGET_EPOCHS]] x corpus tokens and sqrt-temperature target
    * shares w_s ~ sqrt(T_s), each stratum's repeat factor r_s = B*w_s/T_s
    * splits into integer epochs e_s = floor(r_s) (every doc emitted e_s
    * times) plus a fractional epoch (docs whose 20-bit md5 key clears the
    * stratum threshold appear once more). Output is the loader manifest
    * (doc_id, lang, n_tokens, epoch) — a pure function of the data, so
    * re-runs and engine swaps emit the identical multi-epoch corpus.
    *
    * Exactness — every decision is integer arithmetic: the ONE quantized
    * input is s_s = floor(sqrt(T_s * 2^20)) (both engines' IEEE sqrt is
    * correctly rounded, so the double and its floor agree bit-for-bit
    * while T_s * 2^20 < 2^53 — the documented width knob); from there
    * e_s = (B*s_s) div (T_s*W) and the fractional threshold
    * thr_s = (rem*2^20 - 1) div (T_s*W) are exact integer divisions —
    * B*T*s_s, T_s*W, and the 2^20 rescale all run in DECIMAL(38,0) on the
    * K-row rates frame (they overflow BIGINT at multi-trillion-token
    * masses), and the per-doc test collapses back to one BIGINT compare
    * (bucket <= thr_s).
    *
    * Scale: per-stratum token counts are a tiny map-side-combined
    * aggregate; the rates frame (a handful of rows) broadcasts onto ONE
    * corpus scan; the epoch fan-out is a bounded `sequence` explode
    * (<= ceil(max r_s) rows per doc). Zero corpus exchanges before the
    * trailing fixture-comparability sort — a deployment writes the
    * manifest straight to the l12 shuffle instead. */
  def l33BudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    val rates = budgetRates(
      docs.groupBy($"lang").agg(sum($"n_tokens").as("t_s")), BUDGET_EPOCHS)
    docs
      .join(broadcast(rates), "lang")
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(concat('m#', CAST(doc_id AS STRING))), 1, 5), 16, 10) AS BIGINT)"))
      .withColumn("copies",
        $"e_s" + when($"bucket" <= $"thr_s", 1L).otherwise(0L))
      .filter($"copies" > 0)
      .select($"doc_id", $"lang", $"n_tokens",
        explode(expr("sequence(CAST(0 AS BIGINT), copies - 1)")).as("epoch"))
      .orderBy($"doc_id", $"epoch")
  }

  /** The rates plane of [[l33BudgetMix]], factored for direct testing at
    * synthetic heavy-tier token counts (where rem*2^20 exceeds a BIGINT
    * and the DECIMAL path must carry the division): from per-stratum
    * token counts (stratum, t_s) to (stratum, e_s, thr_s). */
  private[graft] def budgetRates(counts: DataFrame, budgetEpochs: Long): DataFrame = {
    import counts.sparkSession.implicits._
    // corpus totals as a global window over the K-row counts frame (one
    // SinglePartition hop on K rows) — a separate .agg would re-derive the
    // counts subtree and scan the corpus twice
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("s_s",
        floor(sqrt($"t_s".cast("double") * lit(1048576d))).cast("long"))
      .withColumn("t", sum($"t_s").over(wAll))
      .withColumn("w", sum($"s_s").over(wAll))
      // bss and tw ride in DECIMAL(38,0) end-to-end (the oracle's HUGEINT):
      // at the multi-trillion-token masses the 100 TB narrative targets
      // (t ~ 1e13, s_s ~ 5e9) both products overflow BIGINT long before
      // the threshold division — only e_s/thr_s collapse back to BIGINT
      // (bounded by the epoch count resp. the 2^20 bucket space). The
      // DECIMAL-38 headroom bound is rem * 2^20 < 10^38, i.e. per-stratum
      // token mass below ~10^24 — far past any physical corpus.
      .withColumn("bss", lit(budgetEpochs).cast("decimal(20,0)") *
        $"t".cast("decimal(20,0)") * $"s_s".cast("decimal(20,0)"))
      .withColumn("tw", $"t_s".cast("decimal(20,0)") * $"w".cast("decimal(20,0)"))
      .withColumn("e_s", expr("bss div tw"))
      .withColumn("rem", $"bss" - $"e_s" * $"tw")
      .withColumn("thr_s", when($"rem" > 0, expr(
        "(rem * CAST(1048576 AS DECIMAL(7,0)) - 1) div tw"))
        .otherwise(lit(-1L)))
      .select(counts.columns.head, "t_s", "e_s", "thr_s")
  }

  /** Quality floor for [[l13CorpusExport]]'s fixed-threshold gate (the
    * adaptive per-stratum form is L4g; a flagship pipeline uses the cheap
    * production rule so every stage stays one codegen'd scan). */
  val EXPORT_MIN_QUALITY = 0.5

  /** L13 [EXT]: the whole training-corpus export as ONE declarative plan —
    * the query a user of this engine actually ships: quality gate → exact
    * dedup → benchmark decontamination → language-mix rebalance → token
    * packing, emitting the loader manifest (doc, shard, pack). Each stage
    * is the production shape its standalone operator established:
    *
    *  1. gate: distinct-word ratio ≥ [[EXPORT_MIN_QUALITY]] and a token
    *     band — per-row codegen, no shuffle;
    *  2. exact dedup: min doc_id per text over ONE window keyed by the
    *     8-byte xxhash64 of the text (l1_xxh posture: the oracle groups by
    *     the text itself, so equality doubles as the collision check).
    *     This is the pipeline's one full-corpus shuffle — unavoidable,
    *     because unlike L1's hash rollup the survivors' rows must ship;
    *  3. decontam: drop docs sharing ANY 5-gram md5p48 key with the
    *     benchmark set (doc_id < 50) — broadcast bench keys, left-anti on
    *     the distinct contaminated ids (l2f anchor semantics);
    *  4. mix: temperature-0.5 language rates computed over the SURVIVORS
    *     (mixture targets apply to what ships, not the raw corpus), kept
    *     via the deterministic md5 bucket — broadcast rates, no shuffle;
    *  5. pack: l9's exclusive-running-total pack assignment per
    *     (source, shard) stratum.
    *
    * Catalyst pipelines stages 1/3-filter/4/5-projection into the scans
    * around the single stage-2 exchange: the five-stage pipeline costs one
    * corpus shuffle plus two broadcast builds — the plan a hand-rolled
    * five-job workflow (reference src/pipeline: extract→store→query as
    * separate async stages) cannot fuse. */
  def l13CorpusExport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.ShingleHashes.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val K = graft.llm.Dedup.SHINGLE_K

    // 1: quality gate (corpus side only; doc_id < 50 is the held-out bench)
    val scored = docs
      .filter($"doc_id" >= 50)
      .withColumn("words", split($"text", " "))
      .withColumn("qscore",
        size(array_distinct($"words")).cast("double") / size($"words"))
      .withColumn("tokens", size($"words").cast("long"))
      .filter($"qscore" >= EXPORT_MIN_QUALITY && $"tokens".between(5, 2000))
      .select($"doc_id", $"lang", $"source", $"text", $"tokens")

    // 2: exact dedup — the one corpus-wide exchange
    val wT = Window.partitionBy(xxhash64($"text"))
    val deduped = scored
      .withColumn("rep", min($"doc_id").over(wT))
      .filter($"doc_id" === $"rep")
      .drop("rep")

    // 3: decontamination (shingles only over survivors — cheaper than the
    // full corpus, same result: the anti-join can only remove rows present)
    val bench = docs.filter($"doc_id" < 50)
      .select(explode(expr(s"shingle_hashes(text, $K, 'md5p48')")).as("sh"))
      .distinct()
    val contaminated = deduped
      .select($"doc_id", explode(expr(s"shingle_hashes(text, $K, 'md5p48')")).as("sh"))
      .join(broadcast(bench), "sh")
      .select($"doc_id").distinct()
    val clean = deduped
      .join(contaminated, Seq("doc_id"), "left_anti")

    // 4: language mix over survivors. UNLIKE l13b (whose manifest the
    // domain cap bounds, so lang windows ride a tiny frame), clean is
    // corpus-scale — the right shape is the broadcast-rates join. The
    // round-11 fix is only in how rates derive: n_min as a window over
    // the K-ROW counts frame instead of a counts.agg + crossJoin that
    // re-derived the whole survivor chain a third time.
    val counts = clean.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .withColumn("n_min", min($"n_lang").over(
        Window.partitionBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"lang",
        sqrt($"n_min".cast("double") / $"n_lang".cast("double")).as("rate"))
    val mixed = clean
      .join(broadcast(rates), "lang")
      .filter(bucket256.cast("double") < $"rate" * 256d)

    // 5: pack + manifest
    val wP = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    mixed
      .withColumn("shard", bucket256 % PACK_SHARDS)
      .withColumn("pack_id",
        (coalesce(sum($"tokens").over(wP), lit(0L)) / PACK_BUDGET).cast("long"))
      .select($"doc_id", $"lang", $"source", $"tokens", $"shard", $"pack_id")
      .orderBy($"doc_id")
  }

  /** l13b segment screen: minimum fraction of a doc's SEGMENT_WORDS-word
    * segments that must be corpus-first-occurrences (the l24 rule) for the
    * doc to survive — docs mostly made of text duplicated elsewhere are
    * boilerplate, not signal. 0.8 exercises the drop path on the fixture's
    * planted cross-doc segments without starving later stages. */
  val EXPORT_SEG_KEEP_MIN = 0.8

  /** l13b graded decontamination: maximum fraction of a doc's distinct
    * 5-gram spans that may appear in the held-out benchmark set (l23's
    * containment metric). Graded — unlike l13's any-hit anti-join, one
    * incidental shared idiom does not nuke a document; the fixture's
    * planted near-verbatim contaminations sit near 1.0 and are dropped. */
  val EXPORT_CONTAM_MAX = 0.2

  /** L13b [EXT]: corpus export v2 — the full training-data assembly the
    * round-9 operators exist for, composed into ONE declarative plan:
    *
    *  1. quality gate (l13's: distinct-word ratio ≥ EXPORT_MIN_QUALITY,
    *     token band) — per-row codegen on the scan;
    *  2. exact dedup — l1_xxh as a pure HASH ROLLUP: min doc_id per
    *     xxhash64(text), a 16-byte-row exchange (unlike l13, no survivor
    *     row ever rides the dedup shuffle — see the manifest note below);
    *  3. segment screen — l24's first-occurrence rule over the winners'
    *     aligned 5-word segments, as a keep-fraction filter
    *     (≥ EXPORT_SEG_KEEP_MIN): 24-byte (doc_id, i, key) rows only;
    *  4. graded decontam — l23's containment metric against the held-out
    *     bench set (doc_id < 50): distinct-span md5p48 keys, bench set
    *     broadcast, drop docs with containment > EXPORT_CONTAM_MAX;
    *  5. domain cap — l16's best-first per-source quota (WindowGroupLimit
    *     partial top-K, ships O(sources × cap) rows);
    *  6. leakage-safe split — l18's exprs VERBATIM (the shipped
    *     assignment, not a re-derivation), zero-shuffle;
    *  7. language mix — l13's temperature-0.5 rates over the capped
    *     survivors, as per-lang + global windows on the ONE manifest
    *     stream (the cap bounds it at |sources| × cap rows);
    *  8. pack — l9's exclusive-running-total per (source, shard); split
    *     is a function of source, so the stratum is unchanged by 6.
    *
    * The 100 TB posture: this emits the export MANIFEST (doc_id →
    * split/shard/pack assignment), not the corpus — so unlike l13, whose
    * dedup window must ship survivor rows, NO stage here ever puts
    * document text on an exchange: every decision plane rides 8-byte
    * hashes plus ids (PlanAuditSpec machine-checks no exchange input
    * carries text/words), and the text itself ships exactly once, in the
    * sink that joins the manifest back at write time (clusteredWrite —
    * S9's job, not the planner's). Catalyst fuses the gate into all three
    * scan branches and chains the per-doc decision joins on one doc_id
    * partitioning. */
  def l13bCorpusExportV2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.ShingleHashes.register(spark)
    val K = graft.llm.Dedup.SHINGLE_K
    val W = graft.llm.Dedup.SEGMENT_WORDS
    val docs = Tables.documents(spark, sfDir)

    // 1: quality gate, shared by every branch (text consumed map-side)
    val gated = docs
      .filter($"doc_id" >= 50)
      .withColumn("ws", split($"text", " "))
      .withColumn("n_words", size($"ws").cast("long"))
      .withColumn("n_distinct", size(array_distinct($"ws")).cast("long"))
      .withColumn("qratio", $"n_distinct".cast("double") / $"n_words")
      .filter($"qratio" >= EXPORT_MIN_QUALITY && $"n_words".between(5, 2000))

    // 2: exact-dedup winners — a 16-byte hash rollup, never the rows.
    // The id manifest is consumed TWICE (segment screen + assembly);
    // materialize it once or each consumer re-derives the corpus scan —
    // Probe plan measured the inlined form at 24 scans for the whole
    // query vs ~6 after this and the two window reworks below.
    val winners = gated
      .groupBy(xxhash64($"text").as("h")).agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
      .localCheckpoint()

    // 3: segment screen over the winners (l24 rule; l4f digest-after-
    // explode idiom keeps xxhash64 in the codegen'd projection). ONE
    // consumption: the first-occurrence flag is a min-over-bucket window
    // (8-byte k exchange), so n_kept and n_segs fall out of a single
    // per-doc rollup — the former two-groupBy+join form re-derived the
    // whole segment subtree (scan, explode, winners join) a second time.
    val segKeys = gated
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws) / $W.0) as int) - 1)," +
          s" i -> array_join(slice(ws, i * $W + 1, $W), ' '))")))
      .toDF("doc_id", "i", "seg")
      .select($"doc_id", $"i", xxhash64($"seg").as("k"))
      .join(winners, "doc_id")
    val byBucket = Window.partitionBy($"k")
    val segOk = segKeys
      .withColumn("first",
        (min(struct($"doc_id", $"i")).over(byBucket) === struct($"doc_id", $"i"))
          .cast("long"))
      .groupBy($"doc_id")
      .agg(sum($"first").as("n_kept"), count(lit(1)).as("n_segs"))
      .filter($"n_kept".cast("double") / $"n_segs" >= EXPORT_SEG_KEEP_MIN)
      .select($"doc_id")

    // 4: graded decontam — distinct-span keys vs the broadcast bench set
    val bench = docs.filter($"doc_id" < 50)
      .select(explode(expr(s"shingle_hashes(text, $K, 'md5p48')")).as("sh"))
      .distinct().withColumn("hit", lit(1L))
    val contamBad = gated
      .select($"doc_id", explode(expr(s"shingle_hashes(text, $K, 'md5p48')")).as("sh"))
      .join(broadcast(bench), Seq("sh"), "left_outer")
      .groupBy($"doc_id")
      .agg((sum(coalesce($"hit", lit(0L))).cast("double") / count(lit(1))).as("contam"))
      .filter($"contam" > EXPORT_CONTAM_MAX)
      .select($"doc_id")

    // 2+3+4 assemble the kept manifest on one doc_id partitioning
    val kept = gated
      .select($"doc_id", $"lang", $"source", $"n_words".as("tokens"),
        ($"qratio" * 0.7 +
          when($"n_words".between(20, 1000), 0.3).otherwise(0.0)).as("cap_score"))
      .join(winners, "doc_id")
      .join(segOk, "doc_id")
      .join(contamBad, Seq("doc_id"), "left_anti")

    // 5: domain cap (l16's Filter-over-Window shape → WindowGroupLimit)
    val bySource = Window.partitionBy($"source")
      .orderBy($"cap_score".desc, $"doc_id".asc)
    val capped = kept
      .withColumn("rk", row_number().over(bySource))
      .filter($"rk" <= graft.llm.TextAnalysis.DOMAIN_CAP)
      .select($"doc_id", $"lang", $"source", $"tokens")

    // 6: the l18 split assignment, verbatim exprs
    val withSplit = capped.withColumn("split", splitLabel(splitBucket))

    // 7: language mix over the capped survivors — rates as windows over
    // the ONE manifest stream (the former counts/crossJoin form consumed
    // withSplit twice, re-deriving the entire upstream for a K-row rates
    // frame). The global n_min window is a single-partition pass over a
    // frame the domain cap bounds at |sources| × cap rows at ANY corpus
    // size — the l33 tiny-frame global-window precedent.
    val byLang = Window.partitionBy($"lang")
    val mixed = withSplit
      .withColumn("n_lang", count(lit(1)).over(byLang))
      .withColumn("n_min", min($"n_lang").over(
        Window.partitionBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rate",
        sqrt($"n_min".cast("double") / $"n_lang".cast("double")))
      .filter(bucket256.cast("double") < $"rate" * 256d)
      .drop("n_lang", "n_min", "rate")

    // 8: pack (split = f(source), so the l9 stratum is unchanged)
    val wP = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    mixed
      .withColumn("shard", bucket256 % PACK_SHARDS)
      .withColumn("pack_id",
        (coalesce(sum($"tokens").over(wP), lit(0L)) / PACK_BUDGET).cast("long"))
      .select($"doc_id", $"lang", $"source", $"split", $"tokens", $"shard", $"pack_id")
      .orderBy($"doc_id")
  }

  /** L13c [EXT]: the export SINK — the step l13b's manifest design
    * defers: join the manifest back to the corpus (the ONE place document
    * text moves, exactly as l13b's scale note promises) and ship it as a
    * (split, shard)-partitioned parquet tree — the layout a training-data
    * loader consumes (split dirs for train/valid/test, shard dirs for
    * parallel readers). Delivery is then PROVEN, not assumed: the result
    * reads the tree back and emits the manifest plus md5(text) recomputed
    * FROM THE SINK, so the oracle (the same eight-stage chain joined to
    * the source table's md5) verifies that exactly the right text landed
    * under exactly the right partition keys. Repartitioning on the
    * partition columns first keeps file count ≈ dir count (the s5/s6
    * small-files rule); at 100 TB swap the inner write for clusteredWrite
    * per dir to add row-group skipping (S9). */
  def l13cExportSink(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = spark.conf.get("spark.graft.scratchDir", "/root/repo/target/graft-tmp") +
      "/export_sink"
    val shipped = l13bCorpusExportV2(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"text"), "doc_id")
      // explicit partition count: an unsized keyed repartition is AQE-
      // coalesced to one task at this exchange size and the (split, shard)
      // dirs then write serially in a single task (the s5/s6 finding);
      // hashing the dirs over the session cores keeps file count ≈ dir
      // count while the per-dir writer open/close runs in parallel
      .repartition(spark.sparkContext.defaultParallelism, $"split", $"shard")
    Tables.sink(out) {
      shipped.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("split", "shard").parquet(out)
    }
    Tables.readMemo(spark, out)
      .select($"doc_id", $"lang", $"source", $"split", $"tokens",
        $"shard".cast("long").as("shard"), $"pack_id", md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** Chunk width / stride in words. Width models a context budget the way
    * PACK_BUDGET does (raise to 2048+ in production); stride < width gives
    * the 25% overlap RAG indexers keep so no answer span is cut at a
    * boundary. */
  val CHUNK_WIDTH = 32
  val CHUNK_STRIDE = 24

  /** L15 [EXT]: sliding-window chunking — fan each document out into
    * overlapping fixed-width word windows (doc_id, chunk_id, chunk_text,
    * n_tokens): the unit-of-retrieval split every RAG index and every
    * fixed-context training shard starts from. A document with n words
    * yields 1 + ceil(max(n - W, 0) / S) chunks; the final chunk is the
    * ragged tail (n_tokens <= W), kept because dropping it loses the
    * document ending.
    *
    * Scale: pure per-row fan-out — `sequence`/`explode`/`slice` are all
    * codegen'd (no higher-order lambda; the chunk is sliced directly from
    * the split word array), so the operator streams at scan speed with NO
    * shuffle at all (the trailing orderBy is fixture-scale presentation,
    * dropped in production where the sink partitions by doc hash). Output
    * size is input x (W/S) — the expansion is the operator's contract,
    * bounded by the overlap ratio, never quadratic. */
  def l15Chunk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (w, s) = (CHUNK_WIDTH, CHUNK_STRIDE)
    Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("w"))
      .withColumn("nw", size($"w").cast("long"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(0L, (greatest(nw - $w, 0L) + ${s - 1}) div $s)")))
      .select($"doc_id", $"chunk_id",
        concat_ws(" ", slice($"w", ($"chunk_id" * s + 1).cast("int"), lit(w))).as("chunk_text"),
        least($"nw" - $"chunk_id" * s, lit(w.toLong)).as("n_tokens"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** L18 [EXT]: leakage-safe train/valid/test split. The split key is the
    * GROUP (here `source`, the domain), not the document: near-duplicates
    * overwhelmingly share a provenance group, so hashing the group sends
    * every member to the SAME split and the eval set can't leak training
    * text — the standard guard (docs-level random split is the classic
    * train/test contamination bug). Fractions over 256 md5 buckets:
    * [0,205) train (~80%), [205,230) valid (~10%), [230,256) test.
    *
    * Pure map over the corpus — zero shuffles, streams at scan speed at
    * any size; the decision is a function of content (md5 of the group
    * key), so re-runs, retries, engine swaps, and later corpus additions
    * assign identically (new docs of a known domain join its split). */
  /** The l18 assignment expressions, shared so the contamination screen
    * (l19, Dedup.scala) audits the EXACT split l18 ships. */
  private[llm] val splitBucket: org.apache.spark.sql.Column =
    expr("CAST(conv(substr(md5(source), 1, 2), 16, 10) AS BIGINT)")
  private[llm] def splitLabel(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(b < 205, lit("train")).when(b < 230, lit("valid")).otherwise(lit("test"))

  def l18LeakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("bucket", splitBucket)
      .withColumn("split", splitLabel($"bucket"))
      .select($"doc_id", $"source", $"bucket", $"split",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** Hashed feature buckets for [[l28DsirSample]] — small so bucket
    * collisions (the method's regularization) actually occur on the
    * fixture vocabulary; production uses 10k-100k. */
  val DSIR_BUCKETS = 64

  /** Docs kept by the importance resampling. */
  val DSIR_KEEP = 100

  /** L28 [EXT]: data selection by importance resampling (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * DSIR): score every raw document by how much more likely its tokens
    * are under the TARGET distribution (here the English stratum) than
    * under the raw corpus, both estimated over hashed n-gram feature
    * buckets, then sample ∝ weight via the Gumbel-top-k trick.
    *
    * Exactness discipline (the l17 idiom): per-bucket log-probabilities
    * quantize ONCE at fit time to integer micronats — add-one smoothing
    * over [[DSIR_BUCKETS]] buckets, bucket = md5-prefix hash of the token
    * (the engine-portable l6/l18 hash; xxhash64 has no DuckDB replay) —
    * so a document's log-weight is an integer SUM of per-token deltas,
    * associative under any partitioning. The Gumbel key adds a
    * per-document noise term derived from md5(doc_id) (20 uniform bits →
    * −ln(−ln(u)), quantized to micronats); CorpusOpsSpec margin-checks
    * every quantization input on the fixture.
    *
    * Plan shape at 100 TB: THREE corpus passes, nothing else — the raw
    * and target vocabulary maps each collapse in one
    * [[graft.plans.WordCountAgg]] pass (the target pass's stratum filter
    * is pushed to the scan), every per-bucket derivation then runs as
    * expressions on those two SINGLE ROWS (interpreted lambdas at
    * vocab×buckets size, off the corpus path), and scoring is the
    * shuffle-free broadcast [[graft.plans.BucketScore]] pass with the
    * B-element Δmicronats array riding the broadcast (per-token probe =
    * one md5 + one array index; the word→delta MAP formulation this
    * replaced cost a vocabulary-sized linear scan per token — 245 s at
    * sf5). The final cut is a TakeOrdered of (key desc, doc_id). */
  def l28DsirSample(spark: SparkSession, sfDir: String): DataFrame =
    l28From(Tables.documents(spark, sfDir), DSIR_KEEP)

  /** l28 over any `(doc_id, lang, text)` frame — CorpusOpsSpec drives a
    * synthetic corpus with a REAL target signal through it (the fixture's
    * languages share one word distribution, so en-enrichment is only
    * assertable where signal exists by construction). */
  private[graft] def l28From(docs: DataFrame, keep: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.plans.WordCountAgg.register(spark)
    graft.plans.BucketScore.register(spark)
    val B = DSIR_BUCKETS
    val rawMap = docs.agg(expr("word_count_agg(text)").as("mr"))
    val tgtMap = docs.filter($"lang" === "en")
      .agg(expr("word_count_agg(text)").as("mt"))
    def bucketSql(key: String) =
      s"pmod(CAST(conv(substr(md5($key), 1, 2), 16, 10) AS BIGINT), $B)"
    // per-bucket smoothed log-prob array for a vocabulary map column:
    // mn[b] = round(ln((cnt_b + 1) / (total + B)) * 1e6), computed on the
    // ONE fitted row (vocab × B interpreted work, never corpus work)
    def mnArrSql(m: String) =
      s"""transform(sequence(0, ${B - 1}), b ->
         |  CAST(round(ln(CAST(aggregate(map_entries($m), 0L,
         |         (acc, e) -> acc + IF(${bucketSql("e.key")} = b, e.value, 0L)) + 1 AS DOUBLE)
         |       / CAST(aggregate(map_values($m), 0L, (acc, v) -> acc + v) + $B AS DOUBLE))
         |     * 1000000D) AS BIGINT))""".stripMargin
    val model = rawMap.crossJoin(tgtMap)
      .select($"mr", expr(mnArrSql("mt")).as("mnt"), expr(mnArrSql("mr")).as("mnr"))
      // per-BUCKET deltas, not a per-word map: every corpus word's delta
      // IS mnt[b(w)] - mnr[b(w)], so the word dimension is redundant and
      // the model collapses to B longs — which is also what makes the
      // scoring probe O(1): the vocabulary-sized word map fed to the
      // model_score kernel cost a linear MapData scan PER TOKEN
      // (measured 245 s at sf5's 46k-word vocabulary; plans.BucketScore
      // Scaladoc has the numbers)
      .select(expr("zip_with(mnt, mnr, (t, r) -> t - r)").as("deltas"))
    // Gumbel key: u from 20 md5 bits of the doc id (engine-portable),
    // g = -ln(-ln(u)) quantized to micronats
    val gumbelMn = expr(
      """CAST(round(-ln(-ln((CAST(conv(substr(md5(concat('g#', CAST(doc_id AS STRING))), 1, 5), 16, 10) AS BIGINT) + 0.5D) / 1048576D)) * 1000000D) AS BIGINT)""")
    docs.crossJoin(broadcast(model))
      .select($"doc_id", $"lang",
        expr("bucket_score(text, deltas)").as("sc"),
        gumbelMn.as("gumbel_mn"))
      .select($"doc_id", $"lang",
        $"sc.sum_micronats".as("weight_mn"),
        $"gumbel_mn",
        ($"sc.sum_micronats" + $"gumbel_mn").as("key_mn"))
      .orderBy($"key_mn".desc, $"doc_id".asc)
      .limit(keep)
  }
}
