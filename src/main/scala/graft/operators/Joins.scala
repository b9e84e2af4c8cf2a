package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Join family (SURVEY.md §2.3): the vendor-enrichment semantics of the
  * reference — left-outer with null-miss rows (vendor.rs:82-115), the two
  * concurrent enrichment branches (vendor.rs:52-55), semi/anti membership —
  * re-keyed onto the star schema, plus an as-of join [EXT] on events.
  *
  * Scale notes: dimension sides (customer, supplier, part at these shapes)
  * are broadcast — no shuffle of the fact table; AQE picks broadcast when
  * sizes allow, and we hint it explicitly where the dimension is known
  * small. The as-of join is a union + running-last window, which shuffles
  * each side once by key — no per-row point lookups anywhere.
  */
object Joins {

  /** J1: enrich with details — left outer equi-join; misses keep the row
    * with NULL payload (the HTTP-400 path). Broadcast the dimension. */
  def j1EnrichDetails(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    o.join(broadcast(c), $"o_custkey" === $"c_custkey", "left_outer")
      .select(
        $"o_orderkey",
        coalesce($"c_name", lit("Unknown")).as("name"),
        $"c_mktsegment".as("segment"))
      .orderBy($"o_orderkey")
  }

  /** J2: enrich with a 1:0..1 aggregate branch (ratings analog) —
    * failure/absence tolerated as NULLs (`ratings_result.ok()`). */
  def j2EnrichRatings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = Tables.supplier(spark, sfDir)
    val revenue = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(
        count(lit(1)).as("n_items"),
        sum(graft.Exact.money($"l_extendedprice")).cast("double").as("revenue"))
    s.join(revenue, $"s_suppkey" === $"l_suppkey", "left_outer")
      .select($"s_suppkey", $"s_name", $"n_items", $"revenue")
      .orderBy($"s_suppkey")
  }

  /** J3: enrich with top-K recent children re-nested to one column per key
    * (reviews: newest 30, api.rs:188-193 — here newest 3 orders/customer).
    * Window top-K then a sorted array join; deterministic tiebreaks. */
  def j3EnrichReviews(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey")
    Tables.orders(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("n_recent"),
        array_join(
          transform(
            array_sort(collect_list(struct($"rk", $"o_orderkey"))),
            x => x.getField("o_orderkey").cast("string")),
          ",").as("recent_orders"))
      .orderBy($"o_custkey")
  }

  /** J4: semi join — membership without payload (codes present in the
    * current page batch, main.rs:144-156). */
  def j4SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // range predicate (not year(...)=N) so it pushes down to the parquet scan
    val active = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp")
        && $"o_orderdate" < lit("2002-01-01").cast("timestamp"))
    Tables.customer(spark, sfDir)
      .join(active, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** J5: anti join — the QC view of keys whose enrichment never arrived. */
  def j5AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val active = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp")
        && $"o_orderdate" < lit("2002-01-01").cast("timestamp"))
    Tables.customer(spark, sfDir)
      .join(active, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** J6 range join [EXT]: event pairs within a 60s window per user. The
    * naive inequality join is a nested-loop (quadratic per user); the
    * banded form buckets time into window-width bands and equi-joins on
    * (user, band) with the probe side exploded to its two candidate
    * bands — pair volume is band-collision-bound, plan is a hash join.
    * Each qualifying pair matches exactly one band key (no dedup pass).
    */
  def j6RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = 60L * 1000000 // 60s in micros
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
      .withColumn("band", expr(s"ts_us div $W"))
    val x = e.as("x")
    // y is probed under its own band and the previous one: a pair with
    // 0 < y.ts - x.ts <= W has y.band ∈ {x.band, x.band + 1}
    val y = e.withColumn("jb", explode(array($"band", $"band" - 1))).as("y")
    x.join(y,
        $"x.user_id" === $"y.user_id" && $"x.band" === $"y.jb" &&
          $"y.ts_us" > $"x.ts_us" && $"y.ts_us" - $"x.ts_us" <= W)
      .select($"x.event_id".as("event_a"), $"y.event_id".as("event_b"),
        ($"y.ts_us" - $"x.ts_us").as("gap_us"))
      .orderBy($"event_a", $"event_b")
  }

  /** Salt width for [[j7SkewJoin]] — production sizes this to the skew
    * ratio (hot-key rows / healthy partition size); 8 keeps the toy
    * fixture's replication visible without drowning it. */
  private[graft] val SKEW_SALT = 8

  /** J7 [EXT]: skew-salted shuffle join — the structural answer to the
    * hot-KEY join problem. AQE's OptimizeSkewedJoin (SkewJoinSpec) splits
    * a hot shuffle PARTITION at runtime, but it only fires on the
    * sort-merge path of supported join types and repairs one materialized
    * skew after the fact; the salted form removes the skew from the key
    * space itself, so it composes with bucketing, survives plan shapes
    * the AQE rewrite can't touch, and bounds EVERY reducer by
    * construction. Shape: (1) a key histogram over the fact — map-side
    * combined, so the exchange carries at most |distinct keys| rows per
    * map partition, never the fact; (2) hot keys = load ≥ 9/8 of the
    * mean (k_n·n_keys·8 ≥ total·9 — exact BIGINT compare, no doubles),
    * a set at most 8/9·|keys| big, broadcast to both sides; (3) fact
    * rows on hot keys draw salt = pmod(xxhash64(event_id), SALT), cold
    * rows ride salt 0; dim rows on hot keys replicate to ALL SALT salts
    * (sequence explode), cold dim rows ride once — so the replication
    * cost is SALT·|hot keys|, not SALT·|dim|; (4) ONE equi-join on
    * (key, salt), shuffle-hash-hinted to model the dimension too large
    * to broadcast (the only regime where salting matters). Each fact row
    * carries exactly one salt, so misses emit exactly once and the
    * result is salt- and threshold-invariant: the oracle is the PLAIN
    * left join. Only the reducer histogram changes — the hot key's rows
    * spread over SALT reducers instead of one straggler. */
  def j7SkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fact = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type")
    val dim = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    // ONE histogram materialization (16-byte rows, one per key): the hot
    // set is consumed three times below (totals, fact side, dim side),
    // and without the checkpoint each consumer would re-scan the fact —
    // the probe measured 6 scans vs 2 (Probe plan; PlanAuditSpec pins
    // the fixed plan). |hist| = |keys|, executor-local storage.
    val hist = fact.groupBy($"user_id").agg(count(lit(1)).as("k_n"))
      .localCheckpoint()
    val hot = hist
      .crossJoin(broadcast(
        hist.agg(sum($"k_n").as("total"), count(lit(1)).as("n_keys"))))
      .filter($"k_n" * $"n_keys" * 8 >= $"total" * 9)
      .select($"user_id".as("hot_key"))
    val saltedFact = fact
      .join(broadcast(hot), $"user_id" === $"hot_key", "left_outer")
      .withColumn("salt",
        when($"hot_key".isNull, lit(0))
          .otherwise(pmod(xxhash64($"event_id"), lit(SKEW_SALT)).cast("int")))
      .drop("hot_key")
    val repDim = dim
      .join(broadcast(hot), $"c_custkey" === $"hot_key", "left_outer")
      .withColumn("d_salt", explode(
        when($"hot_key".isNull, array(lit(0)))
          .otherwise(expr(s"sequence(0, ${SKEW_SALT - 1})"))))
      .drop("hot_key")
    saltedFact
      .join(repDim.hint("shuffle_hash"),
        $"user_id" === $"c_custkey" && $"salt" === $"d_salt", "left_outer")
      .select($"event_id", $"user_id",
        coalesce($"c_name", lit("Unknown")).as("name"),
        $"c_mktsegment".as("segment"))
      .orderBy($"event_id")
  }

  /** As-of join [EXT]: for each purchase event, the nearest earlier-or-equal
    * signup by the same user. Implemented distributed: union both sides,
    * one shuffle by user, running `last(signup_ts, ignoreNulls)` in event
    * order. Signups sort before purchases at equal ts (side flag in the
    * order key) to get `purchase.ts >= signup.ts` inclusive semantics —
    * identical to DuckDB's ASOF JOIN.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    val signups = e.filter($"event_type" === "signup")
      .select($"user_id", $"ts_us", lit(0).as("side"), lit(null).cast("long").as("event_id"))
      .withColumn("signup_ts_us", $"ts_us")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", lit(1).as("side"), $"event_id")
      .withColumn("signup_ts_us", lit(null).cast("long"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionByName(purchases)
      .withColumn("last_signup_us", last($"signup_ts_us", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"user_id", $"ts_us", $"last_signup_us")
      .orderBy($"event_id")
  }
}
