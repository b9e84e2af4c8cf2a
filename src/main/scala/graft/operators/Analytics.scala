package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Composite analytics queries exercising the optimizer end-to-end:
  * multi-way joins over the full star schema (broadcast dimension chains,
  * join reordering, partial aggregation) plus the salting pattern for
  * skewed keys. These are the "whole-engine" workouts on top of the
  * per-operator inventory in SURVEY.md §2.
  */
object Analytics {

  import graft.Exact.money

  /** Q2: shipping-priority style — top-10 open orders by pending revenue
    * for one segment: customer ⋈ orders ⋈ lineitem with both date sides
    * pruned at the scans, revenue in exact decimal, TakeOrdered top-K.
    *
    * The declared form IS [[q2From]]'s shuffle core (under the session's
    * AQE hash-join conversion): the r14 CROSSOVER campaign measured every
    * adaptive alternative for q2 on all four tiers and the core won or
    * tied each one once gate costs count — q2's fact side is already
    * date-pruned, so the shuffle a broadcast would replace is ~5x
    * cheaper than q3's, and its filtered dims (4-8M rows at sf25/50)
    * sit past the broadcast budget's wall crossing. [[q2PlainFrom]]
    * remains the adaptive variant for deployments whose item cut is
    * genuinely selective (a 1-2% late-shipdate slice → its arm-1
    * zero-exchange plan), value-pinned equal in SemanticsSpec. */
  def q2ShippingPriority(spark: SparkSession, sfDir: String): DataFrame =
    q2From(spark, Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir))

  /** The plain (unbucketed) star forms' join-strategy gate. The plain
    * q2/q3 gap vs a single-node engine was never arithmetic — it was the
    * fact-table shuffle (CROSSOVER r13: plain q3 9.0x at sf50, ~2 GB
    * spilled; DuckDB's plan is scan + in-memory hash join, no exchange at
    * all). The distributed plan that matches it is the same algorithm:
    * build a hash table on the FILTERED dimension side and stream the
    * fact scan through it — i.e. a broadcast-hash join — which is only
    * safe when the filtered side actually fits an executor. Static stats
    * can't see that (a Filter's sizeInBytes estimate is its child's, so
    * the planner sees "650 MB", never "5M surviving rows"), so the
    * library measures it: one cheap COUNT over the filtered column —
    * parquet reads just the predicate columns and row-group stats skip
    * most groups outright — then hints broadcast iff the count clears
    * `spark.graft.star.broadcastMaxDimRows`. The default budget (3.5M rows)
    * is NOT a memory bound — it is the measured wall crossing of the
    * broadcast's DRIVER-SERIAL term (collect + hash-relation build +
    * send, ~0.25s per million 16-byte rows on the bench host) against
    * the shuffle it replaces: a 2.9M-row dim still wins 1.4x end-to-end
    * at the 300M-row tier (q3/sf50), a 4.0M-row dim already loses the
    * wall it saves in stage compute (q2/sf25) — the default splits the
    * measured bracket; both plans are in CROSSOVER.md. Deployments with
    * more executor cores per driver raise it. At 100 TB the count says
    * billions → the gate falls back to the shuffle join, which is
    * exactly the plan a 1000-executor network spreads. Conf
    * `spark.graft.star.dimBroadcast`: `auto` (gate, default) | `force`
    * (always hint — single-box / known-small deployments) | `off`
    * (never — pure shuffle plan).
    *
    * `gates` are COUNT thunks, cheapest first, each an UPPER BOUND on
    * (or exactly) the dim's rows; the first one inside the budget
    * approves the broadcast without running the rest, so the common
    * small case pays one narrow pushed-down count and only the
    * ambiguous middle pays the precise join-side count. */
  private def gatedBroadcast(spark: SparkSession, dim: DataFrame,
      gates: Seq[() => Long]): DataFrame =
    spark.conf.get("spark.graft.star.dimBroadcast", "auto") match {
      case "force" => broadcast(dim)
      case "off" => dim
      case _ =>
        if (gates.exists(_() <= broadcastBudget(spark))) broadcast(dim) else dim
    }

  private def broadcastBudget(spark: SparkSession): Long =
    spark.conf.get("spark.graft.star.broadcastMaxDimRows", "3500000").toLong

  /** Q2 plain form at scale [r13 verdict item 5]: the gate picks among
    * THREE plan shapes from measured survivor counts, because q2's
    * optimal plans differ by which filtered side fits memory:
    *  1. Small surviving ITEM set (a late date cut — the classic case):
    *     aggregate revenue per order BELOW the join (a per-order BIGINT
    *     sum is exact — ≤7 items) and BROADCAST the pre-aggregate, so
    *     the 35M-row orders side never shuffles; o_orderkey is unique in
    *     orders, so the join emits one already-grouped row per
    *     qualifying order — the GROUP BY disappears and TakeOrdered(10)
    *     runs straight off the join. (The pre-aggregate WITHOUT the
    *     broadcast is a measured negative on this fixture — 49% of
    *     lineitem survives, the per-order hash table is corpus-sized,
    *     its exchange spilled ~1 GB at sf25 and lost 1.4x to the core.)
    *  2. Small surviving ORDERS set (this fixture: the BUILDING-segment
    *     date-cut orders are ~1/9 of orders): broadcast the fixed-width
    *     (o_orderkey, o_orderdate) dim — [[q3PlainFrom]]'s shape — so
    *     lineitem streams through the probe with no fact exchange, and
    *     the per-order aggregate shuffles only the ~1/9 of item rows
    *     that survive the probe instead of every filtered item.
    *  3. Both large: [[q2From]]'s join-then-aggregate shuffle core,
    *     where the aggregate reuses the join's partitioning (+ the
    *     session's AQE hash-join conversion, which removed its sort
    *     spill) — the 100 TB fallback a cluster spreads.
    * Each gate is one pushed-down narrow count; `force` takes shape 2
    * (the robust broadcast — the dim is bounded by orders, not items). */
  def q2PlainFrom(spark: SparkSession, customer: DataFrame, ordersT: DataFrame,
      lineitem: DataFrame): DataFrame = {
    import spark.implicits._
    val cut = lit("1998-07-01").cast("timestamp")
    val maxRows = broadcastBudget(spark)
    val mode = spark.conf.get("spark.graft.star.dimBroadcast", "auto")
    val cust = customer
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val dim = ordersT
      .filter($"o_orderdate" < cut)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_orderdate")
    def rev4 = (graft.Exact.cents($"l_extendedprice") *
      (lit(100L) - graft.Exact.cents($"l_discount"))).as("rev4")
    // arm order is a cost statement: shape 2's broadcast is the orders-
    // bounded FIXED-WIDTH dim — always the cheaper hash relation — so it
    // goes first whenever it fits (also: one gate count instead of two
    // in the common case). Shape 1 is the rescue for the huge-orders /
    // tiny-items corner (its pre-aggregate pays an items exchange AND a
    // per-order-width broadcast: measured 2.8x worse than shape 2 at the
    // 30M-row tier when items ran near the budget).
    val shape: Int = mode match {
      case "force" => 2
      case "off" => 3
      case _ =>
        if (dim.count() <= maxRows) 2
        else {
          // arm-1 gate is a LIMIT-probe, not a count: when the filtered
          // item set is huge (every case where arm 1 loses), LocalLimit
          // aborts each task at the cap and the probe costs ~a task wave
          // instead of a full 300M-row column scan; when it is small the
          // probe degenerates to the count it replaces
          val cap = math.min(maxRows, Int.MaxValue - 2L).toInt
          val probed = lineitem.filter($"l_shipdate" > cut)
            .limit(cap + 1).count()
          // compare against CAP, not maxRows: when a deployment sets the
          // budget above ~2.1B the LIMIT saturates at cap < maxRows and
          // `probed <= maxRows` would be vacuously true — a saturated
          // probe is over-budget evidence, so fall back to the shuffle
          if (probed <= cap) 1 else 3
        }
    }
    shape match {
      case 1 =>
        val items = lineitem
          .filter($"l_shipdate" > cut)
          .select($"l_orderkey", rev4)
          .groupBy($"l_orderkey")
          .agg(sum($"rev4").as("rev4"))
        dim
          .join(broadcast(items), $"o_orderkey" === $"l_orderkey")
          .select($"o_orderkey",
            unix_timestamp($"o_orderdate").as("orderdate_s"),
            ($"rev4".cast("double") / lit(1e4)).as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      case 2 =>
        lineitem
          .filter($"l_shipdate" > cut)
          .select($"l_orderkey", rev4)
          .join(broadcast(dim), $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderkey")
          .agg(min(unix_timestamp($"o_orderdate")).as("orderdate_s"),
            (sum($"rev4").cast("double") / lit(1e4)).as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      case _ => q2From(spark, customer, ordersT, lineitem)
    }
  }

  /** Q2 over caller-supplied base tables: the bench's bucketed tier passes
    * catalog tables bucketed on the order key, which run the same plan with
    * zero shuffle exchanges (bucket layout feeds the fact join AND the
    * post-join aggregation). */
  def q2From(spark: SparkSession, customer: DataFrame, ordersT: DataFrame,
      lineitem: DataFrame): DataFrame = {
    import spark.implicits._
    val cut = lit("1998-07-01").cast("timestamp")
    val cust = customer
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val orders = ordersT
      .filter($"o_orderdate" < cut)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    // revenue terms as exact 4dp-scaled longs: a per-ORDER group is ≤7
    // lineitems at any corpus scale (the TPC-H line-count bound), so a
    // raw BIGINT sum is exact and overflow-free — no decimal buffer, no
    // BigDecimal per row through the 75M-group hash aggregate that was
    // the bucketed form's residual stage cost (r12 verdict: 2.4x at
    // sf25). The date leaves the GROUPING KEY too (it is functionally
    // dependent on o_orderkey) and rides as a MIN aggregate — an 8-byte
    // compare per row instead of a second hashed key column.
    val items = lineitem
      .filter($"l_shipdate" > cut)
      .select($"l_orderkey",
        (graft.Exact.cents($"l_extendedprice") *
          (lit(100L) - graft.Exact.cents($"l_discount"))).as("rev4"))
    // the fused partial+final hash aggregate after the join builds TWO
    // ~|orders|-group hash tables back to back in one stage; with the
    // group key unique in orders the partial's reduction is marginal,
    // so one build is near-pure tax. The measured alternative
    // (r14 verdict item 4, a BenchStar arm through r15): keep the
    // SMJ and let spark.sql.execution.replaceHashWithSortAgg collapse
    // the pair into ONE Complete-mode SortAggregate streaming over the
    // join's own key order — the verdict lives in CROSSOVER.md.
    orders
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(items, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(min(unix_timestamp($"o_orderdate")).as("orderdate_s"),
        (sum($"rev4").cast("double") / lit(1e4)).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
  }

  /** Q3: revenue by nation for one region+year — the full dimension chain
    * region ⋈ nation ⋈ customer broadcast outward-in, the two fact tables
    * joined once on the order key. */
  def q3RevenueByNation(spark: SparkSession, sfDir: String): DataFrame =
    q3PlainFrom(spark, Tables.region(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir))

  /** Q3 plain form at scale [r13 verdict item 5]: the whole dimension
    * side — orders date-filtered to ~1/7, then the ASIA customer cut —
    * collapses to (o_orderkey, n_name), and the fact side is the FULL
    * lineitem scan; the r13 plan shuffled all of it (150M × 24B at sf25,
    * the measured 10x). Here the dim side is hash-joined through
    * [[gatedBroadcast]] (gate = the precise dim count — the date-only
    * count overcounts the ASIA cut ~5x): when it fits,
    * lineitem never exchanges — scan → broadcast probe → rev4 on the
    * ~1/35 surviving rows (arithmetic stays ABOVE the join, the r13
    * placement lesson) → 25-group partial agg, and the only exchange
    * left carries 25 rows. At 100 TB the gate falls back to the shuffle
    * join a cluster spreads. */
  def q3PlainFrom(spark: SparkSession, regionT: DataFrame, nationT: DataFrame,
      customer: DataFrame, ordersT: DataFrame, lineitem: DataFrame): DataFrame = {
    import spark.implicits._
    val region = regionT.filter($"r_name" === "ASIA")
    val nation = nationT
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    // the broadcast dim stays FIXED-WIDTH: (o_orderkey, n_nationkey) is
    // two longs per row — the nation NAME would triple the hash-relation
    // row (UnsafeRow string field + its bytes) and put a string hash
    // under the per-fact-row group-by; the 25-row nation lookup re-joins
    // AFTER the aggregate, where it costs nothing
    val cust = customer
      .join(broadcast(nation.select($"n_nationkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey")
    val dateLo = lit("1997-01-01").cast("timestamp")
    val dateHi = lit("1998-01-01").cast("timestamp")
    val inWindow = ordersT
      .filter($"o_orderdate" >= dateLo && $"o_orderdate" < dateHi)
    val dim = inWindow
      .select($"o_orderkey", $"o_custkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_nationkey")
    // gate chain, cheap -> precise: the date-window count is a narrow
    // pushed-down scan and an upper bound (it overcounts the ASIA cut
    // ~5x) — when IT fits, done in one cheap job; when it doesn't, the
    // precise dim count (the broadcast-cust probe rides the same job)
    // decides, so mid-size windows aren't wrongly rejected
    val gated = gatedBroadcast(spark, dim,
      Seq(() => inWindow.count(), () => dim.count()))
    graft.plans.Sum128.register(spark)
    lineitem
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(gated, $"l_orderkey" === $"o_orderkey")
      .select($"c_nationkey",
        (graft.Exact.cents($"l_extendedprice") *
          (lit(100L) - graft.Exact.cents($"l_discount"))).as("rev4"))
      .groupBy($"c_nationkey")
      .agg(
        expr("CAST(sum128(rev4, 4) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_items"))
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"revenue", $"n_items")
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Q3 over caller-supplied base tables (see [[q2From]]). */
  def q3From(spark: SparkSession, regionT: DataFrame, nationT: DataFrame,
      customer: DataFrame, ordersT: DataFrame, lineitem: DataFrame): DataFrame = {
    import spark.implicits._
    val region = regionT.filter($"r_name" === "ASIA")
    val nation = nationT
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = customer
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val orders = ordersT
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp")
        && $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    // nation groups are O(corpus/25) rows — unbounded, so the exact 4dp
    // integer terms feed sum128 (int128, three-primitive-long buffer)
    // rather than a raw BIGINT (overflow near 10^10 rows/group) or
    // SUM(DECIMAL) (BigDecimal box per row; see q1PricingSummary). The
    // rev4 projection sits ABOVE the join: q3's lineitem side carries no
    // filter, so computing it below would pay the arithmetic on EVERY
    // item row while the orders date filter then drops ~6/7 of them —
    // measured 2.1x on the whole bucketed query (DecProbe q3b_shipped
    // 3.5s vs q3b_postproj 1.7s at 150M rows); the join payload trades
    // one long for two raw doubles, a width the saved work dwarfs.
    graft.plans.Sum128.register(spark)
    val items = lineitem
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    orders
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(items, $"o_orderkey" === $"l_orderkey")
      .select($"n_name",
        (graft.Exact.cents($"l_extendedprice") *
          (lit(100L) - graft.Exact.cents($"l_discount"))).as("rev4"))
      .groupBy($"n_name")
      .agg(
        expr("CAST(sum128(rev4, 4) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** A5c [EXT]: full cube over two dimensions — the GROUPING SETS family
    * beyond a5b's rollup. */
  def a5cCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** A8 [EXT]: pivot — event counts cross-tabbed by type. Expressed as
    * conditional aggregation (the portable form of `.pivot`), one pass. */
  def a8Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def cnt(t: String) = sum(when($"event_type" === t, 1L).otherwise(0L)).as(t)
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(cnt("click"), cnt("view"), cnt("signup"), cnt("purchase"), cnt("error"))
      .orderBy($"user_id")
  }

  /** A9 [EXT]: per-group percentiles at 100 TB posture — re-declared in
    * r16 over `approx_percentile` (GK summaries: state bounded by the
    * accuracy parameter, NEVER by group size) with the a6b in-row band.
    * The exact-buffering `percentile` form this row used to carry is the
    * survey's own named OOM path (every group value buffered in one
    * executor); it remains available as [[a9ExactPercentiles]] for the
    * spec ladder, but no DECLARED query's memory now grows with group
    * size — the exact GRADED family is a13's two-phase selection.
    *
    * The band is rank-based and computed in-query: for each group the GK
    * value v_q must satisfy |rank(v_q)/n − q| ≤ 0.01 (accuracy 1000 →
    * guaranteed rank error ≤ 0.1%; the band is 10× looser to absorb
    * ties). `n` hash-anchors against the oracle's recount; a drifting
    * sketch flips band_ok to false and the row goes red like any other.
    * Two bounded passes: the 5-row approx aggregate broadcast back over
    * the table for the rank count — no per-group buffering anywhere. */
  def a9Percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, sfDir)
      .select($"o_orderpriority", graft.Exact.cents($"o_totalprice").as("cents"))
    val approx = base
      .groupBy($"o_orderpriority")
      .agg(expr("approx_percentile(cents, array(0.5, 0.9), 1000)").as("qs"))
      .select($"o_orderpriority", $"qs"(0).as("med_a"), $"qs"(1).as("p90_a"))
    base.join(broadcast(approx), Seq("o_orderpriority"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        // sum_cents is the cross-engine anchor for the whole cents
        // pipeline (r16 advice): a scaling bug that corrupted both the
        // sketch input AND the rank-band computation consistently would
        // self-grade TRUE — but it cannot also match the oracle's
        // independent DECIMAL-derived sum
        sum($"cents").as("sum_cents"),
        sum(when($"cents" <= $"med_a", 1L).otherwise(0L)).as("le_med"),
        sum(when($"cents" <= $"p90_a", 1L).otherwise(0L)).as("le_p90"))
      .select($"o_orderpriority", $"n", $"sum_cents",
        (abs($"le_med" / $"n".cast("double") - 0.5) <= 0.01).as("band_p50_ok"),
        (abs($"le_p90" / $"n".cast("double") - 0.9) <= 0.01).as("band_p90_ok"))
      .orderBy($"o_orderpriority")
  }

  /** The pre-r16 exact form of a9 (`percentile` = ANSI percentile_cont):
    * correct, and the right tool when groups are known-small, but its
    * aggregation state is EVERY group value — the documented negative at
    * 100 TB group sizes. Kept for the spec ladder (SemanticsSpec pins it
    * equal to the oracle's quantile_cont at test scale); the graded exact
    * family is [[a13ExactPercentiles]]. */
  private[graft] def a9ExactPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupBy($"o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("med"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .orderBy($"o_orderpriority")
  }

  /** A10 [EXT]: exact distributed statistics — mean and variance derived
    * from integer power sums instead of streaming moment updates
    * (covariance/correlation extend the same way with an sxy sum). Spark's built-in stddev/corr merge partial moments
    * in partition order (last-ulp nondeterminism across re-partitioning);
    * power sums are associative-exact, so these results are bit-stable on
    * any cluster layout and replayable by the oracle. */
  def a10ExactStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // cents as exact integers: every sum and the variance numerator
    // n*sxx - sx^2 stay integer-exact; ONE integer->double conversion at
    // the end is correctly rounded in both engines (fractional-decimal ->
    // double casts are not, which this formulation avoids)
    Tables.orders(spark, sfDir)
      .withColumn("cents", graft.Exact.cents($"o_totalprice"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum($"cents".cast("decimal(38,0)")).as("sx"),
        // cast BEFORE multiplying: a Long square wraps past ~$30M amounts
        sum($"cents".cast("decimal(38,0)") * $"cents").as("sxx"))
      .select(
        $"o_orderpriority", $"n",
        ($"sx".cast("double") / $"n" / 100.0).as("mean"),
        (($"n" * $"sxx" - $"sx" * $"sx").cast("double") / $"n" / $"n" / 10000.0)
          .as("variance"))
      .orderBy($"o_orderpriority")
  }

  /** A11 [EXT]: histogram — fixed-width buckets with exact integer
    * arithmetic (bucket = value div width on the cent-scaled amount). */
  def a11Histogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      // cents as exact long, then 50k-dollar buckets
      .withColumn("cents", graft.Exact.cents($"o_totalprice"))
      .withColumn("bucket", expr("cents div 5000000"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy($"bucket")
  }

  /** A13 [EXT]: exact DISCRETE percentiles (p50/p90/p99 per group) by
    * two-phase order-statistic selection — the scale path where A9's
    * built-in `percentile` cannot go: that aggregate buffers every group
    * value in executor memory (OOM at 100 TB group sizes), while this
    * plan's state is a bounded value-range histogram. Phase A: bucket =
    * cents div [[A13_BUCKET]] (exact integer ranges), per-(group, bucket)
    * counts, cumulative sum over the TINY histogram locates the bucket
    * holding each target rank k = max(1, ceil(q*n)) — computed in integer
    * arithmetic ((q_num*n + 99) div 100), never float ceil. Phase B counts
    * per DISTINCT value inside located buckets only (≈ n/B rows aggregated,
    * B ~ value range / bucket width) and walks the cumulative counts to the
    * target rank. The value at rank k is well-defined under ties — tied
    * rows are interchangeable, the k-th VALUE is invariant — so output is
    * deterministic without a tiebreak column. Same construction as L4g's
    * quartile gate, generalized to a percentile vector. Measured sf1→sf50
    * (6M→300M rows): 1.5s→3.7s, crossing DuckDB's rank-replay between sf5
    * and sf25 (CROSSOVER.md). */
  val A13_BUCKET = 1L << 17 // ~$1310 ranges -> ~80 buckets over the fixture

  def a13ExactPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    a13From(spark, Tables.lineitem(spark, sfDir))

  /** A13 over a caller-supplied lineitem (see [[q2From]]): the star-tier
    * crossover sweep passes the replicated fact table so the two-phase
    * selection's scale claim is measured, not asserted. */
  def a13From(spark: SparkSession, lineitemT: DataFrame): DataFrame = {
    import spark.implicits._
    // cents via primitive double math, not DECIMAL(18,2): for 2-decimal
    // prices, x*100 is within ~1e-11 of the integer, so a sign-aware half
    // offset (+0.5 for x>=0, -0.5 for x<0 — CAST truncates toward zero)
    // recovers it exactly for EITHER sign — same integers as the decimal
    // cast the oracle uses, at 2.7x the scan throughput (5.5s -> 2.0s per
    // 150M-row pass, A13Probe; this query pays the conversion on BOTH
    // scans). The fixture is all-positive, but refunds/credits are not,
    // and a silent off-by-one-cent on negatives is the kind of precondition
    // nobody re-reads.
    val v = lineitemT
      .select($"l_returnflag".as("grp"),
        ($"l_extendedprice" * 100 + signum($"l_extendedprice") * lit(0.5))
          .cast("long").as("cents"))
      .withColumn("bucket", expr(s"cents div $A13_BUCKET"))
    // phase A: histogram + cumulative counts (|groups| x |buckets| rows)
    val hist = v.groupBy($"grp", $"bucket").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"grp").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(Window.partitionBy($"grp")))
    val qs = Seq((50L, "p50"), (90L, "p90"), (99L, "p99"))
      .toDF("q_num", "q_label")
    val targets = cum.crossJoin(broadcast(qs))
      .withColumn("k", greatest(lit(1L), expr("(q_num * n + 99) div 100")))
      .filter($"cum" >= $"k" && ($"cum" - $"cnt") < $"k")
      .select($"grp".as("t_grp"), $"q_label", $"bucket".as("tb"),
        $"k", ($"cum" - $"cnt").as("prev_cum"))
    // phase B: count per DISTINCT value inside the located buckets (hash
    // aggregate — map-side combined, parallel across all cores), then walk
    // the cumulative counts; global rank of the last row at value c is
    // prev_cum + cum(c). The per-target sort is over distinct values
    // (≤ bucket width), never rows — a row-level row_number here would
    // funnel each target's rows through ONE task (measured 17.9s at 150M
    // rows).
    //
    // The probe key is ONE fused long, not (grp, bucket): a single-long
    // equi key gets a LongHashedRelation (dense long-keyed map); a string
    // or composite key gets an UnsafeHashedRelation probed at ~2.3us/row —
    // measured 14x (0.8s vs 11s) on this very join at 150M rows, and at
    // that cost the probe IS the query. Exactness does not ride on the
    // hash: the residual range checks re-verify both columns, and range
    // predicates stay residual (ExtractEquiJoinKeys lifts only equalities
    // into the probe key).
    val wB = Window.partitionBy($"t_grp", $"q_label").orderBy($"cents")
    v.withColumn("jk", xxhash64($"grp", $"bucket"))
      .join(broadcast(targets.withColumn("tjk", xxhash64($"t_grp", $"tb"))),
        $"jk" === $"tjk" &&
          $"grp" >= $"t_grp" && $"grp" <= $"t_grp" &&
          $"bucket" >= $"tb" && $"bucket" <= $"tb")
      .groupBy($"t_grp", $"q_label", $"k", $"prev_cum", $"cents")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_b", sum($"c").over(wB))
      .filter($"prev_cum" + $"cum_b" >= $"k" &&
        $"prev_cum" + $"cum_b" - $"c" < $"k")
      .select($"t_grp".as("grp"), $"q_label",
        ($"cents".cast("double") / 100.0).as("value"))
      .orderBy($"grp", $"q_label")
  }

  /** A7 [EXT]: salted two-phase aggregation — the skew pattern. Phase 1
    * aggregates on (key, salt) so a hot key spreads over `SALT` reducers;
    * phase 2 merges the partials. The result is salt-invariant (asserted
    * against the plain GROUP BY oracle), and the exact-decimal sums make
    * the merge order-independent. */
  def a7SaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val SALT = 8
    Tables.lineitem(spark, sfDir)
      .withColumn("salt", pmod($"l_orderkey", lit(SALT)))
      .groupBy($"l_returnflag", $"salt")
      .agg(
        count(lit(1)).as("pn"),
        sum(money($"l_extendedprice")).as("psum"))
      .groupBy($"l_returnflag")
      .agg(
        sum($"pn").as("n"),
        sum($"psum").cast("double").as("total_price"))
      .orderBy($"l_returnflag")
  }

  /** A5d [EXT]: explicit GROUPING SETS — the general form that A5b's
    * rollup and A5c's cube are special cases of. One shuffle: Catalyst
    * expands the input once per set (Expand node) and a single partial +
    * final aggregate runs over the union, so cost is |sets| map-side
    * passes, never |sets| shuffles. `grouping(col)` flags are cast to
    * long on both sides (Spark yields int, DuckDB bigint). */
  def a5dGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        grouping($"l_returnflag").cast("long").as("g_flag"),
        grouping($"l_linestatus").cast("long").as("g_status"))
      .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
  }

  /** A12 [EXT]: unpivot (wide metrics → long key/value rows) — the
    * inverse of A8's pivot. Per-row expansion with no shuffle: Catalyst
    * plans `unpivot` as an Expand over the scan, so 100 TB costs one
    * pass writing |metrics|× rows. Metric values are cast to double up
    * front (unpivot requires a common value type). */
  def a12Unpivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir)
      .select($"p_partkey",
        $"p_size".cast("double").as("size"),
        $"p_retailprice".as("retailprice"))
      .unpivot(Array($"p_partkey"), Array($"size", $"retailprice"), "metric", "value")
      .orderBy($"p_partkey", $"metric")
  }
}
