package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** sum128's contract: bit-equal to `SUM(CAST(x AS DECIMAL(38,scale')))`
  * over scaled-long inputs — exact integer accumulation with no long
  * overflow, NULL on empty/all-null groups — while the buffer stays
  * three primitive longs inside whole-stage codegen. */
class Sum128Spec extends SparkSpecBase {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  test("parity with decimal SUM on randomized longs, including carry-heavy magnitudes") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    // magnitudes chosen to force lo-word carries both directions: values
    // near ±2^62 make |partial| cross 2^64 within a handful of rows
    val gen = Gen.oneOf(
      Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.chooseNum(-1000L, 1000L),
      Gen.const(Long.MaxValue / 2), Gen.const(Long.MinValue / 2))
    val groups = (0 until 8).map { g =>
      g -> samples(gen, 200 + g * 37)
    }
    val rows = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }
    val df = rows.toDF("g", "x")
    val got = df.groupBy($"g")
      .agg(expr("sum128(x, 0)").as("s"),
        expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0))").as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getDecimal(1) === r.getDecimal(2), s"group ${r.get(0)} diverged")
    }
    // per-group expected value vs BigInt, independently of Spark decimal
    val expected = groups.toMap.map { case (g, vs) => g -> vs.map(BigInt(_)).sum }
    got.foreach { r =>
      assert(BigInt(r.getDecimal(1).toBigInteger) === expected(r.getInt(0)))
    }
  }

  test("a single group overflows a signed long but not the int128") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    // 40 copies of Long.MaxValue/2: a raw BIGINT sum dies (ANSI) or wraps
    // (legacy) at row 5; sum128 carries into the high word
    val df = Seq.fill(40)(Long.MaxValue / 2).toDF("x")
    val s = df.agg(expr("sum128(x, 0)")).collect()(0).getDecimal(0)
    assert(BigInt(s.toBigInteger) === BigInt(Long.MaxValue / 2) * 40)
    val neg = Seq.fill(40)(Long.MinValue / 2).toDF("x")
      .agg(expr("sum128(x, 0)")).collect()(0).getDecimal(0)
    assert(BigInt(neg.toBigInteger) === BigInt(Long.MinValue / 2) * 40)
  }

  test("past DECIMAL(38)'s ceiling the total is NULL — SUM's overflow contract, not a throw") {
    // the int128 tops out at ~1.7e38, past DECIMAL(38)'s 10^38-1; that
    // band is unreachable by summing (~10^29 rows/group) so the finisher
    // is probed directly at the boundary via crafted (hi, lo) buffers
    val max38 = BigInt("9" * 38)
    def buf(v: BigInt): (Long, Long) =
      ((v >> 64).toLong, v.toLong)
    for (v <- Seq(max38, -max38)) { // exactly representable: exact value out
      val (hi, lo) = buf(v)
      assert(graft.plans.Sum128.toDecimal(hi, lo, 0).toJavaBigDecimal
        .unscaledValue() === v.bigInteger)
    }
    for (v <- Seq(max38 + 1, -(max38 + 1), // one past the ceiling
        (BigInt(1) << 127) - 1)) { // the int128's own max, ~1.7e38
      val (hi, lo) = buf(v)
      assert(graft.plans.Sum128.toDecimal(hi, lo, 0) === null, v)
    }
  }

  test("null handling and scale: all-null group is NULL, nulls skipped, scale applied") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    val df = Seq[(Int, java.lang.Long)](
      (1, 1234L), (1, null), (1, -34L), (2, null), (2, null))
      .toDF("g", "x")
    val out = df.groupBy($"g").agg(expr("sum128(x, 2)").as("s"))
      .orderBy($"g").collect()
    assert(out(0).getDecimal(1) === new java.math.BigDecimal("12.00"))
    assert(out(1).get(1) === null)
    assert(spark.range(0).selectExpr("sum128(id, 0)").collect()(0).get(0) === null)
  }

  test("interpreted-path parity: the same sums with whole-stage codegen off") {
    // a codegen fallback (AQE retry, codegen compile failure) must not
    // change a single bit: the wrapping LEGACY adds and the carry logic
    // run through Expression.eval instead of generated Java
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevF = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val df = Seq.fill(40)(Long.MaxValue / 2).toDF("x")
        .union(Seq.fill(40)(Long.MinValue / 2 + 3).toDF("x"))
      val s = df.agg(expr("sum128(x, 0)")).collect()(0).getDecimal(0)
      assert(BigInt(s.toBigInteger) ===
        BigInt(Long.MaxValue / 2) * 40 + BigInt(Long.MinValue / 2 + 3) * 40)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", prevF)
    }
  }

  test("money parity on the fixture and the plan stays in whole-stage codegen") {
    import spark.implicits._
    import graft.Exact.money
    graft.plans.GraftFunctions.ensure(spark)
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag".as("g"),
        (money($"l_extendedprice") * 100).cast("long").as("pc"),
        money($"l_extendedprice").as("pd"))
    val agg = li.groupBy($"g")
      .agg(expr("sum128(pc, 2)").as("s"),
        sum($"pd").cast("decimal(38,2)").as("ref"))
    agg.collect().foreach { r =>
      assert(r.getDecimal(1) === r.getDecimal(2), s"group ${r.get(0)}")
    }
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("sum128"), plan)
    // the final-aggregate span carries the StaticInvoke evaluate; the
    // update/merge path must sit inside WholeStageCodegen HashAggregates
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(plan).nonEmpty, plan)
  }
}
