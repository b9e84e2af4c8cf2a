package graft

import org.apache.spark.sql.functions._

/** The native 48-bit md5 prefix must be bit-equal to the composed
  * hex-fold form it replaces on the shingle/term hot paths — including
  * non-ASCII input (both hash the UTF-8 bytes) — and null-safe. */
class Md5Prefix48Spec extends SparkSpecBase {

  test("md5_prefix48 = conv(substr(md5(s),1,12),16,10) on varied strings; null-safe") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensure(spark)
    val df = spark.range(500).toDF("i")
      .withColumn("s", concat(lit("pört_"), md5($"i".cast("string")), lit("_ü")))
      .withColumn("s2", when($"i" % 7 === 0, lit(null)).otherwise($"s"))
    val mismatches = df.filter(expr(
      "md5_prefix48(s) <> CAST(conv(substr(md5(s), 1, 12), 16, 10) AS BIGINT)")).count()
    assert(mismatches === 0L)
    // null in -> null out (and no exception inside codegen)
    assert(df.filter(expr("md5_prefix48(s2) IS NULL")).count() ===
      df.filter($"s2".isNull).count())
    // type check rejects non-strings
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("md5_prefix48(i)")).collect()
    }
  }
}
