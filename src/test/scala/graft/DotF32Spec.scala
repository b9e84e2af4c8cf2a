package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions

/** Native expression vs composed built-in: bit-equal results, codegen path. */
class DotF32Spec extends SparkSpecBase {

  test("dot_f32 is bit-equal to aggregate(zip_with(...)) on the embeddings table") {
    GraftFunctions.ensure(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val both = emb.select(
      $"vec_id",
      expr("dot_f32(embedding, embedding)").as("native"),
      expr("aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("composed"))
    assert(both.filter($"native" =!= $"composed").count() === 0)
    assert(both.count() > 0)
  }

  test("dot_f32 null and length semantics") {
    GraftFunctions.ensure(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(3f, 4f))),   // 3+8=11
      (None, Some(Array(1f))),                        // null in -> null out
      (Some(Array(1f, 2f, 3f)), Some(Array(2f)))      // ragged -> null (like zip_with NULL-pad)
    ).toDF("a", "b").select(expr("dot_f32(a, b)").as("d"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(11.0), None, None))
  }

  test("dot_f32 propagates NULL on null array elements, like the composed form") {
    GraftFunctions.ensure(spark)
    val r = spark.sql(
      "SELECT dot_f32(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(1 AS FLOAT))) AS d").head()
    assert(r.isNullAt(0))
    val composed = spark.sql(
      "SELECT aggregate(zip_with(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(1 AS FLOAT)), " +
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d").head()
    assert(composed.isNullAt(0)) // same semantics both forms
  }

  test("dot_f32 participates in whole-stage codegen") {
    GraftFunctions.ensure(spark)
    val plan = Tables.embeddings(spark, sfDir)
      .selectExpr("dot_f32(embedding, embedding) AS d")
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [dot_f32"))
  }
}
