package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.plans.GraftFunctions

/** The one native-function registry: `ensure` installs every function,
  * a repeat call replaces nothing, and no second install path exists in
  * the main sources. */
class GraftFunctionsSpec extends SparkSpecBase {

  private val expected = Seq("dot_f32", "dot_i64", "md5_prefix48",
    "shingle_hashes", "minhash_sigs", "simhash_sig", "rademacher_sigs",
    "rolling_fp", "winnow_hashes", "model_score", "bucket_score",
    "pq_encode", "word_count_agg", "graft_bloom_agg", "graft_might_contain",
    "json_long", "sum128")

  test("after ensure, all 17 native functions resolve on the session") {
    assert(GraftFunctions.all.map(_._1.funcName).sorted === expected.sorted)
    GraftFunctions.ensure(spark)
    val registry = spark.sessionState.functionRegistry
    val missing = expected.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: ${missing.mkString(", ")}")
    assert(spark.sql("SELECT simhash_sig('a b c', 16) AS h").head().getLong(0) !== 0L)
    assert(spark.sql("SELECT sum128(x, 0) AS s FROM VALUES (1L), (2L) AS t(x)")
      .head().getDecimal(0).longValue === 3L)
  }

  test("a second ensure keeps every registered ExpressionInfo (nothing is replaced)") {
    GraftFunctions.ensure(spark)
    val registry = spark.sessionState.functionRegistry
    def infos = expected.map(n => n -> registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos
    GraftFunctions.ensure(spark)
    before.zip(infos).foreach { case ((n, a), (_, b)) =>
      assert(a eq b, s"$n was re-registered")
    }
  }

  test("GraftFunctions.scala is the only main source that installs SQL functions") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val install = "createOrReplaceTempFunction|registerFunction|injectFunction".r
    val installers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => install.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(installers === Set("GraftFunctions.scala"))
  }
}
