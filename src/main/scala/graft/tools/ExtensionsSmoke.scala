package graft.tools

/** Smoke for the production config path: a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` must resolve every
  * native function in `GraftFunctions.all` without any runtime
  * registration call. */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.harness(2, Seq(graft.GraftSession.extensionsConf))
    val registry = spark.sessionState.functionRegistry
    val names = graft.plans.GraftFunctions.all.map(_._1)
    val missing = names.filterNot(registry.functionExists)
    println(s"EXTENSIONS_FUNCTIONS=${names.size - missing.size}/${names.size}")
    require(missing.isEmpty, s"not installed by the extension: ${missing.mkString(", ")}")
    val d = spark.sql(
      "SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    println(s"EXTENSIONS_DOT=$d")
    val j = spark.sql(
      """SELECT json_long('{"k": 42}', 'k') AS j""").head().getLong(0)
    println(s"EXTENSIONS_JSON=$j")
    val h = spark.sql("SELECT simhash_sig('a b c', 16) AS h").head().getLong(0)
    println(s"EXTENSIONS_SIMHASH=$h")
    val s = spark.sql("SELECT sum128(x, 0) AS s FROM VALUES (1L), (2L) AS t(x)")
      .head().getDecimal(0)
    println(s"EXTENSIONS_SUM128=$s")
    spark.stop()
  }
}
