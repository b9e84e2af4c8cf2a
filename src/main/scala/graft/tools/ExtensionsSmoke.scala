package graft.tools

/** Smoke for the production config path: a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` must have dot_f32
  * available without any runtime registration call. */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.harness(2, Seq(graft.GraftSession.extensionsConf))
    val d = spark.sql(
      "SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    println(s"EXTENSIONS_DOT=$d")
    val j = spark.sql(
      """SELECT json_long('{"k": 42}', 'k') AS j""").head().getLong(0)
    println(s"EXTENSIONS_JSON=$j")
    spark.stop()
  }
}
