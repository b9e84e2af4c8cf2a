package graft.tools

/** Local replica of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.harness(4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
