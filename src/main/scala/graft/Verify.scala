package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args (local iteration aids; the driver always calls
    // with exactly two args = full dump):
    //   --shard i/n  dump only queries whose sorted-name index ≡ i (mod n),
    //                so a red round can bisect the 167-query single-JVM dump
    //                in minutes; the union of shards 0..n-1 is byte-identical
    //                to an unsharded run (each query owns its outDir subdir)
    //   <name> ...   dump only the named queries
    var shard: Option[(Int, Int)] = None
    val names = scala.collection.mutable.LinkedHashSet[String]()
    var ai = 2
    while (ai < args.length) {
      args(ai) match {
        case s if s.startsWith("--shard=") =>
          val Array(i, n) = s.stripPrefix("--shard=").split("/")
          shard = Some((i.toInt, n.toInt))
        case "--shard" =>
          ai += 1
          val Array(i, n) = args(ai).split("/")
          shard = Some((i.toInt, n.toInt))
        case n => names += n
      }
      ai += 1
    }
    val shardPick: String => Boolean = shard match {
      case None => _ => true
      case Some((i, n)) =>
        val order = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.toMap
        name => order(name) % n == i
    }
    val only: String => Boolean =
      name => (names.isEmpty || names(name)) && shardPick(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.harness(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
