package graft

/** The deployment surface: every tuned conf key must be accepted by a live
  * session (catches typo'd keys, which Spark silently ignores at builder
  * time), and the extensions class must resolve and wire dot_f32. */
class GraftSessionSpec extends SparkSpecBase {

  test("every tunedConf key is a valid, runtime-settable Spark conf") {
    val s = spark.newSession()
    for ((k, v) <- GraftSession.tunedConf(shufflePartitions = 7)) {
      s.conf.set(k, v) // throws on unknown/static keys
      assert(s.conf.get(k) === v, s"conf $k did not take")
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
  }

  test("every staticConf key is a REAL static conf (refused at runtime, not silently unknown)") {
    // spark.conf.set silently accepts unknown keys; a genuine static key
    // is the one case Spark rejects loudly — that rejection is the
    // validity proof (these keys only take effect via the tuned builder)
    val s = spark.newSession()
    for ((k, v) <- GraftSession.staticConf) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { s.conf.set(k, v) }
      assert(e.getMessage.toLowerCase.contains("static"), s"$k: ${e.getMessage}")
    }
  }

  test("extensions conf names a resolvable class that wires dot_f32") {
    val (key, className) = GraftSession.extensionsConf
    assert(key === "spark.sql.extensions")
    val ext = Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
  }

  test("tuned builder produces a session with the knobs set (same-JVM getOrCreate)") {
    // static confs can't change on an existing context, but runtime SQL
    // confs from the builder apply to the new session
    val s = GraftSession.tuned(
      org.apache.spark.sql.SparkSession.builder(), shufflePartitions = 5).getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") === (128L * 1024 * 1024).toString)
  }

  test("dot_f32 registers and evaluates on a fresh session") {
    val s = spark.newSession()
    graft.plans.DotF32.register(s)
    val r = s.sql("SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(r === 11.0)
  }

  test("Bench and Verify sessions carry their former hand-written builders' conf, key for key") {
    // the literal lists those builders set (at SPARK_GRAFT_CPUS=8): a
    // drifted pin or extra silently changes what Verify dumps and Bench times
    def conf(extra: Seq[(String, String)]): Map[String, String] = {
      val all = GraftSession.harnessConf(8) ++ extra
      assert(all.map(_._1).distinct.size === all.size, s"a key is set twice: $all")
      all.toMap
    }
    val verify = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.ui.enabled" -> "false")
    assert(conf(Nil) === verify)
    val bench = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "256m",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.ui.enabled" -> "false")
    assert(conf(Bench.sessionConf(Map.empty)) === bench)
    assert(conf(Bench.sessionConf(Map("SPARK_GRAFT_AQE" -> "false")))
      === bench + ("spark.sql.adaptive.enabled" -> "false"))
  }
}
