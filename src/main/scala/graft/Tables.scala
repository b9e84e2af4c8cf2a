package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All operators take `(SparkSession, sfDir)` and read from here, so the
  * same code runs at any scale factor. At cluster scale the same call sites
  * point at the production lake paths — nothing here materializes on the
  * driver.
  */
object Tables {
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = starSchema ++ Seq("events", "documents", "embeddings")

  /** Parquet schema memo, keyed by path. `spark.read.parquet` without an
    * explicit schema runs footer inference on the DRIVER on every call —
    * measured at ~25 ms per table reference (the DataFrame "build"
    * phase is 0.09-0.42 s/query, ~11 s of the sf0.1 suite total, with
    * 5-table joins like q3 paying 5 inferences). A real deployment reads
    * catalog tables whose schema is declared once in the metastore;
    * memoizing the first inference per path gives the library the same
    * read-path cost without a catalog. Safe because the fixture files are
    * immutable for the life of the JVM; sink read-backs (Etl) go through
    * [[sink]], which brackets every (re)write with [[invalidate]] by
    * construction — a rewritten schema is re-inferred, never served stale.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Drop the memoized schema for a path. Prefer [[sink]], which calls this
    * around the write so no caller can forget it. */
  def invalidate(path: String): Unit = schemaMemo.remove(path)

  /** Run a sink write against `path` with memo invalidation by construction.
    * Invalidates BOTH before and after the write: the before-drop keeps a
    * concurrent [[readMemo]] from serving the pre-write schema during a long
    * write; the after-drop evicts a stale entry that such a reader may have
    * re-inserted mid-write (computeIfAbsent racing the overwrite). The
    * window is not fully closed — a reader overlapping the write can still
    * observe mixed footers, which is inherent to non-atomic FS overwrite,
    * not to the memo — so concurrent read-during-overwrite of the SAME sink
    * path is unsupported; distinct paths are safe (per-key memo entries). */
  def sink(path: String)(write: => Unit): Unit = {
    invalidate(path)
    write
    invalidate(path)
  }

  /** Read a parquet path with per-JVM schema memoization (first call
    * infers, later calls skip straight to the scan). */
  def readMemo(spark: SparkSession, path: String): DataFrame = {
    val s = schemaMemo.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(s).parquet(path)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readMemo(spark, s"$sfDir/$name.parquet")

  /** Re-spread an UNSPLITTABLE scan across the session's cores. Parquet
    * cannot split below row-group granularity, and the driver fixtures are
    * single-file single-row-group tables — so every scan plans ONE
    * non-empty task regardless of master size, and a per-row-expensive
    * operator above it (JSON parse, regex, n-gram/hash loops) runs
    * single-threaded while the rest of the machine idles. This is the
    * optimization guide's unsplittable-input case ("one huge unsplittable
    * file... repartition immediately after the read"), applied
    * layout-adaptively: the gate compares the PLANNED scan partition count
    * (a plan property — no job runs) against the session's default
    * parallelism, so a production table with ordinary file/row-group
    * counts passes through untouched and no exchange is ever added at
    * scale. Round-robin repartition keeps rows intact (nothing keyed, no
    * skew possible); callers are per-row pipelines whose declared results
    * carry a total ORDER BY, so partitioning never reaches the output.
    * Only worth it when per-row work dominates the scan — a plain
    * filter+aggregate pipeline should NOT pay the extra exchange. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** The `ts` column has shipped in three physical layouts across fixture
    * generations, and this loader normalizes all of them to a session-UTC
    * `TimestampType` so every consumer sees ONE timestamp semantics
    * (reference anchor: src/models/vendor.rs:12-15 / parquet.rs:69-75
    * declare timezone-fixed epoch timestamps at the sink — the engine
    * must not fork semantics on a reader inference accident):
    *
    *  - Parquet TIMESTAMP(NANOS): Spark's micros TimestampType rejects it;
    *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true` (a
    *    missing conf fails loudly with PARQUET_TYPE_ILLEGAL) and the raw
    *    nanos long is floor-divided to micros — the same truncation DuckDB
    *    applies casting to TIMESTAMP, so oracle comparisons line up.
    *  - Naive TIMESTAMP(MICROS) (isAdjustedToUTC=false, the pandas/pyarrow
    *    default since the Aug 2026 fixture regen): Spark 4 infers
    *    TIMESTAMP_NTZ by default. Harness sessions pin
    *    `spark.sql.parquet.inferTimestampNTZ.enabled=false` so the column
    *    reads as TimestampType directly; the NTZ case below catches
    *    foreign sessions without the pin — under a UTC session the cast is
    *    wall-clock-preserving and matches DuckDB's naive reading.
    *  - UTC TIMESTAMP(MICROS) (e.g. the MakeHeavy tier): already
    *    TimestampType, passes through untouched.
    *
    * FixtureSpec pins these as the only layouts the fixtures may take, so
    * the next silent driver-side regen fails as one named assertion
    * instead of eight downstream analysis errors.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
