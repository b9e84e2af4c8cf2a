package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counts operations and failures. Every call the benchmark makes into a
  * graft layer goes through [[call]], every output check through [[check]];
  * both open a trace span. A failure is a call that throws or a check that
  * does not hold. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def call[T](span: String)(body: => T): T = {
    attempted += 1
    try Trace.span(span)(body)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$span threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        throw e
    }
  }

  /** `body` computes (holds, detail shown when it does not). */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) = call(s"check.$name")(body)
    if (!ok) {
      failed += 1
      failures += s"check $name failed: $detail"
    }
  }
}

/** What one timed pass reports back. `rows` are input rows processed,
  * `userBytes` the bytes of user rows handed in (as sized by the
  * generator), `counters` layer counts summed per pass, `samples` latency
  * samples (ms) by metric name. */
final case class PassOut(rows: Long, userBytes: Long,
    counters: Map[String, Double] = Map.empty,
    samples: Map[String, Seq[Double]] = Map.empty)

/** One benchmark workload. The program sees only what [[setup]] generates
  * from the seed under its directory. */
trait Workload {
  /** Generate the inputs under `dir` and load them. */
  def setup(spark: SparkSession, dir: String, seed: Long, led: Ledger): Unit
  /** One timed pass, checked. */
  def pass(i: Int, led: Ledger): PassOut
  /** (kind, directory) pairs whose newly created files count as written:
    * kind "table" is table-log storage, "sink" a sink's output; every kind
    * counts toward `write_amp`. */
  def outputRoots: Seq[(String, String)]
  /** Untimed end-of-run work and checks; returns extra layer metrics. */
  def finish(led: Ledger): Map[String, Double] = Map.empty
  /** Input sizes, printed with the metrics. */
  def inputs: Seq[(String, Long)]
  /** Release what [[setup]] started (servers, threads). */
  def close(): Unit = ()
}

/** Seeded, engine-independent pseudo-randomness: every generated value is
  * a pure function of (seed, stream, index), so executors and the driver's
  * expected-output model derive identical inputs. */
object Gen {
  def mix(x: Long): Long = graft.plans.RademacherSigs.splitmix64(x)
  def h(seed: Long, stream: Long, i: Long, j: Long = 0L): Long =
    mix(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i) + j)
  /** Uniform in [0, n). */
  def below(n: Long, seed: Long, stream: Long, i: Long, j: Long = 0L): Long =
    java.lang.Long.remainderUnsigned(h(seed, stream, i, j), n)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long, j: Long = 0L): Double =
    (h(seed, stream, i, j) >>> 11).toDouble / (1L << 53).toDouble
  /** True with probability perMille / 1000. */
  def chance(perMille: Int, seed: Long, stream: Long, i: Long, j: Long = 0L): Boolean =
    below(1000, seed, stream, i, j) < perMille
}

object Fs {
  /** Every regular file under `root` with its size. */
  def listing(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }
  def bytesUnder(root: String): Long = listing(root).values.sum

  /** Drain a frame completely through Spark's no-op sink: every row is
    * computed, nothing is collected or written. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
