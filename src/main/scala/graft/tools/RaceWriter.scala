package graft.tools

import graft.GraftSession
import graft.operators.TableLog

/** One contending table-log writer PROCESS for the cross-JVM race proof
  * (TableLogRaceSpec): waits on a start-gate file so every contender
  * enters the commit loop together, then lands `n` optimistic commits
  * via [[TableLog.commitWithRetry]], each a single `add` of a
  * writer-unique payload path. The in-JVM specs (TimeTravelSpec) drive
  * the lost-race window deterministically; this main exists because the
  * atomic-exclusive no-clobber rename claim is about the FILESYSTEM
  * boundary, which only separate processes actually cross. */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val id = args(1)
    val n = args(2).toInt
    val gate = new java.io.File(args(3))
    // optional 5th arg: force a LogStore impl (auto|hardlink|rename) —
    // the race spec drives the same contest through BOTH publish
    // primitives
    val logStore = if (args.length > 4) args(4) else "auto"
    val spark = GraftSession.harness(2, Seq(
      "spark.app.name" -> s"race-writer-$id",
      "spark.graft.logstore" -> logStore))
    spark.sparkContext.setLogLevel("ERROR")
    val deadline = System.currentTimeMillis() + 60000
    while (!gate.exists() && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(gate.exists(), "start gate never opened")
    var i = 0
    while (i < n) {
      val v = TableLog.commitWithRetry(spark, table,
        Seq(TableLog.Action("add", s"w$id-c$i")), maxAttempts = 200)
      println(s"RACEWRITER $id committed w$id-c$i at v$v")
      i += 1
    }
    println(s"RACEWRITER_DONE $id")
    spark.stop()
  }
}
