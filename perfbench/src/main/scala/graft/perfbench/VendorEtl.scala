package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.operators.{Etl, Joins, Relational, TableLog, Windows}
import graft.operators.TableLog.Action
import graft.sources.Http

final case class StarOrder(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Instant, o_orderpriority: String)
final case class StarItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Instant)
final case class StarCustomer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class StarSupplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
final case class StarEvent(event_id: Long, ts: Instant, user_id: Long, event_type: String,
    value: Double, props: String)

/** Seeded star tables (the library's TPC-H-shaped schema) and a seeded
  * vendor API. Orders fall on five days around 2000-03-01, so the library's
  * two-day partitioned sink (2000-03-01..02) loads a seeded share of them. */
final case class VendorData(seed: Long, vendors: Int, orders: Int) {
  import VendorData._
  val customers: Int = orders / 10

  def nation(c: Long): Int = Gen.below(25, seed, 31, c).toInt
  def dayOffset(o: Long): Int = Gen.below(5, seed, 32, o).toInt
  def custOf(o: Long): Long = Gen.below(customers, seed, 33, o)
  private def money(max: Long, stream: Long, i: Long, j: Long = 0) =
    Gen.below(max, seed, stream, i, j) / 100.0

  def order(o: Long): StarOrder = StarOrder(o, custOf(o),
    Seq("F", "O", "P")(Gen.below(3, seed, 34, o).toInt), money(50000000, 35, o),
    Day0.plusSeconds(86400L * dayOffset(o)), Priorities(Gen.below(5, seed, 36, o).toInt))
  def items(o: Long): Seq[StarItem] = (0 until 1 + Gen.below(7, seed, 37, o).toInt).map { j =>
    StarItem(o, Gen.below(2000, seed, 38, o, j), Gen.below(Suppliers, seed, 39, o, j), j + 1,
      (1 + Gen.below(50, seed, 40, o, j)).toDouble, money(10000000, 41, o, j),
      Gen.below(11, seed, 42, o, j) / 100.0, Gen.below(9, seed, 43, o, j) / 100.0,
      Seq("A", "N", "R")(Gen.below(3, seed, 44, o, j).toInt),
      Seq("F", "O")(Gen.below(2, seed, 45, o, j).toInt),
      Day0.plusSeconds(86400L * (dayOffset(o) + Gen.below(30, seed, 46, o, j))))
  }
  def customer(c: Long): StarCustomer = StarCustomer(c, f"Customer#$c%09d", nation(c),
    money(1000000, 47, c), Segments(Gen.below(5, seed, 48, c).toInt))
  def supplier(s: Long): StarSupplier =
    StarSupplier(s, f"Supplier#$s%09d", Gen.below(25, seed, 49, s).toInt, money(1000000, 50, s))
  def event(e: Long): StarEvent = StarEvent(e,
    Day0.plusMillis(Gen.below(5L * 86400000, seed, 51, e)), Gen.below(2000, seed, 52, e),
    EventTypes(Gen.below(5, seed, 53, e).toInt), money(100000, 54, e),
    s"""{"k": ${Gen.below(100, seed, 55, e)}}""")

  // ------------------------------------------------------------ vendor API
  def code(v: Int): String = f"V$v%06d"
  /** Planted 404s per document kind: kept as NULL rows by the extract. */
  def missing(kind: String, v: Int): Boolean = Gen.chance(30, seed, 60 + Kinds.indexOf(kind), v)
  /** Planted one-shot transients (429 or 503), retried by the extract. */
  def transient(kind: String, key: Long): Option[Int] =
    if (!Gen.chance(if (kind == "listing") 50 else 20, seed, 70 + Kinds.indexOf(kind), key)) None
    else Some(if (Gen.below(2, seed, 80, key) == 0) 429 else 503)

  def document(kind: String, v: Int): String = {
    val c = code(v)
    kind match {
      case "detail" =>
        s"""{"code":"$c","name":"Vendor $v","cuisine":"${Cuisines(Gen.below(6, seed, 90, v).toInt)}",""" +
          s""""rating":${Gen.below(50, seed, 91, v) / 10.0},"address":"${Gen.below(9999, seed, 92, v)} Main St"}"""
      case "reviews" =>
        (0 until Gen.below(8, seed, 93, v).toInt).map { r =>
          s"""{"id":${v * 10 + r},"score":${1 + Gen.below(5, seed, 94, v, r)},"text":"review $r of $c"}"""
        }.mkString(s"""{"code":"$c","reviews":[""", ",", "]}")
      case "ratings" =>
        (1 to 5).map(s => Gen.below(200, seed, 95, v, s)).mkString(
          s"""{"code":"$c","totalCount":${Gen.below(1000, seed, 96, v)},"distribution":[""", ",", "]}")
    }
  }
  def listing(offset: Int, limit: Int): String = {
    val vs = offset until math.min(vendors, offset + limit)
    vs.map(v => s"""{"code":"${code(v)}","name":"Vendor $v"}""")
      .mkString(s"""{"available_count":$vendors,"returned_count":${vs.size},"items":[""", ",", "]}")
  }
}

object VendorData {
  val Day0: Instant = Instant.parse("2000-02-28T00:00:00Z")
  val Suppliers = 100
  val Kinds = Vector("listing", "detail", "reviews", "ratings")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  val Cuisines = Vector("thai", "pizza", "sushi", "burger", "curry", "salad")
}

/** In-process HTTP server for the seeded vendor API, served by `threads`
  * threads. It counts requests, retries it caused, distinct resources and
  * its own handling time; the one-shot transients re-arm per pass. */
final class VendorApi(data: VendorData, threads: Int) {
  // without TCP_NODELAY the JDK server's split header/body writes stall on
  // delayed ACKs, and the client would measure the server's Nagle timer
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  val requests = new AtomicLong
  val retries = new AtomicLong
  val handlerNs = new AtomicLong
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val fired = ConcurrentHashMap.newKeySet[String]()

  private def param(ex: HttpExchange, k: String): String =
    ex.getRequestURI.getRawQuery.split("&").collectFirst {
      case kv if kv.startsWith(k + "=") => kv.drop(k.length + 1)
    }.getOrElse(throw new IllegalArgumentException(s"missing $k"))

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  for (kind <- VendorData.Kinds) server.createContext(s"/$kind", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    val (key, doc) =
      if (kind == "listing") {
        val off = param(ex, "offset").toInt
        (off.toLong, () => Some(data.listing(off, param(ex, "limit").toInt)))
      } else {
        val v = param(ex, "code").stripPrefix("V").toInt
        (v.toLong, () => if (data.missing(kind, v)) None else Some(data.document(kind, v)))
      }
    seen.add(s"$kind/$key")
    data.transient(kind, key) match {
      case Some(status) if fired.add(s"$kind/$key") =>
        retries.incrementAndGet()
        respond(ex, status, "")
      case _ => doc() match {
        case Some(body) => respond(ex, 200, body)
        case None => respond(ex, 404, "")
      }
    }
    handlerNs.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()

  val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  def distinct: Long = seen.size.toLong

  def resetPass(): Unit = {
    requests.set(0); retries.set(0); handlerNs.set(0); seen.clear(); fired.clear()
  }
  def close(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** `vendor_etl`: the reference's E→T→L pipeline.
  *  - E: `Http.s3LiveScan` pages the seeded vendor API's listing and
  *    `Http.s4LiveLookup` fetches each vendor's detail, reviews and ratings
  *    document (404 kept as a NULL row, 429/503 retried), spooled to
  *    parquet.
  *  - T: the vendor operators over the seeded star tables: the enrichment
  *    joins j1-j3, top-K per group, the ratings distribution, etlPipeline.
  *  - L: the library's `city_id=/year=/month=/day=` partitioned sink
  *    (vendorFrame underneath), then one table-log commit of its files.
  * The only workload that exercises `graft.sources` and the partitioned
  * sink; `graft.llm` is never called. */
final class VendorEtl extends Workload {
  import VendorEtl._

  private var spark: SparkSession = _
  private var dir: String = _
  private var sf: String = _
  private var data: VendorData = _
  private var api: VendorApi = _
  private var sinkTruth: Map[(Long, Long), Long] = Map.empty
  private var cityTruth: Map[Long, Long] = Map.empty
  private var userBytes = 0L
  private var loaded: Seq[String] = Nil

  private def scratch = spark.conf.get("spark.graft.scratchDir")
  private def sinkDir = s"$scratch/partitioned_sink"

  def setup(s: SparkSession, d: String, seed: Long, led: Ledger): Unit = {
    spark = s; dir = d; sf = s"$d/input"
    data = VendorData(seed, Vendors, Orders)
    val sp = spark; import sp.implicits._
    val vd = data
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, Orders, 1, parts).map(o => vd.order(o)).write.parquet(s"$sf/orders.parquet")
    spark.range(0, Orders, 1, parts).flatMap(o => vd.items(o)).write.parquet(s"$sf/lineitem.parquet")
    spark.range(0, data.customers, 1, parts).map(c => vd.customer(c)).write.parquet(s"$sf/customer.parquet")
    spark.range(0, VendorData.Suppliers, 1, 1).map(x => vd.supplier(x)).write.parquet(s"$sf/supplier.parquet")
    spark.range(0, Events, 1, parts).map(e => vd.event(e)).write.parquet(s"$sf/events.parquet")
    // expected outputs, from the generator alone
    val cityDay = (0L until Orders).map(o => (data.nation(data.custOf(o)).toLong, data.dayOffset(o)))
    cityTruth = cityDay.groupMapReduce(_._1)(_ => 1L)(_ + _)
    // day offsets 2 and 3 are 2000-03-01 and 2000-03-02, the sink's slice
    sinkTruth = cityDay.collect { case (c, d) if d == 2 || d == 3 => (c, d - 1L) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val apiBytes = (0 until Vendors).map { v =>
      VendorData.Kinds.tail.filterNot(data.missing(_, v)).map(data.document(_, v).length.toLong).sum
    }.sum + (0 until Vendors by PageSize).map(data.listing(_, PageSize).length.toLong).sum
    userBytes = apiBytes + Fs.bytesUnder(sf)
    api = new VendorApi(data, spark.sparkContext.defaultParallelism)

  }

  override def close(): Unit = if (api != null) api.close()

  def outputRoots: Seq[(String, String)] =
    Seq("spool" -> s"$dir/spool", "sink" -> sinkDir, "table" -> s"$scratch/_log")

  def inputs: Seq[(String, Long)] = Seq("vendors" -> Vendors.toLong, "orders" -> Orders.toLong,
    "customers" -> data.customers.toLong, "events" -> Events.toLong,
    "sink_rows" -> sinkTruth.values.sum)

  def pass(i: Int, led: Ledger): PassOut = {
    val sp = spark; import sp.implicits._
    api.resetPass()
    val spool = s"$dir/spool/pass$i"

    // E: listing pages, then the three documents per vendor, spooled
    led.call("sources.listing") {
      Http.s3LiveScan(spark, s"${api.base}/listing", PageSize, MaxAttempts, RetryBaseMs, TimeoutMs)
        .write.parquet(s"$spool/listing")
    }
    val codes = spark.read.parquet(s"$spool/listing").select($"code")
    for (kind <- VendorData.Kinds.tail) led.call(s"sources.$kind") {
      Http.s4LiveLookup(spark, codes, s"${api.base}/$kind", MaxAttempts, RetryBaseMs, TimeoutMs)
        .write.parquet(s"$spool/$kind")
    }
    led.check("extracted_codes") {
      val got = codes.as[String].collect()
      (got.length == Vendors && got.toSet == (0 until Vendors).map(data.code).toSet,
        s"${got.length} codes extracted (${got.toSet.size} distinct), expected $Vendors")
    }
    for (kind <- VendorData.Kinds.tail) led.check(s"null_rows_$kind") {
      val rows = spark.read.parquet(s"$spool/$kind").select($"code", $"is_miss").as[(String, Boolean)].collect()
      val nulls = rows.collect { case (c, true) => c }.toSet
      val planted = (0 until Vendors).filter(data.missing(kind, _)).map(data.code).toSet
      (rows.length == Vendors && nulls == planted,
        s"${rows.length} rows, ${nulls.size} NULL rows vs ${planted.size} planted 404s")
    }
    val sourcesCounters = Map(
      "sources.requests" -> api.requests.get.toDouble, "sources.retries" -> api.retries.get.toDouble,
      "sources.distinct" -> api.distinct.toDouble, "sources.server_ms" -> api.handlerNs.get / 1e6)

    // T: the vendor operators over the star tables
    led.call("operators.j1")(Fs.drain(Joins.j1EnrichDetails(spark, sf)))
    led.call("operators.j2")(Fs.drain(Joins.j2EnrichRatings(spark, sf)))
    led.call("operators.j3")(Fs.drain(Joins.j3EnrichReviews(spark, sf)))
    led.call("operators.topk")(Fs.drain(Windows.w1TopkPerGroup(spark, sf)))
    led.call("operators.ratings")(Fs.drain(Relational.a2RatingsDistribution(spark, sf)))
    val perCity = led.call("operators.etl_pipeline") {
      Etl.etlPipeline(spark, sf).select($"city_id", $"n_vendors").as[(Long, Long)].collect()
    }
    led.check("etl_pipeline_counts") {
      val got = perCity.groupMapReduce(_._1)(_._2)(_ + _)
      (got == cityTruth, s"per-city vendor counts differ from the generator's in ${
        (got.keySet ++ cityTruth.keySet).count(k => got.get(k) != cityTruth.get(k))} cities")
    }

    // L: partitioned sink, then one table-log commit of its files
    val sunk = led.call("operators.sink") {
      Etl.s5s6PartitionedSink(spark, sf).select($"city_id", $"day", $"n").as[(Long, Long, Long)].collect()
    }
    led.check("sink_counts") {
      val got = sunk.map { case (c, d, n) => (c, d) -> n }.toMap
      (got == sinkTruth, s"${got.size} (city, day) dirs vs ${sinkTruth.size} expected; " +
        s"${got.values.sum} rows vs ${sinkTruth.values.sum}")
    }
    val t0 = Trace.nowMs
    val version = led.call("tablelog.publish") {
      val files = Fs.listing(sinkDir).keys.filter(_.endsWith(".parquet")).toSeq.sorted
        .map(p => p.stripPrefix(scratch + "/"))
      val schema =
        if (loaded.nonEmpty) Nil
        else Seq(Action("schema", spark.read.parquet(sinkDir).drop(PartCols: _*).schema.json))
      val v = TableLog.commit(spark, scratch,
        schema ++ loaded.map(Action("remove", _)) ++ files.map(Action("add", _)))
      loaded = files
      v
    }
    val commitMs = Trace.nowMs - t0
    led.check("load_commit") {
      val n = TableLog.readAsOf(spark, scratch, version).count()
      (n == sinkTruth.values.sum, s"table log v$version holds $n rows, expected ${sinkTruth.values.sum}")
    }
    PassOut(Vendors.toLong, userBytes, counters = sourcesCounters,
      samples = Map("commit" -> Seq(commitMs)))
  }
}

object VendorEtl {
  val Vendors = 1000
  val Orders = 20000
  val Events = 20000
  val PageSize: Int = graft.sources.Paginated.PAGE_SIZE
  val MaxAttempts = 3
  val RetryBaseMs = 2L
  val TimeoutMs = 10000L
  val PartCols = Seq("city_id", "year", "month", "day")
}
