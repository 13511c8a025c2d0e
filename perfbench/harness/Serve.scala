package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dq.DqChecks
import graft.flow.{Every, TaskDef, TaskGraph}
import graft.query.{Explorer, OrderFilters}

/** One analyst request of the assignment5 app. `kind` is the request
  * type; the other fields are the parameters that type reads. */
final case class Request(id: Int, kind: String, filters: OrderFilters, column: String,
    k: Int, cols: Seq[String], role: String) {

  /** The request as plain values, for the response log the oracle reads. */
  def toMap: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "column" -> column, "k" -> k, "cols" -> cols, "role" -> role,
    "brands" -> filters.brands, "engines" -> filters.engines, "states" -> filters.states,
    "hp" -> filters.hpRange.map { case (a, b) => Seq(a, b) }.orNull,
    "dates" -> filters.dateRange.map { case (a, b) => Seq(a, b) }.orNull,
    "search" -> filters.search.orNull)
}

/** analyst_serve: closed loop, one client. A seeded session of short
  * dependent requests over a 100k-order table built in set-up: metric
  * tiles, segment top-k, widget distinct values and bounds, composed
  * filters with search, bounded previews, role-masked reads and the DQ
  * dashboard. Requests are short, so planning, job scheduling and scan
  * set-up dominate; the write paths are not touched. */
final class Serve(spark: SparkSession, conf: Conf, seed: Long, work: String,
    corrupt: Boolean) extends Workload {

  private val nOrders = conf.int("orders")
  private val nRequests = conf.int("distinct_requests")
  private val dqRuns = conf.int("dq_runs")
  private val kinds = Seq("tiles", "segment", "distinct", "bounds", "filtered", "preview",
    "masked", "dq_dashboard")

  private var dir = ""
  private var requests = IndexedSeq.empty[Request]
  // first response of each request, canonical; later responses must match
  private val first = mutable.Map.empty[Int, (Seq[String], Seq[Seq[Any]])]
  private var served = 0L
  private var mismatched = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val timesServed = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private def ordersDir = s"$dir/orders"
  private def dqDir = s"$dir/dq_metrics"

  def setup(d: String): String = {
    dir = d
    Inputs.orders(spark, nOrders, seed).write.parquet(ordersDir)
    // the DQ metrics history the dashboard reads: the DQ task run on an
    // hourly schedule over a growing slice of the table
    var now = graft.gen.OrderGenerator.anchorMillis
    val graph = new TaskGraph(() => new Timestamp(now))
    var run = 0
    graph.add(TaskDef("dq", Some(Every(3600)), body = () => {
      run += 1
      val slice = spark.read.parquet(ordersDir)
        .filter(pmod(xxhash64(col("txid")), lit(dqRuns)) < run)
      Refine.dqMetrics(slice, new Timestamp(now)).write.mode("append").parquet(dqDir)
    }))
    graph.resume("dq")
    (0 until dqRuns).foreach { _ => graph.tick(); now += 3600L * 1000 }
    require(graph.history.forall(_.status == "SUCCEEDED"), "DQ history task failed")

    val dom = Explorer.flatten(spark.read.parquet(ordersDir)).agg(
      sort_array(collect_set("BRAND")), sort_array(collect_set("ENGINE")),
      sort_array(collect_set("STATE"))).head()
    requests = plan(dom.getSeq[String](0).toIndexedSeq, dom.getSeq[String](1).toIndexedSeq,
      dom.getSeq[String](2).toIndexedSeq)
    Stats.sha1(Stats.tableHash(spark.read.parquet(ordersDir)) +
      Stats.tableHash(spark.read.parquet(dqDir)) + requests.mkString)
  }

  /** The seeded request set: every kind equally often, parameters drawn
    * from the table's own value domains. */
  private def plan(brands: IndexedSeq[String], engines: IndexedSeq[String],
      states: IndexedSeq[String]): IndexedSeq[Request] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eed5e7L)
    def pick[T](xs: IndexedSeq[T], max: Int): Seq[T] =
      (0 until r.nextInt(max + 1)).map(_ => xs(r.nextInt(xs.size))).distinct.sorted(
        Ordering.by[T, String](_.toString))
    def maybe[T](p: Double)(v: => T): Option[T] = if (r.nextDouble() < p) Some(v) else None
    val searches = IndexedSeq("ada", "knuth", "hopper", "grace l", "example.com", "-21", "ab",
      "lin")
    def filters(withSearch: Boolean) = OrderFilters(
      brands = if (r.nextDouble() < 0.4) pick(brands, 3) else Nil,
      engines = if (r.nextDouble() < 0.3) pick(engines, 2) else Nil,
      hpRange = maybe(0.3) { val lo = 50L + r.nextInt(250); (lo, lo + 50L + r.nextInt(300)) },
      dateRange = maybe(0.3) {
        val start = java.time.LocalDate.of(2023, 10, 1).plusDays(r.nextInt(700))
        (start.toString, start.plusDays(7 + r.nextInt(200)).toString)
      },
      search = if (withSearch) Some(searches(r.nextInt(searches.size))) else None,
      states = if (r.nextDouble() < 0.3) pick(states, 4) else Nil)
    val segCols = IndexedSeq("BRAND", "ENGINE", "STATE", "CAR_MODEL", "CITY")
    val numCols = IndexedSeq("HORSEPOWER", "SELL_PRICE", "DAYS")
    val previewCols = IndexedSeq("BRAND", "CAR_MODEL", "ENGINE", "HORSEPOWER", "SELL_PRICE",
      "DAYS", "NAME", "CITY", "STATE", "EMAIL")
    (0 until nRequests).map { i =>
      val kind = kinds(i % kinds.size)
      kind match {
        case "tiles" => Request(i, kind, filters(r.nextDouble() < 0.3), "", 0, Nil, "")
        case "segment" => Request(i, kind, filters(false), segCols(r.nextInt(segCols.size)),
          Seq(3, 5, 10)(r.nextInt(3)), Nil, "")
        case "distinct" => Request(i, kind, OrderFilters(), segCols(r.nextInt(segCols.size)),
          Seq(20, 200)(r.nextInt(2)), Nil, "")
        case "bounds" => Request(i, kind, OrderFilters(), numCols(r.nextInt(numCols.size)), 0,
          Nil, "")
        case "filtered" => Request(i, kind, filters(true), "", 50, Nil, "")
        case "preview" => Request(i, kind, filters(r.nextDouble() < 0.5), "",
          Seq(20, 100)(r.nextInt(2)), "TXID" +: pick(previewCols, 4), "")
        case "masked" => Request(i, kind, OrderFilters(brands = pick(brands, 2)), "", 50, Nil,
          Seq("admin", "auditor", "analyst", "public")(r.nextInt(4)))
        case "dq_dashboard" => Request(i, kind, OrderFilters(), Seq("latest", "alerts")(r.nextInt(2)),
          0, Nil, "")
      }
    }
  }

  /** The DataFrame a request runs, and the layer whose function builds it. */
  private def frame(q: Request): (String, DataFrame) = {
    lazy val orders = spark.read.parquet(ordersDir)
    lazy val flat = Explorer.flatten(orders)
    q.kind match {
      case "tiles" => "query.explorer" -> Explorer.metricTiles(Explorer.applyFilters(flat, q.filters))
      case "segment" => "query.explorer" ->
        Explorer.ordersBySegment(Explorer.applyFilters(flat, q.filters), q.column, q.k)
      case "distinct" => "query.explorer" -> Explorer.distinctValues(flat, q.column, q.k)
      case "bounds" => "query.explorer" -> Explorer.bounds(flat, q.column)
      case "filtered" => "query.explorer" -> Explorer.applyFilters(flat, q.filters)
        .select("TXID", "BRAND", "HORSEPOWER", "NAME", "EMAIL").orderBy("TXID").limit(q.k)
      case "preview" => "query.explorer" ->
        Explorer.preview(Explorer.applyFilters(flat, q.filters), q.cols, q.k)
      case "masked" =>
        val src = if (q.filters.brands.isEmpty) orders
          else orders.filter(col("brand").isin(q.filters.brands: _*))
        "pii.masked_read" -> Refine.masked(src, q.role)
          .select("txid", "brand", "name", "phone", "email").orderBy("txid").limit(q.k)
      case "dq_dashboard" =>
        val latest = DqChecks.latestPerMetric(spark.read.parquet(dqDir))
        val out = if (q.column == "latest") latest
          else DqChecks.thresholdAlerts(latest, Refine.thresholds(spark))
        "dq.dashboard" -> out.select("metric_group", "metric_name", "metric_value")
          .orderBy("metric_name")
    }
  }

  /** Run one request; returns its latency in ms. */
  private def serve(q: Request, tr: Tracer): Double = {
    val t = System.nanoTime()
    val (cols, rows) = tr.span(s"serve.${q.kind}") {
      val (layer, df) = frame(q)
      tr.span(layer) { (df.columns.toSeq, df.collect().toSeq) }
    }
    val ms = (System.nanoTime() - t) / 1e6
    // preview has no order: compare it as a set
    def canon(rs: Seq[Row]) = {
      val vs = rs.map(_.toSeq)
      if (q.kind == "preview") vs.sortBy(_.mkString("|")) else vs
    }
    served += 1
    timesServed(q.id) += 1
    first.get(q.id) match {
      case None => first(q.id) = (cols, canon(rows))
      case Some((c0, r0)) =>
        if (c0 != cols || r0 != canon(rows)) {
          mismatched += 1
          problems += s"request ${q.id} (${q.kind}) answered differently on a repeat"
        }
    }
    ms
  }

  def warm(): Unit = {
    val off = new Tracer(spark, on = false)
    requests.foreach(serve(_, off))
  }

  def measure(seconds: Double, tr: Tracer): Window = {
    val r = new java.util.SplittableRandom(seed * 31 + 1)
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (lat.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      tr.request = lat.size + 1
      lat += serve(requests(r.nextInt(requests.size)), tr)
    }
    Window((System.nanoTime() - t0) / 1e9, lat.toIndexedSeq, lat.map(1e3 / _).toIndexedSeq)
  }

  /** Repeats must answer like the first time; the first answers are
    * checked against DuckDB by the runner (`oracle.py`), from the
    * response log written here. */
  def verify(): Verdict = {
    val log = requests.map { q =>
      val (cols, rows) = first(q.id)
      val rs = if (corrupt && q.id == 0) rows :+ rows.headOption.getOrElse(Seq.empty) else rows
      Map("request" -> q.toMap, "served" -> timesServed(q.id), "cols" -> cols, "rows" -> rs)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(s"$work/responses.json"), Map(
      "orders" -> ordersDir, "dq_metrics" -> dqDir, "responses" -> log))
    Verdict(served, mismatched, Seq(
      s"repeated requests answer like their first run: ${served - mismatched}/$served") ++
      problems.distinct.take(10))
  }

  def named(w: Window): Seq[(String, Double, String)] = Seq(
    ("serve_latency_p50_ms", Stats.pct(w.latenciesMs, 50), "ms"),
    ("serve_latency_p95_ms", Stats.pct(w.latenciesMs, 95), "ms"))

  def layerExtras(w: Window): Seq[(String, Double, String)] = Nil
}
