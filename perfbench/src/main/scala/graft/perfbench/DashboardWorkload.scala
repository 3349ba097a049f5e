package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.Dashboard

/** `dashboard_queries`: one client in a closed loop issuing the
  * `analytics.Dashboard` family over cached orders/customer tables.
  * Each request's parameters come from the generated request list;
  * about half repeat an earlier parameter set.
  */
final class DashboardWorkload(val spark: SparkSession, val input: String,
                              val work: String) extends Workload {

  case class Req(kind: String, from: String, to: String, segment: String,
                 k: Int, key: String) {
    def id: String = s"$kind|$from|$to|$segment|$k|$key"
  }

  private val reqs: Array[Req] = {
    val field = """"(\w+)":\s*(?:"([^"]*)"|(\d+))""".r
    scala.io.Source.fromFile(s"$input/requests.jsonl", "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val m = field.findAllMatchIn(line)
          .map(x => x.group(1) -> Option(x.group(2)).getOrElse(x.group(3))).toMap
        Req(m("kind"), m("from"), m("to"), m("segment"), m("k").toInt, m("key"))
      }.toArray
  }

  private var orders: DataFrame = _
  private var customer: DataFrame = _
  /** First result of every distinct collected request, in the order issued. */
  private val results = mutable.LinkedHashMap.empty[String, (Req, Seq[String], Array[Row])]
  private val starJoins = mutable.LinkedHashMap.empty[String, Req]
  private var mismatched = 0

  def request(i: Int): Req = reqs(i % reqs.length)

  override def key(i: Int): String = request(i).id

  def setup(): Unit = {
    orders = Tables.orders(spark, input).cache()
    customer = Tables.customer(spark, input).cache()
    orders.count()
    customer.count()
    // warm every request kind once
    reqs.groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.kind).foreach { r =>
      val df = frame(r)
      if (r.kind == "starJoin") df.write.format("noop").mode("overwrite").save()
      else df.collect()
    }
  }

  private def frame(r: Req): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(r.from).cast("timestamp") &&
      col("o_orderdate") < lit(r.to).cast("timestamp"))
    r.kind match {
      case "segmentSummary" => Dashboard.segmentSummary(o, customer)
      case "monthlyTrend" => Dashboard.monthlyTrend(o)
      case "topK" => Dashboard.topK(o, r.key, r.k)
      case "headlineMetrics" => Dashboard.headlineMetrics(o)
      case "starJoin" =>
        Dashboard.starJoin(o, customer.filter(col("c_mktsegment") === r.segment))
    }
  }

  private var lastCollected: Array[Row] = Array.empty

  def run(i: Int, tr: Tracer): Unit = {
    val r = request(i)
    tr.span("analytics.Dashboard") {
      val t0 = System.nanoTime()
      val df = frame(r)
      if (tr.enabled) {
        df.queryExecution.executedPlan
        tr.count("plan_ms", (System.nanoTime() - t0) / 1e6)
      }
      val t1 = System.nanoTime()
      if (r.kind == "starJoin") {
        df.write.format("noop").mode("overwrite").save()
        lastCollected = Array.empty
      } else lastCollected = df.collect()
      tr.count("exec_ms", (System.nanoTime() - t1) / 1e6)
    }
  }

  override def after(i: Int, traced: Boolean): Boolean = {
    val r = request(i)
    if (r.kind == "starJoin") { starJoins.getOrElseUpdate(r.id, r); true }
    else {
      val rows = lastCollected.map(_.toSeq.map(cell).mkString("\u0001")).toSeq.sorted
      results.get(r.id) match {
        case None => results(r.id) = (r, rows, lastCollected); true
        case Some((_, first, _)) =>
          val same = first == rows
          if (!same) mismatched += 1
          same
      }
    }
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case x => x.toString
  }

  private def json(v: Any): Any = v match {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case x => x
  }

  /** Writes every distinct result (and each distinct star join's row
    * count) for the DuckDB comparison.
    */
  override def finalChecks(): Seq[(String, Boolean, String)] = {
    val w = new java.io.PrintWriter(s"$work/dashboard_results.jsonl", "UTF-8")
    try {
      results.values.foreach { case (r, _, rows) =>
        w.println(Json.obj("id" -> r.id, "kind" -> r.kind, "from" -> r.from,
          "to" -> r.to, "segment" -> r.segment, "k" -> r.k, "key" -> r.key,
          "columns" -> frame(r).columns.toSeq,
          "rows" -> rows.map(_.toSeq.map(json)).toSeq))
      }
      starJoins.values.foreach { r =>
        w.println(Json.obj("id" -> r.id, "kind" -> r.kind, "from" -> r.from,
          "to" -> r.to, "segment" -> r.segment, "k" -> r.k, "key" -> r.key,
          "columns" -> Seq("n"), "rows" -> Seq(Seq(frame(r).count()))))
      }
    } finally w.close()
    Seq(("dashboard.repeats_agree", mismatched == 0,
      s"$mismatched repeated requests returned a different result"))
  }

  override def facts: Map[String, Any] = Map(
    "results" -> s"$work/dashboard_results.jsonl",
    "distinct_requests" -> (results.size + starJoins.size))
}
