package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EventQueries
import scala.collection.mutable

/** API clients querying the events table a crawl built, one client
  * waiting on each reply. Requests come in a fixed endpoint order, the
  * same for every seed, with Zipf-skewed parameters drawn from the seed;
  * each is answered by `collect()`, checked against its endpoint's
  * contract and folded into a digest of all responses. The checks compare
  * against facts read from the table itself, so they hold whatever clock
  * the ingest stamped into the quality scores. */
final class Serving(spark: SparkSession, seed: Long) {
  import Serving._

  private var ev: DataFrame = _
  private var tableSize = 0L
  /** event_id -> (start_date, overall_score, venue name, search tokens) */
  private var facts: Map[String, (String, Double, String, Set[String])] = _
  private var venueNames: Vector[String] = _
  private var ids: Vector[String] = _
  private val r = new SplittableRandom(seed ^ 0x5e7eL)
  private val digest = java.security.MessageDigest.getInstance("SHA-256")

  /** Measured requests: (endpoint, latency ms). */
  val lat = mutable.ArrayBuffer[(String, Double)]()
  /** Traced requests: planning and execution ms, engine ledgers. */
  val plan = mutable.ArrayBuffer[Double]()
  val exec = mutable.ArrayBuffer[Double]()
  val ledgers = mutable.ArrayBuffer[OpLedger]()
  var answered = 0
  /** Rows returned to measured requests. */
  var returned = 0L
  var failed = 0
  val bad = mutable.Map[String, Int]().withDefaultValue(0)

  /** Point the clients at the events table under `table`. */
  def load(table: String): Unit = {
    ev = spark.read.parquet(s"$table/events")
    loadFacts()
  }

  /** Facts the response checks compare against, and the parameter pools
    * requests draw from. */
  private def loadFacts(): Unit = {
    val rows = ev.select(col("event_id"), col("datetime.start_date"),
      col("data_quality.overall_score"), col("venue.name"),
      lower(concat_ws(" ", coalesce(col("title"), lit("")),
        coalesce(col("content.short_description"), lit("")),
        coalesce(col("content.full_description"), lit("")),
        coalesce(col("venue.name"), lit("")),
        coalesce(array_join(transform(col("acts"),
          a => coalesce(a.getField("act_name"), lit(""))), " "), lit(""))))
    ).collect()
    facts = rows.map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2),
      r.getString(3), r.getString(4).split("\\s+").toSet))).toMap
    tableSize = rows.length.toLong
    venueNames = rows.groupBy(_.getString(3)).toVector
      .sortBy { case (v, rs) => (-rs.length, v) }.map(_._1)
    ids = rows.map(_.getString(0)).sorted.toVector
  }

  /** A drawn request: endpoint, parameters, and the DataFrame answering it. */
  final case class Req(endpoint: String, params: Map[String, Any], df: () => DataFrame)

  private val venueZipf = new Gen.Zipf(64, 1.1)
  private val wordZipf = new Gen.Zipf(Gen.words.size, 1.0)
  private val idZipf = new Gen.Zipf(4096, 0.9)
  private val pageZipf = new Gen.Zipf(20, 1.2)

  private def draw(endpoint: String): Req = {
    def venue = venueNames(math.min(venueNames.size - 1, venueZipf.draw(r)))
    val minQ = Seq(0.6, 0.7, 0.8)(r.nextInt(3))
    val now = lit(nowIso)
    endpoint match {
      case "events" =>
        val limit = if (r.nextBoolean()) 20 else 50
        val skip = pageZipf.draw(r) * limit
        val v = if (r.nextInt(10) < 3) Some(venue) else None
        Req(endpoint, Map("minQuality" -> minQ, "limit" -> limit, "skip" -> skip,
          "venue" -> v), () => EventQueries.events(ev, now, minQuality = minQ,
          venueRegex = v, limit = limit, skip = skip))
      case "eventById" =>
        // Zipf over a seeded permutation of the ids
        val rank = idZipf.draw(r)
        val id = ids(((rank.toLong * 2654435761L + seed) % ids.size).toInt.abs)
        Req(endpoint, Map("id" -> id), () => EventQueries.eventById(ev, id))
      case "search" =>
        val term = if (r.nextInt(10) < 3) Gen.series(r.nextInt(Gen.series.size)).toLowerCase
          else Gen.words(wordZipf.draw(r))
        Req(endpoint, Map("term" -> term, "minQuality" -> minQ),
          () => EventQueries.search(ev, term, minQuality = minQ))
      case "venueEvents" =>
        val v = venue
        Req(endpoint, Map("venue" -> v), () => EventQueries.venueEvents(ev, v, now))
      case "upcoming" =>
        Req(endpoint, Map("minQuality" -> minQ),
          () => EventQueries.upcoming(ev, now, minQuality = minQ))
      case "venues" => Req(endpoint, Map.empty, () => EventQueries.venues(ev, now))
      case "topVenues" => Req(endpoint, Map.empty, () => EventQueries.topVenues(ev))
      case "qualityStats" => Req(endpoint, Map.empty, () => EventQueries.qualityStats(ev))
      case "monthComparison" =>
        val y = 2025 + r.nextInt(2)
        Req(endpoint, Map("year" -> y), () => EventQueries.monthComparison(ev,
          s"$y-07-01", s"$y-08-01", s"$y-08-01", s"$y-09-01"))
    }
  }

  /** Answer one request per endpoint in `order`. Latencies are kept when
    * `measured`; with a ledger each request is one bracketed operation,
    * its planning (forcing the executed plan) timed apart from `collect`. */
  def serve(order: Seq[String], measured: Boolean, ledger: Option[Ledger]): Unit =
    order.foreach { endpoint =>
      val req = draw(endpoint)
      try {
        val rows = ledger match {
          case None =>
            val s0 = System.nanoTime()
            val rows = req.df().collect()
            if (measured) lat += ((endpoint, (System.nanoTime() - s0) / 1e6))
            rows
          case Some(l) =>
            Trace.newOp()
            val (rows, o) = l.measure("serve") {
              Trace.span(s"EventQueries.$endpoint") {
                val s0 = System.nanoTime()
                val df = req.df()
                Trace.span("queryExecution.executedPlan")(df.queryExecution.executedPlan)
                val s1 = System.nanoTime()
                val rows = Trace.span("collect")(df.collect())
                val s2 = System.nanoTime()
                if (measured) {
                  plan += (s1 - s0) / 1e6; exec += (s2 - s1) / 1e6
                  lat += ((endpoint, (s2 - s0) / 1e6))
                }
                rows
              }
            }
            if (measured) ledgers += o
            rows
        }
        answered += 1
        if (measured) returned += rows.length
        digest.update(s"$endpoint ${req.params.toSeq.sortBy(_._1)}\n"
          .getBytes(StandardCharsets.UTF_8))
        rows.foreach(x => digest.update((x.toString + "\n").getBytes(StandardCharsets.UTF_8)))
        val why = check(req, rows)
        if (why.nonEmpty) { failed += 1; bad(s"$endpoint: ${why.get}") += 1 }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1; bad(s"$endpoint: ${e.getClass.getSimpleName}") += 1
      }
    }

  def digestHex: String = digest.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"$b%02x").mkString.take(32)

  /** Per-endpoint latency medians (ms) of the measured requests. */
  def endpointP50: Seq[(String, Double)] = endpoints.map { e =>
    val xs = lat.filter(_._1 == e).map(_._2).toSeq
    e -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
  }

  /** The endpoint's contract, checked against facts gathered from the
    * table independently of the query: None when the response holds. */
  private def check(req: Req, rows: Array[Row]): Option[String] = {
    def sortedBy[K](key: Row => K)(implicit o: Ordering[K]) =
      rows.toSeq.sliding(2).forall {
        case Seq(a, b) => o.lteq(key(a), key(b)); case _ => true }
    def list(limit: Int, minQ: Double, future: Boolean): Option[String] =
      if (rows.length > limit) Some("over limit")
      else if (!sortedBy(x => (x.getAs[String]("start_date"), x.getAs[String]("event_id"))))
        Some("not sorted by (start_date, event_id)")
      else if (rows.exists(_.getAs[Double]("overall_score") < minQ)) Some("below minQuality")
      else if (future && rows.exists(_.getAs[String]("start_date") < nowIso)) Some("past event")
      else None
    val p = req.params
    def mq = p("minQuality").asInstanceOf[Double]
    req.endpoint match {
      case "events" =>
        list(p("limit").asInstanceOf[Int], mq, future = true).orElse {
          val v = p("venue").asInstanceOf[Option[String]]
          if (v.exists(n => rows.exists(x => !x.getAs[String]("venue_name")
              .toLowerCase.contains(n.toLowerCase)))) Some("wrong venue") else None
        }
      case "eventById" =>
        if (rows.length == 1 && rows(0).getAs[String]("event_id") == p("id")) None
        else Some(s"${rows.length} rows for the id")
      case "search" =>
        val term = p("term").asInstanceOf[String]
        if (rows.length > 20) Some("over limit")
        else if (rows.exists(x => !facts(x.getAs[String]("event_id"))._4.contains(term)))
          Some("row without the term")
        else if (rows.exists(_.getAs[Double]("overall_score") < mq)) Some("below minQuality")
        else if (!sortedBy(x => (-x.getAs[Long]("score"), x.getAs[String]("event_id"))))
          Some("not sorted by (score desc, event_id)")
        else None
      case "venueEvents" =>
        val v = p("venue").asInstanceOf[String].toLowerCase
        list(50, Double.MinValue, future = true).orElse(
          if (rows.exists(x => !x.getAs[String]("venue_name").toLowerCase.contains(v)))
            Some("wrong venue") else None)
      case "upcoming" =>
        list(20, mq, future = true).orElse(
          if (rows.exists(_.getAs[String]("start_date") > upcomingEnd)) Some("beyond 7 days")
          else None)
      case "venues" =>
        if (rows.map(_.getAs[Long]("eventCount")).sum != tableSize) Some("counts != table size")
        else if (!sortedBy(x => (-x.getAs[Long]("eventCount"), x.getAs[String]("venueName"))))
          Some("not sorted")
        else None
      case "topVenues" =>
        if (rows.length > 10) Some("over k")
        else if (!sortedBy(x => (-x.getAs[Double]("averageQuality"),
            -x.getAs[Long]("eventCount"), x.getAs[String]("venueName")))) Some("not sorted")
        else None
      case "qualityStats" =>
        val x = rows.head
        val buckets = Seq("excellent", "good", "fair", "poor").map(x.getAs[Long]).sum
        if (rows.length == 1 && x.getAs[Long]("totalEvents") == tableSize &&
          buckets == tableSize) None else Some("bucket counts != table size")
      case "monthComparison" =>
        val y = p("year").asInstanceOf[Int]
        def n(a: String, b: String) =
          facts.values.count { case (d, _, _, _) => d >= a && d < b }.toLong
        val x = rows.head
        if (x.getAs[Long]("month_a") == n(s"$y-07-01", s"$y-08-01") &&
          x.getAs[Long]("month_b") == n(s"$y-08-01", s"$y-09-01")) None
        else Some("month counts differ")
    }
  }
}

object Serving {
  val nowIso = "2025-06-01T00:00:00Z"
  val upcomingEnd = "2025-06-08T00:00:00Z"
  /** The request mix (30/25/15/10/10/4/3/2/1%) over 15 requests, every
    * endpoint at least once. */
  val counts: Seq[(String, Int)] = Seq("events" -> 4, "eventById" -> 3,
    "search" -> 2, "venueEvents" -> 1, "upcoming" -> 1, "venues" -> 1,
    "topVenues" -> 1, "qualityStats" -> 1, "monthComparison" -> 1)
  val endpoints: Seq[String] = counts.map(_._1)
  /** The request batch, in one fixed interleaving so every seed sends the
    * same sequence of endpoints. */
  val batch: Seq[String] = new scala.util.Random(1L)
    .shuffle(counts.flatMap { case (e, n) => Seq.fill(n)(e) })
}
