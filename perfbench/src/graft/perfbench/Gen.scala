package graft.perfbench

import java.time.LocalDate
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded input generators. The vocabulary (words, artists, venues,
  * series names) is fixed; every draw that shapes the traffic comes from
  * the seed, so one seed always yields the same inputs and different
  * seeds yield statistically alike ones. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val syllables = Seq("ka", "lo", "mi", "ra", "ven", "to", "sa",
    "ne", "ri", "do", "mar", "lu", "fe", "zo", "bel", "an", "ti", "os",
    "cu", "pe", "dra", "wen", "ho", "li")

  private def word(r: SplittableRandom, parts: Int): String =
    (0 until parts).map(_ => syllables(r.nextInt(syllables.size))).mkString

  /** Fixed vocabulary shared by every seed. */
  val words: Vector[String] = {
    val r = new SplittableRandom(7L)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 400) seen += word(r, 2 + r.nextInt(2))
    seen.toVector
  }
  val artists: Vector[String] = {
    val r = new SplittableRandom(11L)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 300)
      seen += (word(r, 2).capitalize + " " + word(r, 2 + r.nextInt(2)).capitalize)
    seen.toVector
  }
  val series: Vector[String] = {
    val r = new SplittableRandom(13L)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < 60) seen += word(r, 2 + r.nextInt(2)).capitalize
    seen.toVector
  }
  /** Raw venue strings: the lookup-normalized clubs first (most popular
    * under the Zipf draw), then generic ones. */
  val venues: Vector[String] = Vector("pacha", "amnesia", "dc10", "hi ibiza",
    "ushuaia", "privilege", "eden", "es paradis") ++
    (0 until 24).map(i => s"Club ${series(i)}")
  val genres: Vector[String] = Vector("techno", "tech-house", "house",
    "deep house", "progressive", "trance", "melodic techno", "minimal", "dnb")
  private val rooms = Vector("Main Room", "Terrace", "Garden")

  /** The stopwords the curation quality rules count. English text in the
    * generated titles and the training corpus draws them at `stopShare`. */
  val stopwords: Vector[String] =
    Vector("the", "be", "to", "of", "and", "that", "have", "with")
  private val stopShare = 0.2

  /** `n` words of generated English: vocabulary words with stopwords. */
  private def prose(r: SplittableRandom, z: Zipf, n: Int): String =
    (0 until n).map(_ =>
      if (r.nextDouble() < stopShare) stopwords(r.nextInt(stopwords.size))
      else words(z.draw(r))).mkString(" ")

  /** The templated near-duplicate title family (one hot band key). */
  val nearDupSeries = "Sunset Sessions"
  private val nearDupBlurb = "Sunset Sessions returns for another long " +
    "night of deep grooves on the terrace with resident selectors and " +
    "special guests from sundown until close"

  /** One raw scraped record, in IncrementalIngest.rawSchema shape plus a
    * `description` (crawls carry one; the ingest stream's declared
    * schema does not read it). */
  final case class Rec(event: Int, title: String, time: Option[String],
      venue: String, lineup: Vector[(String, String, String)], url: String,
      genres: Vector[String], price: Option[String], scrapedAt: String,
      description: String) {
    /** Start month as the ingest path keys it (sentinel when undated). */
    def month: String = time.flatMap(Rec.monthOf).getOrElse("0000-00")
    def json: String = {
      val sb = new StringBuilder("{")
      sb.append("\"title\": ").append(Json.str(title))
      sb.append(", \"time\": ").append(time.map(Json.str).getOrElse("null"))
      sb.append(", \"venue\": ").append(Json.str(venue))
      sb.append(", \"lineup\": [").append(lineup.map { case (n, ro, rm) =>
        s"""{"name": ${Json.str(n)}, "role": ${Json.str(ro)}, "room": ${Json.str(rm)}}"""
      }.mkString(", ")).append("]")
      sb.append(", \"url\": ").append(Json.str(url))
      sb.append(", \"genres\": [").append(genres.map(Json.str).mkString(", "))
        .append("]")
      sb.append(", \"price_text\": ").append(price.map(Json.str).getOrElse("null"))
      sb.append(", \"scraped_at\": ").append(Json.str(scrapedAt))
      sb.append(", \"description\": ").append(Json.str(description))
      sb.append("}").toString
    }
  }
  object Rec {
    private val fmt = java.time.format.DateTimeFormatter
      .ofPattern("EEEE d MMMM yyyy", Locale.ENGLISH)
    def timeOf(d: LocalDate): String = fmt.format(d)
    def monthOf(t: String): Option[String] =
      scala.util.Try(LocalDate.parse(t, fmt)).toOption
        .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
  }

  /** Measured shares of what a crawl generator emitted. */
  final class Traffic {
    var records = 0; var rescrapes = 0; var repeats = 0; var nearDup = 0
    var undated = 0; var dated = 0; var summer = 0; var headline = 0
    val months = mutable.TreeMap[String, Int]()
    var lineupTotal = 0; var descTotal = 0
    def add(r: Rec, kind: Char): Unit = {
      records += 1
      kind match { case 'r' => rescrapes += 1; case 'p' => repeats += 1; case _ => }
      if (r.title.startsWith(nearDupSeries)) nearDup += 1
      if (r.title.contains(": ")) headline += 1
      val m = r.month
      months(m) = months.getOrElse(m, 0) + 1
      if (m == "0000-00") undated += 1
      else {
        dated += 1
        if (Set("06", "07", "08").contains(m.takeRight(2))) summer += 1
      }
      lineupTotal += r.lineup.size; descTotal += r.description.length
    }
    private def share(n: Int, d: Int) = if (d == 0) 0.0 else n.toDouble / d
    def summary: Map[String, Any] = Map(
      "records" -> records,
      "rescrape_share" -> share(rescrapes, records),
      "repeat_share" -> share(repeats, records),
      "neardup_family_share" -> share(nearDup, records),
      "headline_title_share" -> share(headline, records),
      "undated_share" -> share(undated, records),
      "summer_share_of_dated" -> share(summer, dated),
      "lineup_mean" -> share(lineupTotal, records),
      "description_chars_mean" -> share(descTotal, records),
      "month_histogram" -> months.toMap)
  }

  /** Crawl traffic: rounds of raw records with re-scrapes of earlier
    * events, byte-identical repeats, one near-duplicate title family,
    * undated records and a summer-heavy month distribution. A share of
    * the titles are page headlines: the event name and a 50-70 word English
    * blurb, the only records long and wordy enough for the curation
    * quality rules to pass (the stream does not read `description`). Each event
    * appears in a round at most once apart from byte-identical repeats,
    * so "latest version" means the version landed last. */
  final class Crawl(seed: Long) {
    /** Share of new, dated, non-family events titled with a headline. */
    val headlineShare = 0.3
    private val r = new SplittableRandom(seed)
    private val venueZipf = new Zipf(venues.size, 1.1)
    private val artistZipf = new Zipf(artists.size, 0.9)
    private val wordZipf = new Zipf(words.size, 1.0)
    /** Latest version of each event, indexed by event serial. */
    val latest = mutable.ArrayBuffer[Rec]()
    private val keys = mutable.HashSet[(String, Option[String])]()
    /** What the rounds since the last [[resetTraffic]] sent. */
    var traffic = new Traffic
    def resetTraffic(): Unit = traffic = new Traffic
    private var crawlClock = java.time.LocalDateTime.of(2025, 5, 1, 6, 0)

    private def stamp(): String = {
      crawlClock = crawlClock.plusSeconds(1 + r.nextInt(30))
      crawlClock.toString
    }
    private def pick[A](v: Vector[A]): A = v(r.nextInt(v.size))
    private def text(n: Int): String =
      (0 until n).map(_ => words(wordZipf.draw(r))).mkString(" ")
    private def lineup(): Vector[(String, String, String)] =
      Vector.fill(r.nextInt(7))((artists(artistZipf.draw(r)),
        if (r.nextInt(5) == 0) "live" else "dj", pick(rooms))).distinctBy(_._1)
    private def price(): Option[String] = r.nextInt(10) match {
      case 0 => None
      case 1 => Some("Free")
      case 2 | 3 => Some(s"From ${20 + r.nextInt(60)}€")
      case _ => Some(s"€${25 + r.nextInt(80)}")
    }
    private def date(): LocalDate = {
      val year = 2025 + r.nextInt(2)
      val month = if (r.nextDouble() < 0.7) 6 + r.nextInt(3) else {
        val others = Vector(1, 2, 3, 4, 5, 9, 10, 11, 12)
        others(r.nextInt(others.size))
      }
      LocalDate.of(year, month, 1).plusDays(
        r.nextInt(LocalDate.of(year, month, 1).lengthOfMonth()))
    }

    private def newEvent(): Rec = {
      val id = latest.size
      val family = r.nextDouble() < 0.10 / 0.65
      val undated = !family && r.nextDouble() < 0.05 / 0.65
      var rec: Rec = null
      while (rec == null) {
        val v = venues(venueZipf.draw(r))
        val (title, desc) =
          if (family) (s"$nearDupSeries Vol. ${1 + r.nextInt(400)}",
            nearDupBlurb + " " + text(r.nextInt(4)))
          else {
            val base = s"${pick(series)} ${words(wordZipf.draw(r)).capitalize}"
            val title =
              if (undated) s"$base Special $id"
              else if (r.nextDouble() < headlineShare)
                s"$base: ${prose(r, wordZipf, 50 + r.nextInt(21))}"
              else base
            (title, text(r.nextInt(101)).take(600))
          }
        val time =
          if (undated) (if (r.nextBoolean()) None else Some("TBA"))
          else Some(Rec.timeOf(date()))
        if (keys.add((title, time)))
          rec = Rec(id, title, time, v, lineup(),
            s"https://www.ibiza-spotlight.com/night/events/e$id",
            Vector.fill(1 + r.nextInt(3))(pick(genres)).distinct, price(),
            stamp(), desc)
      }
      latest += rec
      rec
    }

    /** A re-scrape of an event not yet in this round (None when a few
      * draws find none). */
    private def rescrape(seen: mutable.Set[Int]): Option[Rec] = {
      val e = Iterator.continually(latest(r.nextInt(latest.size))).take(8)
        .find(x => !seen.contains(x.event)).getOrElse(latest.head)
      if (seen.contains(e.event)) None
      else {
        val edited = e.copy(scrapedAt = stamp(),
          price = if (r.nextInt(2) == 0) price() else e.price,
          lineup = if (r.nextInt(3) == 0) lineup() else e.lineup)
        latest(e.event) = edited
        Some(edited)
      }
    }

    /** One crawl round of `n` records. */
    def round(n: Int): Vector[Rec] = {
      val out = Vector.newBuilder[Rec]
      val inRound = mutable.HashSet[Int]()
      var emitted = 0
      while (emitted < n) {
        val u = r.nextDouble()
        val (rec, kind) =
          if (u < 0.30 && latest.nonEmpty) (rescrape(inRound), 'r')
          else if (u < 0.35 && latest.nonEmpty)
            (Some(latest(r.nextInt(latest.size))), 'p')
          else (Some(newEvent()), 'n')
        rec.foreach { x =>
          out += x; inRound += x.event; traffic.add(x, kind); emitted += 1
        }
      }
      out.result()
    }
  }

  /** Training corpus for the curation models: (doc_id, text, lang). */
  def corpus(seed: Long, n: Int): Seq[(Long, String, String)] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val z = new Zipf(words.size, 1.0)
    (0 until n).map { i =>
      val en = r.nextInt(5) != 0
      val len = 20 + r.nextInt(120)
      val text =
        if (en) prose(r, z, len)
        else (0 until len).map(_ => words(z.draw(r)).reverse).mkString(" ")
      (i.toLong, text, if (en) "en" else "de")
    }
  }

  /** Vectors with product structure: the `dim` coordinates split into
    * `blocks` blocks, each with `codes` centres. A topic fixes one centre
    * per block; a point keeps its topic's centre in each block with
    * probability 0.8 (else takes another) and adds small noise. Near
    * neighbours share a topic and most block centres. */
  final class Vectors(seed: Long, dim: Int, blocks: Int, codes: Int, topics: Int) {
    private val r = new SplittableRandom(seed ^ 0xa11L)
    private val width = dim / blocks
    private val centres = Array.fill(blocks, codes, width)(gauss())
    private val topicCodes = Array.fill(topics, blocks)(r.nextInt(codes))
    private def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def next(): Array[Float] = {
      val t = topicCodes(r.nextInt(topics))
      val out = new Array[Float](dim)
      for (b <- 0 until blocks) {
        val c = if (r.nextDouble() < 0.8) t(b) else r.nextInt(codes)
        for (x <- 0 until width)
          out(b * width + x) = (centres(b)(c)(x) + 0.1 * gauss()).toFloat
      }
      out
    }
    def perturb(v: Array[Float]): Array[Float] =
      v.map(x => (x + 0.05 * gauss()).toFloat)
    def nextInt(n: Int): Int = r.nextInt(n)
  }
}
