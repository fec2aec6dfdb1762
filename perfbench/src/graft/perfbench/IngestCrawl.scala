package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{GateOps, MergeOps, NearDupGate, NoveltyGate, Unify}
import graft.streaming.{Curation, IncrementalIngest}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Crawl rounds land one at a time and each is drained by
  * `IncrementalIngest.start(..., curationModelsDir)` under the default
  * AvailableNow trigger (the batch-refresh shape); the next round lands
  * only after the drain returns, and API clients then query the table the
  * drain left. The first round is drained and served during warm-up, so
  * every measured drain merges re-scrapes into a populated table and
  * passes gates that hold an earlier crawl. A measured cycle is one drain
  * and the fixed request batch of [[Serving]]. The traced run replays the
  * same rounds stage by stage and checks that the replay builds the same
  * table and curation log as the streaming path. */
final class IngestCrawl(spark: SparkSession, seed: Long) extends Workload {
  import IngestCrawl._
  import spark.implicits._

  private var dir: String = _
  private var crawl: Gen.Crawl = _
  private var serving: Serving = _
  private val rounds = mutable.ArrayBuffer[(String, Vector[Gen.Rec])]()
  private val drains = mutable.ArrayBuffer[Double]()
  private val addBatch = mutable.ArrayBuffer[Double]()
  private val engine = mutable.ArrayBuffer[Double]()
  private val months = mutable.ArrayBuffer[Int]()
  private var rawBytes = 0L
  private var writtenBytes = 0L
  private var warmTraffic: Map[String, Any] = Map.empty

  def setup(d: String): Unit = {
    dir = d
    val corpus = Gen.corpus(seed, corpusDocs).toDF("doc_id", "text", "lang")
    Trace.span("Curation.trainModels+save")(
      Curation.Models.save(Curation.trainModels(corpus), s"$d/models"))
  }

  private def landing = s"$dir/landing"
  private def table = s"$dir/table"

  /** Land the next round and drain it; returns the drain's seconds. */
  private def landAndDrain(ledger: Option[Ledger], ledgers: mutable.ArrayBuffer[OpLedger]): Double = {
    val recs = crawl.round(roundSize)
    val (file, bytes) = writeRound(landing, rounds.size + 1, recs)
    rounds += ((file, recs)); rawBytes += bytes
    months += recs.map(_.month).distinct.size
    val before = listFiles(s"$table/events")
    Trace.newOp()
    val body = () => Trace.span("IncrementalIngest.start") {
      val q = IncrementalIngest.start(spark, landing, table,
        curationModelsDir = Some(s"$dir/models"))
      q.awaitTermination()
      q
    }
    val s0 = System.nanoTime()
    val q = ledger match {
      case Some(l) => val (q, o) = l.measure("ingest")(body()); ledgers += o; q
      case None => body()
    }
    val dt = (System.nanoTime() - s0) / 1e9
    val prog = q.recentProgress.toSeq
    def ms(k: String) = prog.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    addBatch += ms("addBatch")
    engine += ms("triggerExecution") - ms("addBatch")
    val after = listFiles(s"$table/events")
    writtenBytes += after.filter { case (p, _) => !before.contains(p) }.values.sum
    dt
  }

  /** Round 1 lands and is drained into the measured table, then the
    * request batch is answered once against it. */
  def warmUp(): Unit = {
    crawl = new Gen.Crawl(seed)
    serving = new Serving(spark, seed)
    drains += landAndDrain(None, mutable.ArrayBuffer())
    warmTraffic = crawl.traffic.summary
    crawl.resetTraffic()
    serving.load(table)
    serving.serve(Serving.batch, measured = false, ledger = None)
  }

  def run(seconds: Double, traced: Boolean): Outcome = {
    val ledger = if (traced) Some(new Ledger(spark)) else None
    val ledgers = mutable.ArrayBuffer[OpLedger]()
    var failed = 0
    val t0 = System.nanoTime()
    // whole cycles: every measured drain is of the same kind
    do {
      try {
        drains += landAndDrain(ledger, ledgers)
        Heap.sample()
        serving.load(table)
        serving.serve(Serving.batch, measured = true, ledger)
        Heap.sample()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] round ${rounds.size} failed: $e")
          failed += 1
      }
    } while (failed == 0 && (System.nanoTime() - t0) / 1e9 < seconds)
    ledger.foreach(_.stop())
    Main.log(s"measured ${rounds.size - 1} round(s)")

    // output checks (untimed)
    val checks = checkTable(table, crawl, rounds.map(_._2).toSeq)
    val measured = drains.drop(1).toSeq
    val records = rounds.drop(1).map(_._2.size).sum
    val reqMs = serving.lat.map(_._2).toSeq
    val stages = spark.read.parquet(s"$table/curation_log")
      .agg(count(lit(1)), sum("is_novel"), sum(lit(1) - col("is_neardup")),
        sum("quality_kept"), sum("decontam_kept"), sum("lm_kept"), sum("kept"))
      .head()
    val info = mutable.Map[String, Any](
      "traffic" -> crawl.traffic.summary,
      "warm_up_traffic" -> warmTraffic,
      "round_size" -> roundSize,
      "rounds" -> rounds.size,
      "rounds_measured" -> measured.size,
      "checks" -> checks,
      "curation_stage_counts" -> Map("evaluated" -> stages.getLong(0),
        "novel" -> stages.getLong(1), "not_neardup" -> stages.getLong(2),
        "quality_kept" -> stages.getLong(3), "decontam_kept" -> stages.getLong(4),
        "lm_kept" -> stages.getLong(5), "kept" -> stages.getLong(6)),
      "serve_traffic" -> Map("requests" -> serving.answered,
        "batch" -> Serving.counts.toMap,
        "zipf_exponents" -> Map("venue" -> 1.1, "term" -> 1.0, "id" -> 0.9, "page" -> 1.2),
        "now" -> Serving.nowIso),
      "serve_digest" -> serving.digestHex,
      "serve_failures" -> serving.bad.toMap,
      "ingest.drain_p50_s" -> Map("value" -> Stats.median(measured), "unit" -> "s",
        "samples" -> measured.size),
      "ingest.records_per_s" -> Map("value" -> records / measured.sum,
        "unit" -> "rec/s", "samples" -> measured.size),
      "serve.p50_ms" -> Map("value" -> Stats.median(reqMs), "unit" -> "ms",
        "samples" -> reqMs.size),
      "serve.p95_ms" -> Map("value" -> Stats.pct(reqMs, 0.95), "unit" -> "ms",
        "samples" -> reqMs.size, "samples_beyond" -> (reqMs.size * 0.05).floor),
      "drain_s" -> drains, "warm_up_drain_s" -> drains.head,
      "request_ms" -> serving.lat.map { case (e, ms) => s"$e ${math.round(ms)}" })
    val ok = checks.values.forall(v => !v.isInstanceOf[Boolean] || v == true)
    Main.log("checks done")
    failed += serving.failed
    val attempted = measured.size + serving.answered

    if (!traced) {
      Outcome(attempted, failed, ok, Map(
        "write_p50_ms" -> (1000 * Stats.median(measured), "ms"),
        "read_p50_ms" -> (Stats.median(reqMs), "ms"),
        "items_per_s" -> ((records + reqMs.size) / (measured.sum + reqMs.sum / 1000),
          "1/s")), info.toMap)
    } else {
      // staged replay of the same rounds, spans around every public call
      val replay = s"$dir/replay"
      val replayS = rounds.map { case (file, _) =>
        Trace.newOp()
        val s0 = System.nanoTime()
        Trace.span("drain")(replayRound(file, replay))
        (System.nanoTime() - s0) / 1e9
      }
      val fpStream = fingerprints(table)
      val fpReplay = fingerprints(replay)
      val same = fpStream == fpReplay
      info("replay_fingerprints") = Map("stream" -> fpStream.toString,
        "replay" -> fpReplay.toString, "equal" -> same)
      val n = rounds.size.toDouble
      // the streaming run's first drain is the cold warm-up, so growth is
      // read off the staged replay, which runs every round warm
      val q = math.max(1, replayS.size / 4)
      val storeBytes = listFiles(s"$table/events").values.sum
      val stateFiles = Seq("curation", "curation_log", "novelty_log")
        .map(d => listFiles(s"$table/$d").size).sum
      val layer = Map(
        "ingest.unify_s" -> (Trace.totalS("unify") / n, "s"),
        "ingest.curate_s" -> (Trace.totalS("curate") / n, "s"),
        "ingest.merge_s" -> (Trace.totalS("merge") / n, "s"),
        "ingest.logcompact_s" -> (Trace.totalS("GateOps.compactLog") / n, "s"),
        "ingest.stream_addbatch_s" -> (Stats.mean(addBatch.toSeq), "s"),
        "ingest.stream_engine_s" -> (Stats.mean(engine.toSeq), "s"),
        "ingest.kept_ratio" -> (stages.getLong(6).toDouble / stages.getLong(0), "ratio"),
        "ingest.write_amp" -> (writtenBytes.toDouble / rawBytes, "ratio"),
        "ingest.store_bytes_per_raw_byte" -> (storeBytes.toDouble / rawBytes, "ratio"),
        "ingest.months_touched_per_drain" -> (Stats.mean(months.map(_.toDouble).toSeq), "count"),
        "ingest.state_files_end" -> (stateFiles.toDouble, "count"),
        "ingest.drain_growth" -> (Stats.median(replayS.takeRight(q).toSeq) /
          Stats.median(replayS.take(q).toSeq), "ratio"),
        "serve.plan_ms_p50" -> (Stats.median(serving.plan.toSeq), "ms"),
        "serve.exec_ms_p50" -> (Stats.median(serving.exec.toSeq), "ms"),
        "serve.rows_read_per_row_returned" -> (serving.ledgers.map(_.recordsRead).sum.toDouble /
          math.max(1L, serving.returned), "ratio"),
        "serve.bytes_read_per_req" -> (serving.ledgers.map(_.bytesRead).sum.toDouble /
          serving.ledgers.size, "B"),
        // measured rounds only: the replay of a round against its drain
        "trace_overhead_ms_per_op" -> (1000 * (Stats.mean(replayS.drop(1).toSeq) -
          (Stats.mean(measured) - Stats.mean(engine.drop(1).toSeq))), "ms")) ++
        serving.endpointP50.map { case (e, v) => s"serve.$e.p50_ms" -> (v, "ms") }
      val led = (Ledger.summary("ingest", ledgers.toSeq) ++
        Ledger.summary("serve", serving.ledgers.toSeq)).map { case (k, v) =>
          k -> (v, Ledger.unitOf(k)) }
      Outcome(attempted, failed, ok && same, layer ++ led, info.toMap)
    }
  }

  /** One drain body, stage by stage, as IncrementalIngest runs it with a
    * models dir and no novelty flag. Gates and the log-compaction clock
    * are created per round because each `start` creates them afresh. */
  private def replayRound(file: String, table: String): Unit = {
    val tfs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Trace.span("GateOps.recoverGeneration") {
      Seq("novelty_log", "curation_log").foreach(GateOps.recoverGeneration(tfs, table, _))
    }
    val models = Trace.span("Curation.Models.load")(Curation.Models.load(spark, s"$dir/models"))
    val cng = new NoveltyGate(s"$table/curation/nov", autoCompactEvery = 16,
      growBloomFactor = 2, widenBucketBytes = 256L << 20)
    val cnd = new NearDupGate(s"$table/curation/nd", candCap = 100000,
      bandKeyCap = 0, autoCompactEvery = 16, targetKeyLoad = 64)
    var batchesSinceCompact = 0
    val batch = spark.read.schema(IncrementalIngest.rawSchema)
      .option("multiLine", true).json(file)
    Trace.span("curate") {
      val payload = batch.columns.filterNot(_ == "scraped_at")
      val docs = batch.select(
        xxhash64(to_json(struct(batch.columns.map(col): _*))).as("doc_id"),
        to_json(struct(payload.map(col): _*)).as("text"))
      val verdicts = Trace.span("Curation.curateBatch")(
        Curation.curateBatch(docs, cng, cnd, models))
      Trace.span("curation_log.append")(verdicts
        .withColumnRenamed("doc_id", "ingest_id")
        .write.mode("append").parquet(s"$table/curation_log"))
    }
    val unified = Trace.span("unify") {
      val u = Trace.span("Unify.unify")(Unify.unify(batch, "ibiza-spotlight"))
      Trace.span("MergeOps.dedupFirstWins")(MergeOps.dedupFirstWins(u, Seq("event_id")))
        .withColumn("start_month", startMonth)
        .localCheckpoint()
    }
    Trace.span("merge")(MergeOps.upsertParquetByMonth(spark, s"$table/events",
      unified, Seq("event_id"), "updated_at"))
    batchesSinceCompact += 1
    if (batchesSinceCompact >= 16)
      Trace.span("GateOps.compactLog")(GateOps.compactLog(spark, table,
        "curation_log", "ingest_id", 0L))
  }

  /** Order-independent content fingerprints of the events table and the
    * curation log. Event columns stamped with the drain's clock
    * (updated_at, quality, scrape times) are left out; the raw record
    * kept for each event pins which version won. */
  private def fingerprints(table: String): (String, String) = {
    def fp(df: DataFrame): String = {
      val r = df.select(xxhash64(df.columns.map(col): _*)
          .cast("decimal(38,0)").as("h"))
        .agg(coalesce(sum(col("h")), lit(0)), count(lit(1))).head()
      s"${r.get(0)}/${r.getLong(1)}"
    }
    (fp(spark.read.parquet(s"$table/events").select(col("event_id"),
        col("start_month"), col("scraping_metadata.raw_data"))),
      fp(spark.read.parquet(s"$table/curation_log").distinct()))
  }

  /** The table holds one row per landed event, each at the version landed
    * last; the curation log holds one verdict per distinct record per
    * round and covers every distinct record landed. */
  private def checkTable(table: String, crawl: Gen.Crawl,
      rounds: Seq[Vector[Gen.Rec]]): Map[String, Any] = {
    val landed = rounds.flatten
    val events = landed.map(_.event).distinct
    val expected = events.map(crawl.latest(_)).map(r =>
      (r.title, r.time.orNull, r.scrapedAt, r.price.orNull)).toDF("title", "time",
      "scraped_at", "price_text")
    val ev = spark.read.parquet(s"$table/events")
    def raw(k: String) = get_json_object(col("scraping_metadata.raw_data"), s"$$.$k")
    val actual = ev.select(raw("title").as("title"), raw("time").as("time"),
      raw("scraped_at").as("scraped_at"), raw("price_text").as("price_text"))
    val rows = ev.count()
    val ids = ev.select("event_id").distinct().count()
    val missing = expected.exceptAll(actual).count()
    val extra = actual.exceptAll(expected).count()
    val log = spark.read.parquet(s"$table/curation_log")
    def key(r: Gen.Rec) = r.copy(description = "")
    val logRows = log.count()
    val logIds = log.select("ingest_id").distinct().count()
    val wantRows = rounds.map(_.map(key).distinct.size).sum.toLong
    val wantIds = landed.map(key).distinct.size.toLong
    Map(
      "events_one_row_per_event" -> (rows == events.size && ids == events.size),
      "events_latest_version" -> (missing == 0 && extra == 0),
      "curation_log_rows" -> (logRows == wantRows),
      "curation_log_covers_records" -> (logIds == wantIds),
      "events_rows" -> rows, "events_expected" -> events.size,
      "version_mismatches" -> (missing + extra),
      "log_rows" -> logRows, "log_rows_expected" -> wantRows)
  }
}

object IngestCrawl {
  val roundSize = 500
  val corpusDocs = 600

  /** The start_month rule of the ingest path: undated or unparseable
    * records go to the sentinel month. */
  val startMonth = {
    val scrapeDated =
      col("datetime.recurring.pattern_description").isNull ||
        col("datetime.recurring.pattern_description") === "" ||
        exists(col("validation_metadata.validation_errors"),
          e => e.getField("field") === "datetime")
    when(scrapeDated, lit("0000-00"))
      .otherwise(substring(col("datetime.start_date"), 1, 7))
  }

  def writeRound(landing: String, i: Int, recs: Seq[Gen.Rec]): (String, Long) = {
    new File(landing).mkdirs()
    val body = recs.map(_.json).mkString("[\n", ",\n", "\n]\n")
      .getBytes(StandardCharsets.UTF_8)
    val f = Paths.get(landing, f"round-$i%05d.json")
    Files.write(f, body)
    (f.toString, body.length.toLong)
  }

  /** Regular files under `root` (path -> bytes); empty if absent. */
  def listFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
}
