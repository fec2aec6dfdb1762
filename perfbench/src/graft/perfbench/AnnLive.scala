package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.operators.{AnnIndex, Similarity}
import scala.collection.mutable

/** A live IVF-PQ index: mostly probe batches, with every 4th operation an
  * append of new and updated vectors (updates reuse ids, so latest-wins
  * deltas build up) and every 2nd append followed by a compaction. Recall
  * is scored per probe against exact top-k over the live corpus, which the
  * harness mirrors in driver memory. */
final class AnnLive(spark: SparkSession, seed: Long) extends Workload {
  import AnnLive._
  import spark.implicits._

  private var index: String = _
  private var gen: Gen.Vectors = _
  private var pool: Vector[(Long, Array[Float])] = _
  private val live = new Exact

  private def frame(vs: Seq[(Long, Array[Float])]): DataFrame =
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")

  def setup(d: String): Unit = {
    gen = new Gen.Vectors(seed, dim, m, ksub, topics)
    live.clear()
    val corpus = (0L until corpusN).map(i => i -> gen.next())
    corpus.foreach { case (id, v) => live.put(id, v) }
    pool = Vector.tabulate(poolN)(i => (queryIdBase + i) -> gen.next())
    val df = frame(corpus)
    val centroids = Trace.span("Similarity.trainIvfCentroids")(
      Similarity.trainIvfCentroids(df, "id", "vec", dim, nlist))
    val books = Trace.span("Similarity.trainPqCodebooks")(
      Similarity.trainPqCodebooks(df, "id", "vec", dim, m, ksub))
    index = s"$d/index"
    Trace.span("AnnIndex.build")(
      AnnIndex.build(spark, index, df, "id", "vec", centroids, books))
  }

  private var nextId = 0L

  /** An append batch: `batchAppend / 2` new ids and up to as many
    * perturbed copies of live corpus vectors under their old ids. */
  private def appendBatch(): (Seq[(Long, Array[Float])], Int) = {
    val fresh = Seq.fill(batchAppend / 2) { nextId += 1; nextId -> gen.next() }
    val upd = Seq.fill(batchAppend / 2)(gen.nextInt(corpusN)).distinct
      .map(i => i.toLong -> gen.perturb(live.get(i.toLong)))
    (fresh ++ upd, upd.size)
  }

  private def probeRows(qs: Seq[(Long, Array[Float])]): Array[Row] =
    AnnIndex.probe(spark, index, frame(qs), "id", "vec", k, nprobe).collect()

  /** Every operation kind once (append, probe on the delta, compaction),
    * so the measured cycle starts warm from a compacted index. */
  def warmUp(): Unit = {
    nextId = corpusN.toLong
    val (vs, _) = appendBatch()
    AnnIndex.append(spark, index, frame(vs), "id", "vec")
    vs.foreach { case (id, v) => live.put(id, v) }
    probeRows(pool.take(batch))
    AnnIndex.compact(spark, index)
  }

  def run(seconds: Double, traced: Boolean): Outcome = {
    val ledger = if (traced) Some(new Ledger(spark)) else None
    val r = new java.util.SplittableRandom(seed ^ 0x9e37L)
    val probes = mutable.ArrayBuffer[Double]()
    val plainProbes = mutable.ArrayBuffer[Double]()
    val appends = mutable.ArrayBuffer[Double]()
    val compacts = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    val deltasAtProbe = mutable.ArrayBuffer[Double]()
    val probeLedgers = mutable.ArrayBuffer[OpLedger]()
    val appendLedgers = mutable.ArrayBuffer[OpLedger]()
    var attempted = 0
    var failed = 0
    var shortRows = 0
    var updates = 0
    var appended = 0
    val bad = mutable.Map[String, Int]().withDefaultValue(0)

    def timed[A](kind: String, into: mutable.ArrayBuffer[Double],
        leds: Option[mutable.ArrayBuffer[OpLedger]])(body: => A): A = {
      Trace.newOp()
      val s0 = System.nanoTime()
      val out = (ledger, leds) match {
        case (Some(l), Some(ls)) => val (a, o) = l.measure(kind)(body); ls += o; a
        case _ => body
      }
      into += (System.nanoTime() - s0) / 1e6
      out
    }

    def append(): Unit = {
      val (vs, nUpd) = appendBatch()
      val batchDf = frame(vs)
      timed("ann.append", appends, Some(appendLedgers))(
        Trace.span("AnnIndex.append")(AnnIndex.append(spark, index, batchDf, "id", "vec")))
      vs.foreach { case (id, v) => live.put(id, v) }
      updates += nUpd
      appended += vs.size
    }

    def probe(): Unit = {
      val start = r.nextInt(poolN)
      val qs = (0 until batch).map(i => pool((start + i) % poolN))
      if (traced) deltasAtProbe += Trace.span("AnnIndex.census")(
        AnnIndex.census(spark, index).select("component").distinct().count() - 1).toDouble
      def run(): Array[Row] = probeRows(qs)
      // traced: an untraced twin of each probe, in alternating order
      def twin(): Unit = {
        val s0 = System.nanoTime(); run()
        plainProbes += (System.nanoTime() - s0) / 1e6
      }
      if (traced && probes.size % 2 == 0) twin()
      val rows = timed("ann.probe", probes, Some(probeLedgers))(
        Trace.span("AnnIndex.probe")(run()))
      if (traced && probes.size % 2 == 0) twin()
      val got = rows.groupBy(_.getAs[Long]("query_id"))
      var ok = true
      qs.foreach { case (qid, q) =>
        val ids = got.getOrElse(qid, Array.empty[Row]).map(_.getAs[Long]("corpus_id"))
        if (ids.length != k) { ok = false; shortRows += 1 }
        val truth = live.topK(q, k).toSet
        recalls += ids.count(truth.contains).toDouble / k
      }
      if (!ok) { failed += 1; bad("probe returned != k rows per query") += 1 }
    }

    // whole cycles, so every run measures the same operation mix
    val t0 = System.nanoTime()
    do cycle.foreach { op =>
      attempted += 1
      try op match {
        case 'p' => probe()
        case 'a' => append()
        case 'c' => timed("ann.compact", compacts, None)(
          Trace.span("AnnIndex.compact")(AnnIndex.compact(spark, index)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1; bad(e.getClass.getSimpleName) += 1
      }
      Heap.sample()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    ledger.foreach(_.stop())
    val recall = Stats.mean(recalls.toSeq)
    val info = Map[String, Any](
      "traffic" -> Map("corpus" -> corpusN, "dim" -> dim, "topics" -> topics,
        "nlist" -> nlist, "pq_m" -> m, "pq_ksub" -> ksub, "k" -> k, "nprobe" -> nprobe,
        "probe_batch" -> batch, "append_every_nth_op" -> appendEvery,
        "append_batch" -> batchAppend, "compact_every_nth_append" -> compactEvery,
        "probes" -> probes.size, "appends" -> appends.size, "compacts" -> compacts.size,
        "updated_ids" -> updates, "vectors_appended" -> appended,
      "live_corpus_end" -> live.size),
      "failures" -> bad.toMap,
      "probe_ms" -> probes, "append_ms" -> appends, "compact_ms" -> compacts,
      "recall_floor" -> recallFloor,
      "ann.probe_p50_ms" -> Map("value" -> Stats.median(probes.toSeq), "unit" -> "ms",
        "samples" -> probes.size),
      "ann.probe_p90_ms" -> Map("value" -> Stats.pct(probes.toSeq, 0.9), "unit" -> "ms",
        "samples" -> probes.size, "samples_beyond" -> (probes.size * 0.1).floor),
      "ann.append_p50_ms" -> Map("value" -> (if (appends.isEmpty) 0.0
        else Stats.median(appends.toSeq)), "unit" -> "ms", "samples" -> appends.size),
      "ann.recall10" -> Map("value" -> recall, "unit" -> "fraction",
        "samples" -> recalls.size))
    val correct = recall >= recallFloor && shortRows == 0 && appends.nonEmpty
    if (!traced)
      Outcome(attempted, failed, correct, Map(
        "read_p50_ms" -> (Stats.median(probes.toSeq), "ms"),
        "write_p50_ms" -> (Stats.median(appends.toSeq), "ms"),
        "items_per_s" -> ((probes.size * batch + appended) /
          ((probes.sum + appends.sum + compacts.sum) / 1000), "1/s")), info)
    else {
      val led = (Ledger.summary("ann.probe", probeLedgers.toSeq) ++
        Ledger.summary("ann.append", appendLedgers.toSeq)).map { case (k, v) =>
          k -> (v, Ledger.unitOf(k)) }
      Outcome(attempted, failed, correct, led ++ Map(
        "ann.compact_s" -> (Stats.mean(compacts.toSeq) / 1000, "s"),
        "ann.live_deltas_mean" -> (Stats.mean(deltasAtProbe.toSeq), "count"),
        "trace_overhead_ms_per_op" -> (Stats.median(probes.toSeq) -
          Stats.median(plainProbes.toSeq), "ms")), info)
    }
  }
}

object AnnLive {
  val dim = 64
  val topics = 1000
  val corpusN = 10000
  val poolN = 256
  val queryIdBase = 1000000000L
  val batch = 64
  val k = 10
  val nprobe = 2
  val nlist = 4
  val m = 8
  val ksub = 16
  val appendEvery = 4
  val batchAppend = 100
  val compactEvery = 2
  /** One cycle from a compacted index: every `appendEvery`-th operation an
    * append, starting with one, so every probe runs against live deltas;
    * a compaction after every `compactEvery`-th append. */
  val cycle: Seq[Char] =
    Seq.fill(compactEvery)('a' +: Seq.fill(appendEvery - 1)('p')).flatten :+ 'c'
  val recallFloor = 0.5

  /** The live corpus in driver memory, for exact cosine top-k. */
  final class Exact {
    private val ids = mutable.ArrayBuffer[Long]()
    private val vecs = mutable.ArrayBuffer[Array[Float]]()
    private val raw = mutable.ArrayBuffer[Array[Float]]()
    private val at = mutable.HashMap[Long, Int]()
    def clear(): Unit = { ids.clear(); vecs.clear(); raw.clear(); at.clear() }
    def size: Int = ids.size
    def get(id: Long): Array[Float] = raw(at(id))
    def put(id: Long, v: Array[Float]): Unit = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      val u = v.map(_ / n)
      at.get(id) match {
        case Some(i) => vecs(i) = u; raw(i) = v
        case None => at(id) = ids.size; ids += id; vecs += u; raw += v
      }
    }
    def topK(q: Array[Float], k: Int): Seq[Long] = {
      val n = math.sqrt(q.map(x => x.toDouble * x).sum)
      val heap = mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), Double](-_._1))
      var i = 0
      while (i < ids.size) {
        val v = vecs(i); var s = 0.0; var j = 0
        while (j < v.length) { s += v(j) * q(j); j += 1 }
        s /= n
        if (heap.size < k) heap.enqueue((s, ids(i)))
        else if (s > heap.head._1) { heap.dequeue(); heap.enqueue((s, ids(i))) }
        i += 1
      }
      heap.toSeq.sortBy(-_._1).map(_._2)
    }
  }
}
