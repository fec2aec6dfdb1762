package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What a workload hands back: operation counts, the correctness verdict,
  * metrics by name as (value, unit), and the details echoed to stdout
  * (traffic shares, sample counts, response digest). */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    metrics: Map[String, (Double, String)], info: Map[String, Any])

/** One workload: `setup` generates the inputs and builds everything the
  * measured loop needs under `dir` (it is called several times, each into a
  * fresh directory, and the last build is the one measured); `warmUp` then
  * runs each operation kind once so the loop is timed warm; `run` drives
  * the closed loop. */
trait Workload {
  def setup(dir: String): Unit
  def warmUp(): Unit
  def run(seconds: Double, traced: Boolean): Outcome
}

/** Peak tenured-pool occupancy after GC. Each sample follows two full
  * collections, so it reads the live set rather than wherever the young
  * collections left the old generation: the pause between them lets
  * Spark's ContextCleaner drop the blocks of frames the first one found
  * unreachable. */
object Heap {
  private val pool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L
  def sample(): Unit = pool.foreach { p =>
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, p.getUsage.getUsed)
  }
  def peakMb: Double = peak / 1e6
}

object Stats {
  /** Linear-interpolated percentile (q in [0,1]). */
  def pct(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.toVector.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  private val t0 = System.nanoTime()
  /** Progress line on stderr (the run log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val work = opts("--work")
    val traceOut = opts("--trace-out")
    // setup_s is an end-to-end metric, so a traced run sets up once
    val reps = if (traced) 1 else 2

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(f"session start: $sessionS%.2f s")
    try {
      val w: Workload = workload match {
        case "ingest_crawl" => new IngestCrawl(spark, seed)
        case "ann_live" => new AnnLive(spark, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      Trace.on = traced
      val setups = (1 to reps).map { i =>
        val s0 = System.nanoTime()
        w.setup(s"$work/setup-$i")
        val dt = (System.nanoTime() - s0) / 1e9
        log(f"setup $i: $dt%.2f s")
        dt
      }
      val w0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      log(f"warm-up: $warmS%.2f s")
      Heap.sample()
      val o = w.run(seconds, traced)
      val heap = Heap.peakMb
      val metrics =
        if (traced) o.metrics
        else o.metrics ++ Map(
          "setup_s" -> (sessionS + Stats.median(setups) + warmS, "s"),
          "heap_peak_mb" -> (heap, "MB"))
      if (traced) Trace.write(traceOut)
      val info = o.info ++ Map(
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "session_start_s" -> sessionS, "setup_reps_s" -> setups,
        "warm_up_s" -> warmS,
        "heap_peak_mb" -> heap) ++
        (if (traced) Map("trace_file" -> traceOut, "spans" -> Trace.all.size)
         else Map.empty)
      println("perfbench-info " + Json.render(info))
      println(Json.render(Map(
        "correct" -> (o.correct && o.failed == 0),
        "attempted" -> o.attempted,
        "failed" -> o.failed,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) })))
      log("result printed")
    } finally {
      spark.stop()
      log("session stopped")
    }
  }
}
