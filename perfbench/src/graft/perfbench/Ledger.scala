package graft.perfbench

import org.apache.spark.graftbench.BusMarker
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Brackets one client operation on the listener bus. */
final case class OpMark(op: Long, begin: Boolean) extends SparkListenerEvent

/** The engine's account of one operation. */
final case class OpLedger(kind: String, wallS: Double, jobs: Int, tasks: Long,
    injobS: Double, taskCpuS: Double, shuffleBytes: Long, recordsRead: Long,
    bytesRead: Long, compiles: Long) {
  def driverOnlyS: Double = math.max(0.0, wallS - injobS)
}

/** Per-operation engine ledger: one SparkListener plus the codegen compile
  * count. Jobs are charged to the operation that was open when they
  * started, tasks to the operation that owns their stage. A bracket is
  * closed once its end marker has come through the bus and every job
  * started inside it has ended. Compile time is never read: the
  * CodegenMetrics histogram keeps a bounded reservoir, so only its count
  * is exact. */
final class Ledger(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  private final class Acc {
    var jobs = 0; var pending = 0; var tasks = 0L; var cpuNs = 0L
    var shuffle = 0L; var recs = 0L; var bytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
    val stages = mutable.ArrayBuffer[Int]()
    var ended = false
  }

  // listener-thread state
  private var open: Option[Long] = None
  private val accs = mutable.HashMap[Long, Acc]()
  private val jobOp = mutable.HashMap[Int, (Long, Long)]()
  private val stageOp = mutable.HashMap[Int, Long]()
  // handed to the client thread
  private val closed = mutable.HashMap[Long, Acc]()
  private var nextOp = 0L

  sc.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case OpMark(id, true) =>
      open = Some(id); accs(id) = new Acc
    case OpMark(id, false) =>
      open = None; accs(id).ended = true; maybeClose(id)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = open.foreach { id =>
    val a = accs(id)
    a.jobs += 1; a.pending += 1
    jobOp(e.jobId) = (id, e.time)
    e.stageIds.foreach { s => stageOp(s) = id; a.stages += s }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { case (id, t0) =>
      val a = accs(id)
      a.pending -= 1
      a.intervals += ((t0, e.time))
      maybeClose(id)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).flatMap(accs.get).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.recs += m.inputMetrics.recordsRead
        a.bytes += m.inputMetrics.bytesRead
      }
    }

  private def maybeClose(id: Long): Unit = {
    val a = accs(id)
    if (a.ended && a.pending == 0) {
      accs.remove(id)
      a.stages.foreach(stageOp.remove)
      closed.synchronized { closed(id) = a; closed.notifyAll() }
    }
  }

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` as one bracketed operation of `kind`. A failing body
    * still closes its bracket before the failure propagates. */
  def measure[A](kind: String)(body: => A): (A, OpLedger) = {
    val id = { nextOp += 1; nextOp }
    BusMarker.post(sc, OpMark(id, begin = true))
    val c0 = compileCount
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val out = try body finally BusMarker.post(sc, OpMark(id, begin = false))
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val compiles = compileCount - c0
    val a = awaitClosed(id)
    val injob = union(a.intervals.map { case (s, e) =>
      (math.max(s, w0), math.min(e, w1)) }.toSeq) / 1000.0
    (out, OpLedger(kind, wall, a.jobs, a.tasks, math.min(injob, wall),
      a.cpuNs / 1e9, a.shuffle, a.recs, a.bytes, compiles))
  }

  private def awaitClosed(id: Long): Acc = {
    val deadline = System.currentTimeMillis() + 120000L
    closed.synchronized {
      while (!closed.contains(id)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(s"ledger bracket $id never closed")
        closed.wait(left)
      }
      closed.remove(id).get
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object Ledger {
  /** Per-operation means of a group of ledgers, under `prefix`. */
  def summary(prefix: String, ls: Seq[OpLedger]): Map[String, Double] = {
    val n = math.max(1, ls.size).toDouble
    def mean(f: OpLedger => Double) = ls.map(f).sum / n
    Map(
      s"$prefix.jobs_per_op" -> mean(_.jobs),
      s"$prefix.tasks_per_op" -> mean(_.tasks.toDouble),
      s"$prefix.injob_s_per_op" -> mean(_.injobS),
      s"$prefix.driver_only_s_per_op" -> mean(_.driverOnlyS),
      s"$prefix.task_cpu_s_per_op" -> mean(_.taskCpuS),
      s"$prefix.shuffle_mb_per_op" -> mean(_.shuffleBytes / 1e6),
      s"$prefix.compiles_per_op" -> mean(_.compiles.toDouble))
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_s_per_op")) "s"
    else if (metric.endsWith("_mb_per_op")) "MB"
    else "count"
}

/** In-memory spans around every public call the harness makes, written
  * out once at the end. Off unless the run is traced. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Long,
      startNs: Long, endNs: Long)
  var on = false
  private val base = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var op = 0L

  /** Start a new client operation: spans opened until the next call
    * share its id. */
  def newOp(): Long = { op += 1; op }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime() - base
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, parent, op, t0, System.nanoTime() - base)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Summed duration (s) of the spans called `name`. */
  def totalS(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally w.close()
  }
}
