package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: each request kind weighs the same in relative
    * terms, whatever its absolute time. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean of no or non-positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail of a sample: the highest percentile with at least ten
    * samples beyond it, i.e. the 11th-largest value, at percentile
    * floor(100 * (n - 10) / n). Below 20 samples that percentile falls
    * under the median, so the median is reported (as p50). */
  final case class Tail(value: Double, pct: Int, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val m = median(xs)
    if (n < 20) Tail(m, 50, n)
    else Tail(math.max(m, xs.sorted.apply(n - 11)), (100L * (n - 10) / n).toInt, n)
  }
}

/** Listener counters, read at span boundaries. */
final case class Counters(jobs: Long, tasks: Long, runMs: Long, gcMs: Long,
                          shuffleBytes: Long, scanBytes: Long,
                          spillBytes: Long, writeBytes: Long, planMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes,
    scanBytes - o.scanBytes, spillBytes - o.spillBytes, writeBytes - o.writeBytes,
    planMs - o.planMs)
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own SparkListener: job/task counts, task busy and GC
  * time, shuffle/scan/spill/output bytes, and RDD storage memory in use
  * (current and peak since the last [[resetPeak]]). As a query execution
  * listener it also adds up the planner's time (optimization and physical
  * planning phases) of every query that runs, once per QueryExecution. */
final class BenchListener extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, runMs, gcMs, shuffle, scan, spill, written, planMs = new AtomicLong
  private val planned = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]))
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]
  private val cacheNow, cachePeak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      scan.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val prev: Long = Option(blocks.get(key)).map(_.longValue).getOrElse(0L)
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      if (now > 0) blocks.put(key, now) else blocks.remove(key)
      val cur = cacheNow.addAndGet(now - prev)
      cachePeak.accumulateAndGet(cur, (a: Long, b: Long) => math.max(a, b))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planTime(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planTime(qe)

  private def planTime(qe: QueryExecution): Unit =
    if (planned.add(qe)) {
      val ph = qe.tracker.phases
      planMs.addAndGet(Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(ph.get).map(_.durationMs).sum)
    }

  def counters(sc: SparkContext): Counters = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    Counters(jobs.get, tasks.get, runMs.get, gcMs.get, shuffle.get, scan.get,
      spill.get, written.get, planMs.get)
  }

  def resetPeak(): Unit = cachePeak.set(cacheNow.get)

  def peakCacheBytes(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    cachePeak.get
  }
}

/** One traced interval around a call into a layer. Spans of one
  * operation share `op`; `parent` is -1 for an operation's root. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, delta: Counters) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time of every span: its duration minus the part of its
    * interval covered by the union of its children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

object Tracer {
  val Off = new Tracer(false, () => null, None)
}

/** Records spans from the benchmark's own files around each layer call.
  * Disabled, [[span]] just runs its body: no clock reads, no listener
  * reads. Spans stay in memory until [[writeJson]] at the end of the run. */
final class Tracer(val enabled: Boolean, sc: () => SparkContext,
                   listener: Option[BenchListener]) {
  val spans = new ArrayBuffer[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1
  /** Time spent recording spans (reading counters), outside any body. */
  var bookkeepingNs = 0L

  def beginOp(i: Int): Unit = { op = i; listener.foreach(_.resetPeak()) }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val b0 = System.nanoTime()
      val c0 = listener.map(_.counters(sc())).getOrElse(Counters.Zero)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = listener.map(_.counters(sc())).getOrElse(Counters.Zero)
        stack = stack.tail
        spans += Span(id, op, name, parent, t0, t1, c1 - c0)
        bookkeepingNs += (t0 - b0) + (System.nanoTime() - t1)
      }
    }

  def opSpans(i: Int): Seq[Span] = spans.filter(_.op == i).toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = Span.selfTimes(spans.toSeq)
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val d = s.delta
      sb.append(s"""  {"id": ${s.id}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ns": ${self(s.id)}, "jobs": ${d.jobs}, "tasks": ${d.tasks}, """ +
        s""""task_ms": ${d.runMs}, "gc_ms": ${d.gcMs}, "shuffle_bytes": ${d.shuffleBytes}, """ +
        s""""scan_bytes": ${d.scanBytes}, "spill_bytes": ${d.spillBytes}, """ +
        s""""write_bytes": ${d.writeBytes}, "plan_ms": ${d.planMs}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
