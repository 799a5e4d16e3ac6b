package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-run state shared by the runner and a workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dataDir: String,
    val workDir: String, val seed: Long) {
  val rng = new scala.util.Random(seed)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU seconds (all Java threads, see [[CpuMeter]]) per operation class. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** (class, seconds, traced) per successful timed operation. */
  val log = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  var attempted = 0
  var failed = 0
  private var offClockNs = 0L
  private var offClockCpuNs = 0L

  /** Runs one timed operation of class `cls` as a root span. A failure is
    * counted and logged, and yields None. */
  def op[A](cls: String)(body: => A): Option[A] = {
    attempted += 1
    tracer.request += 1
    val (t0, c0) = (System.nanoTime, CpuMeter.totalNs())
    try {
      val r = tracer.span(s"op.$cls")(body)
      val s = (System.nanoTime - t0) / 1e9
      samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += s
      cpuSamples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (CpuMeter.totalNs() - c0) / 1e9
      log += ((cls, s, tracer.enabled))
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $cls failed: $e")
        None
    }
  }

  /** Counts an already-timed operation as wrong (a check failed). */
  def wrong(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] wrong answer: $what")
  }

  /** Work that is not part of the measured time (checks, model upkeep). */
  def offClock[A](body: => A): A = {
    val (t0, c0) = (System.nanoTime, CpuMeter.totalNs())
    try body finally {
      offClockNs += System.nanoTime - t0
      offClockCpuNs += CpuMeter.totalNs() - c0
    }
  }
  def offClockSeconds: Double = offClockNs / 1e9
  def offClockCpuSeconds: Double = offClockCpuNs / 1e9

  def reset(): Unit = {
    samples.clear(); cpuSamples.clear(); log.clear()
    attempted = 0; failed = 0; offClockNs = 0L; offClockCpuNs = 0L
  }
}

/** CPU time of every Java thread of the JVM: the client thread, Spark's
  * task threads and the driver's own threads (broadcast builds, job
  * submission, file listing, listener bus). The JVM's GC and JIT compiler
  * threads are not Java threads and are left out, as is the meter's own
  * sampler. The sampler reads every thread each 50 ms and keeps a thread's
  * last reading after it ends, so an ended thread counts up to its last
  * sample. */
object CpuMeter {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val last = mutable.HashMap.empty[Long, Long]
  private val sampler = new Thread(() =>
    try while (true) { totalNs(); Thread.sleep(50) }
    catch { case _: InterruptedException => () }, "perfbench-cpu-meter")
  sampler.setDaemon(true)
  sampler.start()

  /** CPU nanoseconds of every Java thread seen so far, read now. */
  def totalNs(): Long = synchronized {
    val ids = mx.getAllThreadIds.filter(_ != sampler.getId)
    val cpu = mx.getThreadCpuTime(ids)
    ids.indices.foreach(i => if (cpu(i) >= 0) last(ids(i)) = cpu(i))
    last.valuesIterator.sum
  }
}

/** A closed-loop workload: one client issues its next operation when the
  * previous one has returned. */
trait Workload {
  /** Tables of the generated data the session registers. */
  def tables: Seq[String]
  /** Initial state load; part of set-up. */
  def init(ctx: Ctx): Unit
  /** A few operations of each kind before the measured loop, so it starts
    * with loaded classes and compiled code, as a long-lived server would. */
  def warmup(ctx: Ctx): Unit
  /** One round of the operation stream. */
  def step(ctx: Ctx): Unit
  /** Final correctness checks, after the measured loop. Returns false when
    * a check could not tell a corrupted result from a right one. */
  def finish(ctx: Ctx): Boolean
  /** Per-layer counts and ratios this workload measures (traced run). */
  def layerMetrics(ctx: Ctx): Map[String, Double]
  /** Per-workload latency and throughput breakdown (traced run). */
  def breakdown(ctx: Ctx): Map[String, Double]
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Result comparison shared by the workloads' checks, plus the corruption
  * used to show each check rejects a wrong answer. */
object Check {
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => sameValue(u, v) }
    }

  /** `rows` with the first numeric value bumped by one, or without its
    * first row when it holds no number. */
  def corrupt(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
    val i = rows.indexWhere(_.exists(isNumber))
    if (i < 0) rows.drop(1)
    else {
      val r = rows(i)
      val j = r.indexWhere(isNumber)
      rows.updated(i, r.updated(j, bump(r(j))))
    }
  }

  private def isNumber(v: Any) = v match {
    case _: Double | _: Long | _: Int | _: java.math.BigDecimal => true
    case _ => false
  }
  private def bump(v: Any): Any = v match {
    case d: Double => d + 1
    case l: Long => l + 1
    case i: Int => i + 1
    case d: java.math.BigDecimal => d.add(java.math.BigDecimal.ONE)
    case other => other
  }

  /** True when `sameRows` accepts a right, non-empty answer and rejects
    * it corrupted. */
  def bites(right: Seq[Seq[Any]]): Boolean =
    right.nonEmpty && sameRows(right, right) && !sameRows(right, corrupt(right))
}
