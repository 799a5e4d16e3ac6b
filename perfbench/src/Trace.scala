package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a root span; every span
  * of one benchmark operation shares `request`. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long,
    request: Long)

/** Spark-side cost of one span, summed over the tasks of the jobs its
  * job group ran. */
final class SpanCost {
  var jobs = 0L
  var taskCpuS = 0.0
  var gcS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** The benchmark's own listener. A job is attributed to the span whose id
  * was the thread's job group when the job started; a task to the span of
  * its stage. Cached-block evictions are counted here too: a block dropped
  * while its RDD is still registered as persisted was evicted, while a
  * block dropped by `unpersist` belongs to an RDD that is already gone. */
final class SpanListener(sc: SparkContext) extends SparkListener {
  val costs = new ConcurrentHashMap[Long, SpanCost]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  @volatile var blocksEvicted = 0L

  private def cost(span: Long) = costs.computeIfAbsent(span, _ => new SpanCost)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.jobGroupKey)))
      .filter(_.startsWith(Tracer.groupPrefix))
      .foreach { g =>
        val span = g.stripPrefix(Tracer.groupPrefix).toLong
        cost(span).synchronized { cost(span).jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != 0L && m != null) {
      val c = cost(span)
      c.synchronized {
        c.taskCpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, _) if !e.blockUpdatedInfo.storageLevel.useMemory &&
          sc.getPersistentRDDs.contains(rdd) =>
        blocksEvicted += 1
      case _ => ()
    }
}

object Tracer {
  val groupPrefix = "perfbench-span-"
  val jobGroupKey = "spark.jobGroup.id"

  /** The span-cost fields, in report order. */
  val fields: Seq[String] = Seq("wall_s", "jobs", "task_cpu_s", "gc_s", "shuffle_bytes",
    "spill_bytes", "input_bytes", "output_bytes")
}

/** Records spans around the benchmark's own calls into the engine. Spans
  * live in memory until [[write]] at the end of the run. While disabled,
  * [[span]] only runs its body, so an untraced run pays nothing. */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener(sc)
  sc.addSparkListener(listener)

  var enabled = false
  var request = 0L
  private var nextId = 1L
  private var stack: List[Long] = Nil
  val spans = ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(Tracer.jobGroupKey)
      sc.setJobGroup(Tracer.groupPrefix + id, name)
      stack = id :: stack
      val start = System.nanoTime
      try body
      finally {
        spans += Span(id, name, start, System.nanoTime, parent, request)
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Per span name: the mean per call of self time (duration minus the
    * part covered by child spans) and of each Spark cost field. */
  def rollup(): Map[String, Map[String, Double]] = {
    drain()
    val childTime = spans.groupMapReduce(_.parent)(s => (s.end - s.start).toDouble)(_ + _)
    spans.groupBy(_.name).map { case (name, ss) =>
      val n = ss.size.toDouble
      val costs = ss.flatMap(s => Option(listener.costs.get(s.id)))
      def total(f: SpanCost => Double) = costs.map(f).sum / n
      name -> Map(
        "wall_s" -> ss.map(s => (s.end - s.start) - childTime.getOrElse(s.id, 0.0)).sum / n / 1e9,
        "jobs" -> total(_.jobs.toDouble),
        "task_cpu_s" -> total(_.taskCpuS),
        "gc_s" -> total(_.gcS),
        "shuffle_bytes" -> total(_.shuffleBytes.toDouble),
        "spill_bytes" -> total(_.spillBytes.toDouble),
        "input_bytes" -> total(_.inputBytes.toDouble),
        "output_bytes" -> total(_.outputBytes.toDouble))
    }
  }

  /** One JSON object per span, one per line. */
  def write(path: String): Unit = {
    val lines = spans.map(s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "request" -> s.request)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
