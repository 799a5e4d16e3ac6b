package graft.perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --trace 0|1 --data DIR --work DIR --out FILE
  *
  * Set-up (session build, table registration, initial state load) runs
  * three times; the first two sessions are stopped again and `setup_s` is
  * the median CPU time of the three. The last session then warms up, runs
  * a fixed number of rounds of the workload's closed loop (one; two with
  * --trace 1, the second traced, which gives both the per-layer numbers
  * and the tracing overhead: traced vs untraced operations of the same
  * kind in the same run), takes the live heap and runs the final checks,
  * and the result is written to FILE as JSON. The amount of work is the
  * same on every commit; it does not depend on how fast a round runs. */
object Main {

  /** Every per-layer metric name, in report order. */
  val spanNames: Seq[String] = Seq(
    "sql.select.analyze", "sql.select.plan", "sql.select.exec", "sql.dml",
    "ivm.join_apply", "ivm.agg_apply", "ivm.current",
    "queries.bm25_write", "queries.ngram_write", "queries.ivf_write",
    "queries.bm25_probe", "queries.ivf_probe", "queries.minhash")
  val counts: Seq[String] = Seq(
    "sources.chain_deltas", "sources.compactions", "sources.write_amp", "sources.space_bytes",
    "ivm.refresh_vs_recompute",
    "engine.build_s", "engine.register_s", "engine.cache_mem_bytes", "engine.cache_blocks_evicted",
    "functions.word_ngram_tfs.ns_per_row", "functions.argmax_dot.ns_per_row",
    "functions.jaccard_sorted.ns_per_row")
  val breakdowns: Seq[String] = Seq(
    "ops_per_s", "write_p50_s", "write_p90_s", "refresh_p50_s", "read_p50_s", "read_p90_s",
    "space_amp", "index_docs_per_s", "probe_p50_s", "probe_p90_s", "dedup_docs_per_s")
  val perLayer: Seq[String] =
    spanNames.flatMap(s => Tracer.fields.map(f => s"$s.$f")) ++ counts ++
      Seq("trace.overhead_frac") ++ breakdowns

  val setups = 3

  def workload(name: String): Workload = name match {
    case "ivm_churn" => new IvmChurn
    case "curate_serve" => new CurateServe
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** Heap in use right after a full collection: what the session, the
    * engine's caches and the workload's state keep alive. The first
    * collection lets Spark's ContextCleaner release the blocks and shuffle
    * state of unreachable RDDs and broadcasts; the second, a second later,
    * counts what is left. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: a thread Spark leaves behind must not keep the JVM
    // alive, after a failure least of all
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val work = opt("work")
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"

    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    val builds, registers, setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to setups) {
      if (spark != null) {
        spark.stop()
        rmTree(java.nio.file.Paths.get(ctx.workDir))
      }
      val c0 = CpuMeter.totalNs()
      val (s, b) = timed(Engine.build(master = master, shufflePartitions = nproc))
      spark = s
      wl = workload(name)
      val (_, r) = timed(wl.tables.foreach(t =>
        Engine.table(spark, dataDir, t).createOrReplaceTempView(t)))
      ctx = new Ctx(spark, new Tracer(spark.sparkContext), dataDir, s"$work/setup$i", seed)
      wl.init(ctx)
      setupTimes += (CpuMeter.totalNs() - c0) / 1e9
      builds += b
      registers += r
    }

    val (_, warmupS) = timed(wl.warmup(ctx))
    // the measured closed loop: a fixed number of rounds
    ctx.reset()
    var cacheMem = 0L
    val rounds = if (trace) 2 else 1
    ctx.tracer.drain()
    val start = System.nanoTime
    val cpuStart = CpuMeter.totalNs()
    for (round <- 0 until rounds) {
      ctx.tracer.enabled = round == 1
      wl.step(ctx)
      if (trace) cacheMem = math.max(cacheMem,
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
    }
    val measured = (System.nanoTime - start) / 1e9 - ctx.offClockSeconds
    ctx.tracer.drain()
    val cpu = (CpuMeter.totalNs() - cpuStart) / 1e9 - ctx.offClockCpuSeconds
    ctx.tracer.enabled = false
    val loopS = (System.nanoTime - start) / 1e9
    val liveHeap = liveHeapMb()
    val (checksBite, finishS) = timed(wl.finish(ctx))

    val all = ctx.log.map(_._2).toSeq
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> Stats.median(setupTimes.toSeq),
        "cpu_s_per_op" -> cpu / all.size,
        "live_heap_mb" -> liveHeap)
      else {
        val roll = ctx.tracer.rollup()
        val spans = for (s <- spanNames; f <- Tracer.fields)
          yield s"$s.$f" -> roll.get(s).map(_(f)).getOrElse(0.0)
        val layer = wl.layerMetrics(ctx) ++ Map(
          "engine.build_s" -> Stats.median(builds.toSeq),
          "engine.register_s" -> Stats.median(registers.toSeq),
          "engine.cache_mem_bytes" -> cacheMem.toDouble,
          "engine.cache_blocks_evicted" -> ctx.tracer.listener.blocksEvicted.toDouble)
        // per operation class: median traced latency over median untraced
        val ratios = ctx.log.groupBy(_._1).values.flatMap { xs =>
          val (on, off) = xs.partition(_._3)
          if (on.isEmpty || off.isEmpty) None
          else Some(Stats.median(on.map(_._2).toSeq) / Stats.median(off.map(_._2).toSeq))
        }.toSeq
        val bd = wl.breakdown(ctx) + ("ops_per_s" -> all.size / measured)
        spans ++ counts.map(c => c -> layer.getOrElse(c, 0.0)) ++
          Seq("trace.overhead_frac" -> (if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1)) ++
          breakdowns.map(b => b -> bd.getOrElse(b, 0.0))
      }
    if (trace) ctx.tracer.write(s"$work/spans.jsonl")

    val stamp = Seq(
      "nproc" -> nproc, "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_master" -> master, "shuffle_partitions" -> nproc, "seed" -> seed,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    val out = Json.obj(Seq(
      "workload" -> name, "seconds_measured" -> measured, "rounds" -> rounds,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "checks_bite" -> checksBite,
      "setup_cpu_s" -> setupTimes.toSeq, "warmup_s" -> warmupS, "loop_s" -> loopS,
      "finish_s" -> finishS, "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq },
      "cpu_samples" -> ctx.cpuSamples.map { case (k, v) => k -> v.toSeq },
      "stamp" -> stamp.toMap, "metrics" -> metrics.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out)
    spark.stop()
  }
}
