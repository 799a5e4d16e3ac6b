package graft.perfbench

import graft.ivm.{IncrementalAggView, IncrementalJoinView}
import graft.sources.MultisetStore
import graft.sql.GraftSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `ivm_churn`: one client runs a seeded mix of small writes and reads on
  * the multiset tables `orders_ms` and `lineitem_ms`, loaded from the
  * generated orders and lineitem tables at set-up.
  *
  * Writes are `INSERT … VALUES`, `INSERT … SELECT` and `DELETE … WHERE`
  * batches of a few hundred rows through `GraftSession.sql`. Every write to
  * `orders_ms` is followed by the same freq-annotated delta pushed through
  * `IncrementalJoinView(orders ⋈ customer)` → `IncrementalAggView` by
  * market segment (a "refresh"). Reads are a Q1-shaped aggregate through a
  * `CREATE VIEW` over `lineitem_ms` (recomputed on read), point lookups by
  * order key, and `aggView.current()`.
  *
  * The statements are small, so per-statement dialect sync, the store's
  * delta chain, commit and compaction dominate; kernels and big scans are
  * bypassed. The client keeps the expected multisets itself and checks
  * every read against them; the final checkpoint compares the stores'
  * live multisets and a recompute of the aggregate. */
final class IvmChurn extends Workload {
  val tables: Seq[String] = Seq("customer", "orders", "lineitem")

  private type Tuple = Vector[Any]
  private var gs: GraftSession = _
  private var join: IncrementalJoinView = _
  private var agg: IncrementalAggView = _
  private var msDir: String = _
  private var ivmDir: String = _
  private def ordersPath = s"$msDir/default.orders_ms"
  private def linesPath = s"$msDir/default.lineitem_ms"

  // the client's expected state: tuple → freq
  private val orders = mutable.HashMap.empty[Tuple, Long]
  private val lines = mutable.HashMap.empty[Tuple, Long]
  private var baseLines: Map[Long, Seq[Tuple]] = Map.empty
  private var segment: Map[Long, String] = Map.empty
  private var nextOrder = 0L
  private var cycles = -1
  private var maxBaseOrder = 0L

  // sources counters
  private var startVersions = Map.empty[String, Int]
  private val chainAtRead = mutable.ArrayBuffer.empty[Double]
  private var userBytes = 0L
  private var biteSamples = Map.empty[String, Seq[Seq[Any]]]

  private val lineCols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, " +
    "l_tax, l_returnflag, l_linestatus"
  private val disc = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - " +
    "CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))"
  private val q1Cutoff = "1998-09-02"

  private def plain(v: Any): Any = v match {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other
  }
  private def tuple(r: Row): Tuple = r.toSeq.map(plain).toVector

  def init(ctx: Ctx): Unit = {
    val spark = ctx.spark
    msDir = s"${ctx.workDir}/multisets"
    ivmDir = s"${ctx.workDir}/ivm"
    gs = new GraftSession(spark, s"${ctx.workDir}/views", msDir)
    gs.sql("CREATE MULTISET TABLE orders_ms (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_totalprice DOUBLE, o_orderdate DATE)")
    gs.sql("CREATE MULTISET TABLE lineitem_ms (l_orderkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE)")
    gs.sql("INSERT INTO orders_ms SELECT o_orderkey, o_custkey, o_totalprice, " +
      "CAST(o_orderdate AS DATE) FROM orders")
    gs.sql(s"INSERT INTO lineitem_ms SELECT $lineCols, CAST(l_shipdate AS DATE) FROM lineitem")
    gs.sql(
      s"""CREATE VIEW li_q1 AS SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($disc) AS DOUBLE) AS sum_disc_price,
         |  count(*) AS count_order
         |FROM lineitem_ms WHERE l_shipdate <= DATE '$q1Cutoff'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Builds the join → aggregate views over the loaded state, loads the
    * client's model of it, and runs one orders insert with its refresh. */
  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    join = new IncrementalJoinView(spark, Seq("custkey"), s"$ivmDir/join")
    join.initialize(
      MultisetStore.read(spark, ordersPath)
        .select(col("o_custkey").as("custkey"), col("o_totalprice")),
      spark.table("customer").select(col("c_custkey").as("custkey"), col("c_mktsegment")))
    agg = new IncrementalAggView(spark, Seq("c_mktsegment"), Seq("o_totalprice"), s"$ivmDir/agg")
    agg.initialize(join.current().select(col("c_mktsegment"), col("o_totalprice"),
      col(join.freqCol)))
    loadModel(ctx)
    ordersInsert(ctx)
  }

  /** The client's model of the loaded state, built once before the loop. */
  private def loadModel(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.sql("SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) FROM orders")
      .collect().foreach(r => orders(tuple(r)) = orders.getOrElse(tuple(r), 0L) + 1)
    val base = spark.sql(s"SELECT $lineCols, CAST(l_shipdate AS DATE) FROM lineitem")
      .collect().map(tuple)
    base.foreach(t => lines(t) = lines.getOrElse(t, 0L) + 1)
    baseLines = base.toSeq.groupBy(_(0).asInstanceOf[Long])
    segment = spark.table("customer").collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("c_mktsegment")).toMap
    maxBaseOrder = orders.keys.map(_(0).asInstanceOf[Long]).max
    nextOrder = maxBaseOrder + 1
  }

  private def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString
  private def sqlValue(v: Any): String = v match {
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case s: String if s.length == 10 && s(4) == '-' => s"DATE '$s'"
    case s: String => s"'$s'"
    case other => other.toString
  }
  private def values(t: Tuple): String = t.map(sqlValue).mkString("(", ", ", ")")

  private def add(model: mutable.HashMap[Tuple, Long], t: Tuple, f: Long): Unit = {
    val n = model.getOrElse(t, 0L) + f
    if (n == 0) model.remove(t) else model(t) = n
  }

  /** Pushes an orders delta through join → aggregate as one operation. */
  private def refresh(ctx: Ctx, delta: Seq[(Tuple, Long)]): Unit = {
    val spark = ctx.spark
    val df = spark.createDataFrame(
      java.util.Arrays.asList(delta.map { case (t, f) => Row(t(1), t(2), f) }: _*),
      new StructType().add("custkey", LongType).add("o_totalprice", DoubleType)
        .add(join.freqCol, LongType))
    ctx.op("refresh") {
      val dv = ctx.tracer.span("ivm.join_apply")(join.applyDelta(Some(df), None))
      ctx.tracer.span("ivm.agg_apply")(agg.applyDelta(
        dv.select(col("c_mktsegment"), col("o_totalprice"), col(join.freqCol))))
    }
  }

  private def dml(ctx: Ctx, text: String): Boolean =
    ctx.op("write")(ctx.tracer.span("sql.dml")(gs.sql(text))).isDefined

  private def pendingDeltas(path: String): Int =
    MultisetStore.versions(path).reverse
      .takeWhile(v => java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/v$v/_DELTA")))
      .size

  private def select(ctx: Ctx, text: String, tablePath: String): Option[Seq[Seq[Any]]] = {
    ctx.offClock(chainAtRead += pendingDeltas(tablePath).toDouble)
    ctx.op("read") {
      val df = ctx.tracer.span("sql.select.analyze")(gs.sql(text))
      ctx.tracer.span("sql.select.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("sql.select.exec")(df.collect()).toSeq.map(r => r.toSeq.map(plain))
    }
  }

  private def expect(ctx: Ctx, what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit = {
    def sorted(rs: Seq[Seq[Any]]) = rs.sortBy(_.mkString("\u0001"))
    if (!Check.sameRows(sorted(got), sorted(want)))
      ctx.wrong(s"ivm_churn: $what\n  got  ${sorted(got).take(3)}\n  want ${sorted(want).take(3)}")
    else if (got.nonEmpty && !biteSamples.contains(what)) biteSamples += what -> sorted(want)
  }

  private def expanded(model: mutable.HashMap[Tuple, Long], p: Tuple => Boolean) =
    model.toSeq.filter { case (t, f) => f > 0 && p(t) }.flatMap { case (t, f) => Seq.fill(f.toInt)(t) }

  private def q1Model: Seq[Seq[Any]] =
    lines.toSeq.filter { case (t, f) => f > 0 && t(8).asInstanceOf[String] <= q1Cutoff }
      .groupBy { case (t, _) => (t(6), t(7)) }.toSeq.map { case ((rf, ls), ts) =>
        def dec(v: Any) = java.math.BigDecimal.valueOf(v.asInstanceOf[Double])
        def sum(f: Tuple => java.math.BigDecimal) =
          ts.map { case (t, n) => f(t).multiply(java.math.BigDecimal.valueOf(n)) }
            .foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue
        Seq(rf, ls, sum(t => dec(t(2))), sum(t => dec(t(3))),
          sum(t => dec(t(3)).multiply(java.math.BigDecimal.ONE.subtract(dec(t(4))))),
          ts.map(_._2).sum)
      }

  private def aggModel: Seq[Seq[Any]] =
    orders.toSeq.flatMap { case (t, f) =>
      segment.get(t(1).asInstanceOf[Long]).map(s => (s, t(2).asInstanceOf[Double], f))
    }.groupBy(_._1).toSeq.map { case (s, xs) =>
      Seq(s, xs.map(_._3).sum, xs.map { case (_, p, f) =>
        java.math.BigDecimal.valueOf(p).multiply(java.math.BigDecimal.valueOf(f))
      }.foldLeft(java.math.BigDecimal.ZERO)(_ add _))
    }.filter(_(1) != 0L)

  private def ordersInsert(ctx: Ctx): Unit = {
    val rng = ctx.rng
    val batch = ctx.offClock((0 until 100 + rng.nextInt(201)).map { _ =>
      nextOrder += 1
      Vector[Any](nextOrder, rng.nextInt(segment.size).toLong,
        money(100000L + rng.nextInt(49900000)).toDouble,
        java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2400)).toString)
    })
    if (dml(ctx, s"INSERT INTO orders_ms VALUES ${batch.map(values).mkString(", ")}")) {
      ctx.offClock {
        batch.foreach(add(orders, _, 1L))
        userBytes += batch.map(values(_).length - 2).sum
      }
      refresh(ctx, batch.map(t => (t, 1L)))
    }
  }

  /** One round: three cycles of one write and one read each, then
    * `COMPACT TABLE lineitem_ms`. Each cycle has its own write kind
    * (orders `INSERT … VALUES`, lineitem `INSERT … SELECT`, orders
    * `DELETE`) and read kind (Q1 view, lineitem lookup,
    * `aggView.current()`), so every seed runs the same mix; keys and
    * values are seeded. The explicit compaction (the statement incresql's
    * own TPC-H harness issues after loading) puts one compaction at the
    * same point of every round; with it the store never reaches
    * `autoCompactDeltas` within a run. */
  def step(ctx: Ctx): Unit = {
    (0 until 3).foreach(_ => cycle(ctx))
    dml(ctx, "COMPACT TABLE lineitem_ms")
  }

  private def cycle(ctx: Ctx): Unit = {
    if (startVersions.isEmpty) {
      startVersions = Seq(ordersPath, linesPath).map(p => p -> MultisetStore.versions(p).max).toMap
      chainAtRead.clear()
      userBytes = 0L
    }
    val rng = ctx.rng
    cycles += 1
    cycles % 3 match {
      case 0 => ordersInsert(ctx)
      case 1 =>
        val lo = rng.nextInt(maxBaseOrder.toInt).toLong
        val hi = lo + 25 + rng.nextInt(50)
        if (dml(ctx, s"INSERT INTO lineitem_ms SELECT $lineCols, CAST(l_shipdate AS DATE) " +
            s"FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi"))
          ctx.offClock((lo to hi).flatMap(baseLines.getOrElse(_, Nil)).foreach { t =>
            add(lines, t, 1L)
            userBytes += values(t).length - 2
          })
      case _ =>
        val lo = rng.nextInt(nextOrder.toInt).toLong
        val hi = lo + 100 + rng.nextInt(201)
        if (dml(ctx, s"DELETE FROM orders_ms WHERE o_orderkey BETWEEN $lo AND $hi")) {
          val gone = ctx.offClock {
            val g = orders.toSeq.filter { case (t, _) =>
              val k = t(0).asInstanceOf[Long]; k >= lo && k <= hi
            }
            g.foreach { case (t, f) => add(orders, t, -f) }
            g.map { case (t, f) => (t, -f) }
          }
          if (gone.nonEmpty) refresh(ctx, gone)
        }
    }
    // every read is checked against the client's model
    cycles % 3 match {
      case 0 =>
        select(ctx, "SELECT * FROM li_q1", linesPath).foreach(got =>
          ctx.offClock(expect(ctx, "Q1 view over lineitem_ms", got, q1Model)))
      case 1 =>
        val k = rng.nextInt(maxBaseOrder.toInt + 1).toLong
        select(ctx, s"SELECT * FROM lineitem_ms WHERE l_orderkey = $k", linesPath).foreach(got =>
          ctx.offClock(expect(ctx, s"lineitem_ms lookup $k", got,
            expanded(lines, _(0) == k))))
      case _ =>
        ctx.op("read")(ctx.tracer.span("ivm.current")(agg.current().collect()))
          .foreach(rows => ctx.offClock(expect(ctx, "aggView.current()",
            rows.toSeq.map(r => Seq(r.getString(0), r.getLong(1), r.getDecimal(2))), aggModel)))
    }
  }

  /** The aggregate recomputed from scratch over the store's current rows. */
  private def recompute(ctx: Ctx): Seq[Seq[Any]] =
    MultisetStore.read(ctx.spark, ordersPath)
      .join(ctx.spark.table("customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count("*").as("cnt"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("s"))
      .collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1), r.getDecimal(2)))

  private def live(ctx: Ctx, path: String): Seq[Seq[Any]] =
    MultisetStore.snapshot(ctx.spark, path).filter(col(MultisetStore.freqCol) > 0)
      .collect().toSeq.map(r => r.toSeq.map(plain))

  private def modelRows(model: mutable.HashMap[Tuple, Long]): Seq[Seq[Any]] =
    model.toSeq.collect { case (t, f) if f > 0 => t :+ f }

  def finish(ctx: Ctx): Boolean = {
    val current = agg.current().collect().toSeq
      .map(r => Seq(r.getString(0), r.getLong(1), r.getDecimal(2)))
    expect(ctx, "checkpoint: aggView.current() vs recompute over MultisetStore.read",
      current, recompute(ctx))
    expect(ctx, "checkpoint: orders_ms live multiset", live(ctx, ordersPath), modelRows(orders))
    expect(ctx, "checkpoint: lineitem_ms live multiset", live(ctx, linesPath), modelRows(lines))
    biteSamples.values.forall(Check.bites) && biteSamples.size >= 3
  }

  private def bytesUnder(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  private def bytesUnder(p: String): Long = bytesUnder(java.nio.file.Paths.get(p))

  private def newVersions(path: String): Seq[Int] =
    MultisetStore.versions(path).filter(_ > startVersions(path))

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val paths = Seq(ordersPath, linesPath)
    val written = paths.flatMap(p => newVersions(p).map(v => bytesUnder(s"$p/v$v"))).sum
    val compactions = paths.map(p => newVersions(p).count(v =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p/v$v/_DELTA")))).sum
    val recomputeS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime; recompute(ctx); (System.nanoTime - t0) / 1e9
    })
    Map(
      "sources.chain_deltas" -> (if (chainAtRead.isEmpty) 0.0 else chainAtRead.sum / chainAtRead.size),
      "sources.compactions" -> compactions.toDouble,
      "sources.write_amp" -> (if (userBytes == 0) 0.0 else written.toDouble / userBytes),
      "sources.space_bytes" -> bytesUnder(msDir).toDouble,
      "ivm.refresh_vs_recompute" ->
        recomputeS / Stats.median(ctx.samples.getOrElse("refresh", Nil).toSeq))
  }

  def breakdown(ctx: Ctx): Map[String, Double] = {
    // the same live state written once: each store as one snapshot, each
    // view-state directory as its latest version
    val once = s"${ctx.workDir}/once"
    MultisetStore.snapshot(ctx.spark, ordersPath).write.parquet(s"$once/orders")
    MultisetStore.snapshot(ctx.spark, linesPath).write.parquet(s"$once/lines")
    Seq("join/a", "join/b", "join/view", "agg").foreach { d =>
      val latest = MultisetStore.versions(s"$ivmDir/$d").max
      ctx.spark.read.parquet(s"$ivmDir/$d/v$latest").write.parquet(s"$once/${d.replace('/', '_')}")
    }
    val s = ctx.samples
    def q(c: String, p: Double) = Stats.quantile(s.getOrElse(c, Nil).toSeq, p)
    Map("write_p50_s" -> q("write", 0.5), "write_p90_s" -> q("write", 0.9),
      "refresh_p50_s" -> q("refresh", 0.5), "read_p50_s" -> q("read", 0.5),
      "read_p90_s" -> q("read", 0.9),
      "space_amp" -> (bytesUnder(msDir) + bytesUnder(ivmDir)).toDouble / bytesUnder(once))
  }
}
