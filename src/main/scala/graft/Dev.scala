package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev entry point for plan work on any census query (SparkEntry.allDefs):
  *
  *   runMain graft.Dev time <sfDir> <name>[,<name>...] [n]
  *   runMain graft.Dev plan <sfDir> <names|all> [outDir [suffix]]
  *
  * `time` runs each named query n times (default 3) in ONE session sized
  * by [[Engine.defaultCores]] and prints every pass. It times through
  * [[Bench.passes]] — a Bench cell's own cache discipline, swap caches
  * released + full GC before every pass after the first and between
  * queries — so a replay adjudicates a bench cell by showing whether its
  * floor moved, instead of trusting the min of two contended samples.
  *
  * `plan` prints each query's formatted physical plan, or writes it to
  * `<outDir>/<name>_<suffix>.txt` (suffix defaults to `before`) for
  * before/after plan diffs. Queries that materialize an index while
  * CONSTRUCTING their DataFrame (the *_indexed compositions) pay that
  * build here; the final plan itself never executes, so the output
  * records plan shape (Exchange count, join strategy,
  * PushedFilters/ReadSchema), not timings.
  */
object Dev {
  private val usage =
    "usage: graft.Dev time <sfDir> <names> [n] | plan <sfDir> <names|all> [outDir [suffix]]"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: dir :: names :: rest =>
      time(dir, defs(names), rest.headOption.fold(3)(_.toInt))
    case "plan" :: dir :: names :: rest =>
      plan(dir, defs(names), rest.headOption, rest.lift(1).getOrElse("before"))
    case _ => sys.error(usage)
  }

  private def defs(names: String): Seq[QueryDef] =
    if (names == "all") SparkEntry.allDefs.sortBy(_.name)
    else names.split(',').toSeq.map(n =>
      SparkEntry.allDefs.find(_.name == n).getOrElse(sys.error(s"unknown query: $n")))

  private def time(dir: String, qs: Seq[QueryDef], n: Int): Unit = {
    val spark = Engine.build()
    try qs.foreach { q =>
      Bench.passes(n, spark, dir)(q).zipWithIndex.foreach { case (t, i) =>
        println(t.fold(s"[dev] ${q.name} pass ${i + 1}: failed")(
          x => f"[dev] ${q.name} pass ${i + 1}: $x%.2fs"))
      }
      Engine.clearSwapCaches(spark)
      System.gc()
    } finally spark.stop()
  }

  private def plan(dir: String, qs: Seq[QueryDef], outDir: Option[String],
      suffix: String): Unit = {
    val out = outDir.map(java.nio.file.Paths.get(_))
    out.foreach(java.nio.file.Files.createDirectories(_))
    val spark = Engine.build()
    try qs.foreach { q =>
      try {
        val txt = q.run(spark, dir).queryExecution.explainString(FormattedMode)
        out match {
          case Some(o) =>
            java.nio.file.Files.write(o.resolve(s"${q.name}_$suffix.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[dev] ${q.name} ok " +
              s"(${txt.linesIterator.count(_.contains("Exchange"))} Exchange refs)")
          case None => println(s"===== ${q.name} =====\n$txt")
        }
      } catch { case e: Throwable =>
        // nextOption: an empty rendered exception must not throw
        // NoSuchElementException and mask the original failure
        println(s"[dev] ${q.name} FAILED: " +
          e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName).take(160))
      }
      Engine.clearSwapCaches(spark)
    } finally spark.stop()
  }
}
