package graft.tools

import graft.{Bench, BenchMaintenance, SparkEntry, Tables}
import graft.spark.GraftIntrospect
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one diagnostics entry point. Every Spark subcommand runs in one
  * session built with the bench's settings ([[Bench.session]]) and times
  * through the bench's own code ([[Bench.run]]), so a Probe number compares
  * directly with a bench number. Query lists are comma-separated
  * SparkEntry names, `headline` (Bench.headline) or `all`.
  */
object Probe {

  val Usage: String =
    """usage: graft.tools.Probe <subcommand> ...
      |  time  <q1,q2,...|x_op> <sfDir> [runs=3] [factor=1] [k=v;...]
      |        interleaved graft-vs-parquet min-of-runs; factor > 1 times the
      |        bench's amplified staging; k=v;... sets session confs first
      |  plan  <queries> <sfDir> [outDir] [suffix=plan]
      |        AQE-final graft-vs-parquet plan skeletons; with outDir, also
      |        writes each graft plan's formatted explain to outDir/<q>_<suffix>.txt
      |  rows  <queries> <sfDir>
      |        result row count per query
      |  spill <queries> <sfDir> [factor=1] [out.json]
      |        per-query shuffle bytes, spill bytes and peak execution memory
      |  stat  <graftDir>
      |        per-leaf lane, codec histogram, raw and disk bytes (no Spark)
      |  cdc-scale <sfDir> [targetRows=5000000]
      |        the bench's at-scale merge/cdc/delete section, one JSON line""".stripMargin

  def main(args: Array[String]): Unit = {
    def intArg(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    args.toSeq match {
      case Seq("stat", dir) => stat(dir).foreach(l => println(formatLeaf(l)))
      case Seq("time" | "plan" | "rows" | "spill", _, _, _*) | Seq("cdc-scale", _, _*) =>
        val spark = Bench.session()
        try args(0) match {
          case "time" =>
            args.lift(5).toSeq.flatMap(_.split(";")).filter(_.contains("="))
              .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
            time(spark, names(args(1)), args(2), intArg(3, 3), intArg(4, 1))
          case "plan" =>
            plan(spark, names(args(1)).filterNot(_.startsWith("x_")), args(2),
              args.lift(3), args.lift(4).getOrElse("plan"))
          case "rows" =>
            rows(spark, names(args(1)).filterNot(_.startsWith("x_")), args(2))
              .foreach { case (q, n) => println(s"ROWS $q: $n") }
          case "spill" =>
            val lines = spill(spark, names(args(1)), args(2), intArg(3, 1))
            args.lift(4).foreach(out => java.nio.file.Files.writeString(
              java.nio.file.Paths.get(out), lines.mkString("{\n  ", ",\n  ", "\n}\n")))
          case "cdc-scale" =>
            println(cdcScale(spark, args(1), args.lift(2).fold(5000000L)(_.toLong)))
        } finally spark.stop()
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  def names(arg: String): Seq[String] = arg match {
    case "headline" => Bench.headline
    case "all" => SparkEntry.queries.keys.toSeq.sorted
    case list => list.split(",").toSeq.filter(_.nonEmpty)
  }

  /** The bench's staging and impl substitutions for amplification `factor`. */
  private def staging(spark: SparkSession, sfDir: String, factor: Int): (String, Bench.Impl) =
    if (factor > 1) (Bench.stageAmplified(spark, sfDir, factor), Bench.fastImpl ++ Bench.capImpl(factor))
    else (sfDir, Bench.fastImpl)

  /** Interleaved graft-vs-parquet timing: one warm run per format, then
    * `runs` pairs whose first format alternates (machine load lands on both
    * formats equally). A failing name prints FAILED and the rest go on.
    */
  def time(spark: SparkSession, names: Seq[String], sfDir: String, runs: Int = 3,
      factor: Int = 1): Unit = {
    val (dir, impl) = staging(spark, sfDir, factor)
    names.foreach { q =>
      def one(fmt: String): Double = Bench.run(spark, fmt, q, dir, impl)
      try {
        one("graft"); one("parquet") // warm: conversions, JIT, page cache
        val g, p = collection.mutable.ArrayBuffer[Double]()
        (1 to runs).foreach { i =>
          if (i % 2 == 1) { g += one("graft"); p += one("parquet") }
          else { p += one("parquet"); g += one("graft") }
          println(f"RUN$i $q: graft ${g.last}%.3f s  parquet ${p.last}%.3f s")
        }
        println(f"MIN $q: graft ${g.min}%.3f s  parquet ${p.min}%.3f s  ratio ${g.min / p.min}%.2f")
      } catch { case e: Exception => println(s"FAILED $q: ${e.getMessage}") }
    }
  }

  /** Final (post-AQE) physical plan of `q` under `fmt`, reduced to its
    * joins, exchanges, scans, aggregates and sorts. Runs the query: only
    * an executed plan shows AQE's final choices.
    */
  private def skeleton(spark: SparkSession, fmt: String, q: String, sfDir: String): String =
    Tables.withFormat(fmt) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => Seq("Join", "Exchange", "Scan", "Aggregate", "Sort").exists(l.contains))
        .map(_.replaceAll("#\\d+L?", "").take(150)).mkString("\n")
    }

  /** Prints each query's graft and parquet plan skeletons; with `outDir`,
    * first writes the graft plan's `explain("formatted")` text to
    * `outDir/<q>_<suffix>.txt` (the plans/rNN audit artifact).
    */
  def plan(spark: SparkSession, names: Seq[String], sfDir: String,
      outDir: Option[String] = None, suffix: String = "plan"): Unit = {
    outDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { q =>
      try {
        outDir.foreach { d =>
          val txt = Tables.withFormat("graft")(SparkEntry.queries(q)(spark, sfDir)).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"${q}_$suffix.txt"), txt)
        }
        Seq("graft", "parquet").foreach(fmt =>
          println(s"==== $q $fmt ====\n" + skeleton(spark, fmt, q, sfDir)))
      } catch { case e: Exception => println(s"FAILED $q: ${e.getMessage}") }
    }
  }

  /** Result row count per query: the quick "did a rewrite change the
    * result set?" check before the oracle gate. */
  def rows(spark: SparkSession, names: Seq[String], sfDir: String): Seq[(String, Long)] =
    names.map(q => q -> SparkEntry.queries(q)(spark, sfDir).count())

  /** Runs each query once per format under a stage listener and returns
    * one JSON member per (query, format): wall seconds, stage count,
    * shuffle read/write, memory/disk spill and the largest per-stage peak
    * execution memory (MB).
    */
  def spill(spark: SparkSession, names: Seq[String], sfDir: String, factor: Int = 1): Seq[String] = {
    val (dir, impl) = staging(spark, sfDir, factor)
    // shuffle read, shuffle write, memory spill, disk spill, peak exec mem, stages
    val acc = new Array[Long](6)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) acc.synchronized {
          acc(0) += m.shuffleReadMetrics.totalBytesRead
          acc(1) += m.shuffleWriteMetrics.bytesWritten
          acc(2) += m.memoryBytesSpilled
          acc(3) += m.diskBytesSpilled
          acc(4) = math.max(acc(4), m.peakExecutionMemory)
          acc(5) += 1
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try for (q <- names; fmt <- Seq("graft", "parquet")) yield {
      acc.synchronized(java.util.Arrays.fill(acc, 0L))
      val sec = Bench.run(spark, fmt, q, dir, impl)
      Thread.sleep(1500) // listener events drain asynchronously
      val Array(sr, sw, ms, ds, peak, stages) = acc.synchronized(acc.clone())
      val line = f""""$q/$fmt":{"sec":$sec%.3f,"stages":$stages,""" +
        f""""shuffle_read_mb":${sr / 1e6}%.1f,"shuffle_write_mb":${sw / 1e6}%.1f,""" +
        f""""mem_spill_mb":${ms / 1e6}%.1f,"disk_spill_mb":${ds / 1e6}%.1f,"peak_exec_mem_mb":${peak / 1e6}%.1f}"""
      println(s"SPILL $line")
      line
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One leaf column's physical summary, summed over a table's live files. */
  final case class LeafStat(name: String, lane: Int, codecs: Map[String, Int],
      rawBytes: Long, diskBytes: Long)

  /** Per-leaf lane, page-codec histogram, raw (decoded) and on-disk bytes
    * of the graft table at `dir`, in leaf order. Reads footers and page
    * headers only; needs no Spark session.
    */
  def stat(dir: String): Seq[LeafStat] = {
    val perFile = GraftIntrospect.describeFiles(dir, new org.apache.hadoop.conf.Configuration())
      .flatMap { fl =>
        fl.leaves.indices.map { i =>
          val pages = fl.leaves(i).pages
          LeafStat(fl.leafNames(i), fl.leaves(i).lane,
            pages.groupBy(p => GraftIntrospect.codecName(p.codec)).map { case (c, ps) => c -> ps.length },
            pages.map(_.rawLen.toLong).sum, fl.footer.leaves(i).totalBytes)
        }
      }
    perFile.map(_.name).distinct.map { name =>
      perFile.filter(_.name == name).reduce { (a, b) =>
        a.copy(codecs = (a.codecs.keySet ++ b.codecs.keySet)
            .map(c => c -> (a.codecs.getOrElse(c, 0) + b.codecs.getOrElse(c, 0))).toMap,
          rawBytes = a.rawBytes + b.rawBytes, diskBytes = a.diskBytes + b.diskBytes)
      }
    }
  }

  def formatLeaf(l: LeafStat): String = {
    val hist = l.codecs.toSeq.sortBy(-_._2).map { case (c, n) => s"$c x$n" }.mkString(", ")
    f"${l.name}%-28s lane=${l.lane} raw=${l.rawBytes}%,d disk=${l.diskBytes}%,d [$hist]"
  }

  /** The bench's at-scale CDC section ([[BenchMaintenance.cdcAtScale]]):
    * merge, cdc apply and dv delete at `rows` rows, as one JSON string.
    * DML phase timings go to stderr while it runs.
    */
  def cdcScale(spark: SparkSession, sfDir: String, rows: Long): String = {
    sys.props("graft.debug.dmlphases") = "1"
    try BenchMaintenance.cdcAtScale(spark, sfDir, rows)
    finally sys.props.remove("graft.debug.dmlphases")
  }
}
