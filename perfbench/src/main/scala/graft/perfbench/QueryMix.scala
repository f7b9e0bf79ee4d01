package graft.perfbench

import graft.{SparkEntry, Tables}
import java.io.File
import org.apache.spark.sql.Row

/** Workload `query_mix`: the query library over graft tables.
  *
  * Inputs: the sf0.01 tables. A set-up copies them and converts every one
  * to graft with `Tables.load`, the path the queries read. One round is a
  * pass over the 12 declared queries, in an order drawn from the seed;
  * each is run through `SparkEntry.queries` and its rows collected. A query
  * is correct when its result digest equals the same query's digest over
  * the source parquet, computed before timing.
  */
final class QueryMix(args: Args, tracer: Tracer, ops: Ops) extends Workload {
  private var started = false
  private lazy val spark = {
    started = true
    val s = SparkSide.session(args)
    if (args.trace) s.sparkContext.addSparkListener(new SparkTrace(tracer, s.sparkContext))
    s
  }
  private val root = new File(args.work, "query_mix")
  private var sfDir = ""
  /** graft conversions made by Tables.load, removed on close */
  private val converted = collection.mutable.LinkedHashSet[File]()
  private var oracle: Map[String, String] = Map.empty
  private var pass = 0
  private var scanMb = 0.0

  def prepare(): Unit = spark

  /** Each repetition converts a fresh copy of the tables, since Tables.load
    * keys its conversion cache on the source files' paths and mtimes. */
  def setup(rep: Int): Unit = {
    dropConversions()
    val dir = new File(root, s"src-$rep")
    SparkSide.rm(dir)
    SparkSide.copy(new File(Data.dir(args)), dir)
    sfDir = dir.getAbsolutePath
    Data.all.foreach(t => converted += new File(Tables.graftDir(spark, sfDir, t)).getParentFile)
  }

  private def order(p: Int): Seq[String] =
    new scala.util.Random(args.seed * 1000003L + p).shuffle(Metrics.queries)

  def inputs: String = (1 to 3).flatMap(order).mkString(",").hashCode.toHexString

  private def dropConversions(): Unit = { converted.foreach(SparkSide.rm); converted.clear() }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  private def run(q: String): Array[Row] =
    try SparkEntry.queries(q)(spark, sfDir).collect()
    finally spark.catalog.clearCache()

  /** Digests of every query, run four at a time. */
  private def digests(): Map[String, String] =
    try SparkSide.parallel(Metrics.queries)(q => q -> digest(SparkEntry.queries(q)(spark, sfDir).collect())).toMap
    finally spark.catalog.clearCache()

  /** The oracle: the same query code over the source parquet. The tables
    * do not depend on the workload seed, so the digests are computed once
    * per build and dataset and kept under perfbench/out. */
  def warmup(): Unit = {
    val cache = new File(args.work.getParentFile, s"oracle-${args.build}-${Data.digest(Data.dir(args))}.tsv")
    oracle =
      if (cache.exists)
        scala.io.Source.fromFile(cache).getLines().map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      else {
        sys.props("graft.tables.format") = "parquet"
        val d = try digests() finally sys.props.remove("graft.tables.format")
        java.nio.file.Files.write(cache.toPath,
          d.map { case (q, h) => s"$q\t$h" }.mkString("\n").getBytes("UTF-8"))
        d
      }
    // an untimed pass over graft, four queries at a time: the timed passes
    // then run on code the JIT has already compiled
    digests()
  }

  def round(): Unit = {
    pass += 1
    order(pass).foreach { q =>
      ops.op(s"query.$q") {
        val s0 = ScanCounters.now()
        val rows = tracer.span(s"query.$q.s", "queries")(run(q))
        if (tracer.on) scanMb += ScanCounters.now().minus(s0).bytesFetched / 1e6
        rows
      } { rows =>
        val got = digest(if (ops.takeFault()) rows.drop(1) else rows)
        if (got == oracle(q)) None else Some(s"digest $got, expected ${oracle(q)}")
      }
    }
  }

  def bytesPerRow: Double = {
    val dirs = Data.large.map(t => new File(Tables.graftDir(spark, sfDir, t)))
    val rows = Data.large.map(t => spark.read.parquet(new File(sfDir, s"$t.parquet").getAbsolutePath).count()).sum
    dirs.map(SparkSide.dirBytes).sum.toDouble / rows
  }

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] =
    SparkSide.taskMetrics(spark, tracer, rounds.length) +
      ("query.scan_mb" -> scanMb / math.max(rounds.length, 1))

  def close(): Unit = {
    if (started) try spark.stop() catch { case _: Exception => () }
    dropConversions()
    SparkSide.rm(root)
  }
}
