package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Spark session and helpers shared by the Spark workloads. */
object SparkSide {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new java.io.File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.spark.GraftExtensions.ensure(spark)
    spark
  }

  /** `f` over `xs`, `cores` at a time (untimed set-up work only). */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val all = scala.concurrent.Future.traverse(xs)(x => scala.concurrent.Future(f(x)))
      scala.concurrent.Await.result(all, scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  /** Order-insensitive content checksum: row count plus two folds of a
    * 64-bit hash of every column (overflow-free under ANSI mode).
    */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.toSeq.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(shiftrightunsigned(h, 33)), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Bytes of the files under a table directory: data, manifests and
    * deletion vectors, but not the local filesystem's checksum sidecars
    * or success markers. */
  def dirBytes(dir: java.io.File): Long = files(dir).map(_.length).sum

  def files(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists) Nil
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.map(_.toFile).filter(f => f.isFile && !f.getName.startsWith(".") &&
        f.getName != "_SUCCESS").toList
      finally s.close()
    }

  def copy(from: java.io.File, to: java.io.File): Unit = {
    val s = java.nio.file.Files.walk(from.toPath)
    try s.forEach { p =>
      val dst = to.toPath.resolve(from.toPath.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally s.close()
  }

  def rm(f: java.io.File): Unit =
    if (f.exists) {
      val s = java.nio.file.Files.walk(f.toPath)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }

  /** Per-layer task time and shuffle traffic from the listener, per
    * traced round. */
  def taskMetrics(spark: SparkSession, tracer: Tracer, rounds: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def per(k: String) = tracer.counters.getOrElse(k, 0.0) / math.max(rounds, 1)
    Map("scan.task_s" -> per("task_s@spark.scan"), "query.task_s" -> per("task_s@queries"),
      "query.shuffle_mb" -> per("shuffle_mb@queries"))
  }
}
