package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Routes the driver-provided parquet tables through the graft format:
  * every query in SparkEntry reads `.graft` files, proving the storage layer
  * end-to-end. Conversion happens once per (sfDir, table) per machine and is
  * cached under /tmp (marker file, cross-JVM safe).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val lock = new Object

  /** Fingerprint of a local source tree (name/len/mtime of every file),
    * mirroring Bench.stageAmplified's cache key: a regenerated testdata
    * directory must invalidate stale .graft conversions, or a warm machine
    * would serve old graft data against a fresh DuckDB oracle.
    */
  // Deliberately NOT memoized: a same-JVM regeneration must invalidate
  // immediately (TablesCacheSpec pins it). The walk is a shallow tree of
  // ~10 tables x a handful of part files — order 100 stat calls, sub-ms
  // on any filesystem the bench runs on — so per-load recomputation costs
  // noise, not bias. This is the ONE fingerprint helper; the staged-gate
  // cache keys (Functions.stageKey) and bench staging reuse it.
  private[graft] def fingerprint(path: String): String = {
    var h = 1125899906842597L
    def mix(x: Long): Unit = h = h * 1000003 + x
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
      else { mix(f.getName.hashCode.toLong); mix(f.length()); mix(f.lastModified()) }
    val root = new java.io.File(path)
    if (root.exists()) walk(root)
    java.lang.Long.toHexString(h)
  }

  // bump the version segment whenever the written footer/stats change, so
  // cached conversions from an older writer get redone; the fingerprint
  // segment invalidates on any source-data regeneration
  private def strRoot(sfDir: String): String =
    "/tmp/graft_str_v8/" + sfDir.replaceAll("[^a-zA-Z0-9.]+", "_") + "_" + fingerprint(sfDir)

  /** Fingerprint of the STAGED graft conversions for `sfDir` (name/len/
    * mtime walk) — the bench stamps it into its final line so a
    * round-over-round total shift is attributable: same hash = same staged
    * bytes (timing moved for protocol/host reasons), changed hash = the
    * staging itself was rebuilt. */
  private[graft] def stagingFingerprint(sfDir: String): String =
    fingerprint(strRoot(sfDir))

  /** Read a table as a graft-format DataFrame (converting from parquet on
    * first use). Under `withFormat("parquet")` it reads the parquet source
    * instead — used only to measure the parquet baseline with identical
    * query code.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadImpl(spark, sfDir, name, runtimeFilter = false)

  /** Runs `f` with [[load]] reading `format` ("graft" or "parquet"). */
  private[graft] def withFormat[T](format: String)(f: => T): T = {
    sys.props("graft.tables.format") = format
    try f finally sys.props.remove("graft.tables.format")
  }

  /** The format [[load]] reads: "graft", or whatever [[withFormat]] set. */
  private[graft] def format: String =
    sys.props.getOrElse("graft.tables.format", "graft")

  private def loadImpl(spark: SparkSession, sfDir: String, name: String,
      runtimeFilter: Boolean): DataFrame = {
    if (format == "parquet")
      return parquet(spark, sfDir, name)
    val dir = s"${strRoot(sfDir)}/$name"
    ensureConverted(spark, sfDir, name, dir)
    val r = spark.read.format("graft")
    (if (runtimeFilter) r.option("runtimefilter", "true") else r).load(dir)
  }

  /** Like [[load]], but (graft only) with runtime join-key filtering
    * enabled on the scan: a broadcast join's key IN-set merges into the
    * zone-map predicates at execution time, so a bounded candidate set
    * (e.g. an ANN refine's R·queries ids) reads only the pages covering
    * it instead of the corpus. Opt-in per scan — the planned pruning
    * subquery costs more than it saves on unselective joins (see
    * GraftDataSource.filterAttributes). Parquet mode falls back to the
    * plain frame: Spark's file source has no data-column runtime
    * filtering, which is the comparison the bench makes.
    */
  def loadRuntimeFiltered(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadImpl(spark, sfDir, name, runtimeFilter = true)

  /** Graft directory of a converted table (for streaming reads etc.);
    * ensures the conversion exists first.
    */
  def graftDir(spark: SparkSession, sfDir: String, name: String): String = {
    load(spark, sfDir, name)
    s"${strRoot(sfDir)}/$name"
  }

  /** Read the original parquet (for oracle-parity pre-processing only). */
  def parquet(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts physical type varies across testdata generations — int64
    // nanos (surfaces as LongType under the legacy flag) vs timestamp[us]
    // (surfaces as TIMESTAMP or TIMESTAMP_NTZ). Branch on what's actually
    // on disk and normalize to TimestampType (session tz is UTC everywhere)
    // so engine + oracle agree regardless of generation.
    if (name == "events") {
      import org.apache.spark.sql.types._
      raw.schema("ts").dataType match {
        case LongType      => raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
        case TimestampType => raw
        case _             => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else raw
  }

  private def ensureConverted(spark: SparkSession, sfDir: String, name: String, dir: String): Unit =
    lock.synchronized {
      val marker = new java.io.File(s"$dir/_GRAFT_DONE")
      if (marker.exists()) return
      // ingest profile: LZ4-HC blocks — same fast decode as lz4, ~25%
      // smaller text; write cost is paid once per conversion
      parquet(spark, sfDir, name)
        .write.format("graft").option("compression", "lz4hc")
        .mode("overwrite").save(dir)
      marker.createNewFile()
    }
}
