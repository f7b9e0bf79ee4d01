package graft.perfbench

import graft.spark.GraftMaintenance
import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Workload `table_io`: the connector's write, scan and maintenance paths.
  *
  * Inputs: the five large tables amplified x2 from sf0.01, cached in
  * memory. A set-up writes each to graft, the files the warm-up scans.
  * One round, in order: write every frame to graft; full scan of each
  * table to the noop sink; 2-column lineitem scan; ~1% l_orderkey range
  * scan that zone maps can prune; then on the written lineitem a
  * deletion-vector delete, a scan while the vectors are in place, an
  * update and a compaction. Each scan, and the table after the
  * maintenance sequence, is checked by row count and an order-insensitive
  * checksum against the same operation on the in-memory source. Traced
  * rounds also write and scan parquet as a reference.
  */
final class TableIo(args: Args, tracer: Tracer, ops: Ops) extends Workload {
  private val factor = args.factor(2)
  private var started = false
  private lazy val spark = {
    started = true
    val s = SparkSide.session(args)
    if (args.trace) s.sparkContext.addSparkListener(new SparkTrace(tracer, s.sparkContext))
    s
  }
  private val root = new File(args.work, "table_io")
  private def gdir(t: String) = new File(root, s"graft/$t")
  private def pdir(t: String) = new File(root, s"parquet/$t")
  private var src: Map[String, DataFrame] = Map.empty

  // seeded choices: the pruned range, the delete victims, the update range
  private lazy val orders = factor * (Data.table(spark, Data.dir(args), "orders")
    .agg(max(col("o_orderkey"))).head().getLong(0) + 1)
  private val pick = new Gen.Draw(args.seed, 4242, 0)
  private lazy val span1 = math.max(1L, orders / 100)
  private lazy val prunedLo = pick.below(1, orders - span1)
  private lazy val pruned: Column = col("l_orderkey").between(prunedLo, prunedLo + span1 - 1)
  private val victimMod = pick.below(2, 97)
  private val victim: Column = col("l_orderkey") % 97 === victimMod
  private lazy val updLo = pick.below(3, orders - span1)
  private lazy val updated: Column = col("l_orderkey").between(updLo, updLo + span1 - 1)
  private val updates = Map("l_discount" -> (col("l_discount") + 0.01))

  private type Sum = (Long, Long, Long)
  private var expect: Map[String, Sum] = Map.empty
  private var bytes: Map[String, Long] = Map.empty
  private var pqBytes: Map[String, Long] = Map.empty
  private var space: Space = Space.empty
  private var updateRows = 0L
  /** per-layer counts, summed over traced rounds */
  private val counters = collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def prepare(): Unit = {
    src = Data.large.map(t => t -> Data.amplified(spark, Data.dir(args), t, factor, args.seed).cache()).toMap
    src.values.foreach(_.count())
  }

  def setup(rep: Int): Unit = Data.large.foreach { t => SparkSide.rm(gdir(t)); write(t) }

  def warmup(): Unit = {
    val li = src("lineitem")
    val expected = Data.large.map(t => t -> src(t)) ++ Seq(
      "proj" -> li.select("l_orderkey", "l_extendedprice"),
      "pruned" -> li.filter(pruned),
      "after_dv" -> li.filter(!victim),
      "after_dml" -> li.filter(!victim).select(li.columns.toSeq.map { c =>
        updates.get(c).map(u => when(updated, u).otherwise(col(c)).as(c)).getOrElse(col(c))
      }: _*))
    expect = SparkSide.parallel(expected) { case (k, df) => k -> SparkSide.checksum(df) }.toMap
    updateRows = li.filter(!victim && updated).count()
    // space attribution of the files the last set-up wrote
    space = Data.large.foldLeft(Space.empty) { (acc, t) =>
      SparkSide.files(gdir(t)).filter(_.getName.endsWith(".graft")).foldLeft(acc) { (a, f) =>
        val in = new graft.format.LocalFileInput(f.toPath)
        try a.add(t, Space.of(in, leafSpecs(t))) finally in.close()
      }
    }
    scansAndMaint()
  }

  def inputs: String =
    (Seq(prunedLo, victimMod, updLo) ++ Data.large.flatMap(t => expect(t).productIterator.map(_.toString)))
      .mkString(":").hashCode.toHexString

  private def leafSpecs(t: String): Seq[(Int, Boolean)] =
    src(t).schema.fields.toSeq.flatMap(f => graft.spark.GraftSchema.leafSpecs(f.dataType, f.nullable))

  private def read(t: String): DataFrame = spark.read.format("graft").load(gdir(t).getAbsolutePath)
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def check(got: Sum, key: String): Option[String] = {
    val seen = if (ops.takeFault()) got.copy(_1 = got._1 + 1) else got
    if (seen == expect(key)) None else Some(s"checksum $seen, expected ${expect(key)}")
  }

  /** A scan op: timed to the noop sink, then checked. */
  private def scan(name: String, layer: String, df: => DataFrame, key: String): Unit =
    ops.op(name) {
      val s0 = ScanCounters.now()
      val d = df
      tracer.span(name, layer)(noop(d))
      if (tracer.on) {
        val c = ScanCounters.now().minus(s0)
        counters("scan.page_groups_read") += c.pageGroupsRead
        counters("scan.page_groups_skipped") += c.pageGroupsSkipped
        counters("scan.bytes_fetched_mb") += c.bytesFetched / 1e6
      }
      d
    }(d => check(SparkSide.checksum(d), key))

  /** Write `t` to its graft directory, which the caller has removed; the
    * directory's bytes. */
  private def write(t: String): Long = {
    src(t).write.format("graft").mode("overwrite").save(gdir(t).getAbsolutePath)
    SparkSide.dirBytes(gdir(t))
  }

  private def writeAll(): Unit = Data.large.foreach { t =>
    SparkSide.rm(gdir(t))
    ops.op(s"write.$t")(tracer.span(s"write.$t.s", "spark.write")(write(t))) { n =>
      bytes += t -> n; if (n > 0) None else Some("no bytes written")
    }
    if (tracer.on) {
      SparkSide.rm(pdir(t))
      tracer.span(s"parquet.write.$t.s", Metrics.Reference)(src(t).write.parquet(pdir(t).getAbsolutePath))
      pqBytes += t -> SparkSide.dirBytes(pdir(t))
    }
  }

  private def scansAndMaint(): Unit = {
    Data.large.foreach(t => scan(s"scan.$t.s", "spark.scan", read(t), t))
    scan("scan.proj_s", "spark.scan", read("lineitem").select("l_orderkey", "l_extendedprice"), "proj")
    scan("scan.pruned_s", "spark.scan", read("lineitem").filter(pruned), "pruned")
    if (tracer.on) {
      def pq(t: String) = spark.read.parquet(pdir(t).getAbsolutePath)
      tracer.span("parquet.scan_full_s", Metrics.Reference)(Data.large.foreach(t => noop(pq(t))))
      tracer.span("parquet.scan_proj_s", Metrics.Reference)(
        noop(pq("lineitem").select("l_orderkey", "l_extendedprice")))
      tracer.span("parquet.scan_pruned_s", Metrics.Reference)(noop(pq("lineitem").filter(pruned)))
    }

    // maintenance sequence on the written lineitem
    val dir = gdir("lineitem").getAbsolutePath
    def maint[T](name: String)(f: => T)(ok: T => Option[String]): Unit = {
      val before = SparkSide.files(gdir("lineitem")).map(_.getPath).toSet
      ops.op(name)(tracer.span(name, "spark.maint")(f))(ok)
      if (tracer.on) counters("maint.bytes_written") += SparkSide.files(gdir("lineitem"))
        .filterNot(f => before(f.getPath)).map(_.length).sum
    }
    maint("maint.delete_dv_s")(GraftMaintenance.deleteWhereDv(spark, dir, victim)) { st =>
      if (tracer.on) counters("maint.files_rewritten") += st.filesRewritten
      val removed = expect("lineitem")._1 - expect("after_dv")._1
      if (st.rowsBefore - st.rowsAfter == removed) None
      else Some(s"deleted ${st.rowsBefore - st.rowsAfter} rows, expected $removed")
    }
    scan("maint.scan_after_dv_s", "spark.maint", read("lineitem"), "after_dv")
    maint("maint.update_s")(GraftMaintenance.updateWhere(spark, dir, updated, updates)) { st =>
      if (tracer.on) counters("maint.files_rewritten") += st.filesRewritten
      if (st.rowsUpdated == updateRows) None
      else Some(s"updated ${st.rowsUpdated} rows, expected $updateRows")
    }
    maint("maint.compact_s")(GraftMaintenance.compact(spark, dir, 1)) { st =>
      if (tracer.on) counters("maint.files_rewritten") += st.filesBefore
      check(SparkSide.checksum(read("lineitem")), "after_dml")
    }
  }

  def round(): Unit = { writeAll(); scansAndMaint() }

  def bytesPerRow: Double = bytes.values.sum.toDouble / Data.large.map(t => expect(t)._1).sum

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] = {
    val n = math.max(rounds.length, 1)
    val rows = Data.large.map(t => expect(t)._1).sum.toDouble
    Space.report(args, "table_io", space, pqBytes)
    space.metrics ++ SparkSide.taskMetrics(spark, tracer, n) ++
      Seq("scan.page_groups_read", "scan.page_groups_skipped", "scan.bytes_fetched_mb",
        "maint.files_rewritten", "maint.bytes_written").map(k => k -> counters(k) / n) ++
      Data.large.map(t => s"write.$t.bytes" -> bytes.getOrElse(t, 0L).toDouble) ++
      Map("parquet.disk_bytes_per_row" -> pqBytes.values.sum / rows)
  }

  def close(): Unit = {
    if (started) try spark.stop() catch { case _: Exception => () }
    SparkSide.rm(root)
  }
}
