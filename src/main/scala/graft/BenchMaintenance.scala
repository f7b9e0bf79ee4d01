package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timed maintenance / snapshot operations for the bench headline
  * (VERDICT r7 #7-#8): row-level purge, z-order re-clustering, and
  * snapshot reads are what a 100 TB operator runs daily, so their cost is
  * tracked round-over-round like any query. Each op is timed against a
  * rewrite-based parquet equivalent — parquet has no row-level delete, no
  * in-place re-layout and no snapshots, so the comparator is the rewrite a
  * parquet shop would actually run.
  *
  * Staging (writing the pre-op table copy) happens OUTSIDE the timed
  * region for both formats; the graft side re-stages before every run
  * because the op mutates the staged table.
  */
object BenchMaintenance {

  private def key(dir: String): String = dir.replaceAll("[^a-zA-Z0-9.]+", "_")
  private val boundsCache = scala.collection.mutable.Map.empty[String, (Long, Long)]

  /** doc_id range whose middle ~2% slice is the purge target: with the
    * staged table range-partitioned on doc_id, the matching rows live in
    * 1-2 of ~16 files — the selective-takedown shape where file-scoped
    * rewrite pays off.
    */
  private def docBounds(spark: SparkSession, dir: String): (Long, Long) =
    boundsCache.getOrElseUpdate(dir, {
      val r = Tables.parquet(spark, dir, "documents")
        .agg(min(col("doc_id")), max(col("doc_id"))).first()
      (r.getLong(0), r.getLong(1))
    })

  private def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  def time(spark: SparkSession, name: String, format: String, dir: String): Double =
    name match {
      case "x_delete_where" => deleteWhereOp(spark, format, dir)
      case "x_delete_dv" => deleteDvOp(spark, format, dir)
      case "x_update_where" => updateWhereOp(spark, format, dir)
      case "x_merge_upsert" => mergeUpsertOp(spark, format, dir)
      case "x_zorder_relayout" => zorderOp(spark, format, dir)
      case "x_asof_snapshot" => asofOp(spark, format, dir)
      case "x_incremental_scan" => incrementalOp(spark, format, dir)
      case "x_spj_join" => spjJoinOp(spark, format, dir)
      case "x_cdc_apply" => cdcApplyOp(spark, format, dir)
      case "x_vacuum" => vacuumOp(spark, format, dir)
      case "x_sorted_topn" => sortedTopNOp(spark, format, dir)
      case "x_ndv_stats" => ndvStatsOp(spark, format, dir)
      case "x_compact" => compactOp(spark, format, dir)
      case "x_compact_partition" => compactPartitionOp(spark, format, dir)
      case other => sys.error(s"unknown maintenance bench op: $other")
    }

  /** Small-file compaction: a 64-file drip-ingested orders table squeezed
    * to 4. graft: GraftMaintenance.compact (append-mode rewrite +
    * snapshot-scoped deletes — the concurrent-writer-safe pass). parquet:
    * the conventional route, read + repartition + rewrite to a fresh dir
    * and swap. Both timed regions include the full rewrite plus a
    * verifying scan-agg; staging the fragmented input is outside. The
    * orders mass is identical both sides, so this prices the maintenance
    * machinery itself (commit protocol, manifest upkeep) on top of the
    * copy cost every compactor pays.
    */
  private def compactOp(spark: SparkSession, format: String, dir: String): Double = {
    import org.apache.hadoop.fs.Path
    val src = Tables.parquet(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartition(64)
    val stage = s"/tmp/graft_bench_maint/compact_${format}_${key(dir)}_" +
      Tables.fingerprint(s"$dir/orders.parquet")
    rm(stage) // compaction mutates the table — re-stage fresh every run
    def agg(df: DataFrame): Long =
      df.agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      val t0 = System.nanoTime()
      val st = graft.spark.GraftMaintenance.compact(spark, stage, targetFiles = 4)
      require(st.filesAfter <= st.filesBefore, s"x_compact: $st")
      require(agg(spark.read.format("graft").load(stage)) > 0)
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
      val t0 = System.nanoTime()
      val tmp = s"$stage.compacting"
      spark.read.parquet(stage).repartition(4).write.mode("overwrite").parquet(tmp)
      fs.delete(new Path(stage), true)
      fs.rename(new Path(tmp), new Path(stage))
      require(agg(spark.read.parquet(stage)) > 0)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** PARTITION-SCOPED compaction: an 8-day hive-partitioned orders table,
    * each day drip-fragmented into 8 files; compact ONE day to 1 file.
    * graft: GraftMaintenance.compactPartition (scan-through rewrite +
    * snapshot-scoped retire of just that day). parquet: the conventional
    * per-partition route — read the day's subdir, rewrite to a tmp, swap
    * the subdir. Both are O(one partition's bytes), so this prices the
    * scoped machinery; the contrast with x_compact (whole table) is the
    * 1/N win that makes steady-state maintenance affordable at 100 TB.
    */
  private def compactPartitionOp(spark: SparkSession, format: String, dir: String): Double = {
    import org.apache.hadoop.fs.Path
    val src = Tables.parquet(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_orderkey") % 8).cast("string").as("day"))
      .repartition(8)
    val stage = s"/tmp/graft_bench_maint/cpart_${format}_${key(dir)}_" +
      Tables.fingerprint(s"$dir/orders.parquet")
    def agg(df: DataFrame): Long =
      df.agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // min-of-5 of the single op (the x_ndv_stats treatment, applied r19):
    // the compaction itself is sub-second on both sides, where one-shot
    // timing reports driver scheduling noise — this entry flagged on
    // relative spread in three consecutive rounds (1.29x r17, 1.50x one
    // r18 run) while a warm interleaved re-timing said 1.03x. The mutated
    // table forces a fresh (untimed) re-stage before each rep.
    def one(): Double =
      if (format == "graft") {
        rm(stage)
        src.write.format("graft").option("partitionby", "day")
          .mode("overwrite").save(stage)
        val t0 = System.nanoTime()
        val st = graft.spark.GraftMaintenance.compactPartition(spark, stage,
          Map("day" -> "3"), targetFiles = 1)
        require(st.filesAfter < st.filesBefore, s"x_compact_partition: $st")
        require(agg(spark.read.format("graft").load(stage)) > 0)
        (System.nanoTime() - t0) / 1e9
      } else {
        rm(stage)
        src.write.partitionBy("day").mode("overwrite").parquet(stage)
        val fs = new Path(stage).getFileSystem(spark.sessionState.newHadoopConf())
        val t0 = System.nanoTime()
        val sub = s"$stage/day=3"
        val tmp = s"$stage/.day=3.compacting"
        spark.read.parquet(sub).repartition(1).write.mode("overwrite").parquet(tmp)
        fs.delete(new Path(sub), true)
        fs.rename(new Path(tmp), new Path(sub))
        require(agg(spark.read.parquet(stage)) > 0)
        (System.nanoTime() - t0) / 1e9
      }
    (0 until 5).map(_ => one()).min
  }

  /** ANALYZE-grade distinct counts for 3 documents columns. graft: the
    * footer KMV synopses (GraftNdv — one 64 KiB tail-read per file, zero
    * data pages). parquet: the conventional route, approx_count_distinct
    * over a scan. Same question, same accuracy class (probabilistic
    * sketch); staging (synopsis write vs plain copy) sits outside the
    * timed region. The gap is structural — O(files) metadata reads vs
    * O(rows) scan — and widens with table bytes.
    */
  private def ndvStatsOp(spark: SparkSession, format: String, dir: String): Double = {
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .repartition(8)
    val stage = s"/tmp/graft_bench_maint/ndv_${format}_${key(dir)}_" +
      Tables.fingerprint(s"$dir/documents.parquet")
    val marker = new java.io.File(s"$stage/_NDV_STAGED")
    if (!marker.exists()) {
      rm(stage)
      if (format == "graft")
        src.write.format("graft").option("ndvsketch", "doc_id,lang,source")
          .mode("overwrite").save(stage)
      else src.write.mode("overwrite").parquet(stage)
      marker.createNewFile()
    }
    // min-of-5 of the single op: this is a sub-second operation on both
    // sides (footer read vs a 50k-row agg), where one-shot timing reports
    // driver scheduling noise, not the capability — r17 flagged it purely
    // on relative spread. The min is the same estimator the query
    // sections use, applied where it's cheap.
    def one(): Double = {
      val t0 = System.nanoTime()
      if (format == "graft") {
        val stats = graft.spark.GraftNdv.estimate(spark, stage,
          Seq("doc_id", "lang", "source"))
        require(stats.length == 3 && stats.forall(_.estimate > 0), "ndv answered wrong")
      } else {
        val r = spark.read.parquet(stage)
          .agg(approx_count_distinct(col("doc_id")).as("a"),
            approx_count_distinct(col("lang")).as("b"),
            approx_count_distinct(col("source")).as("c"))
          .collect()(0)
        require(r.getLong(0) > 0 && r.getLong(1) > 0 && r.getLong(2) > 0, "ndv answered wrong")
      }
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 5).map(_ => one()).min
  }

  /** "Latest 100 events" on a ts-sorted table. graft: the sort marker +
    * SupportsPushDownTopN plan trailing pages per file — the scan reads
    * ~2 pages/file regardless of table size. parquet: same physically
    * sorted bytes, but the V1 source cannot report ordering, so the query
    * pays a full scan + TakeOrdered. Staging (identical sorted layout both
    * sides) is outside the timed region; the timed region is the query.
    */
  private def sortedTopNOp(spark: SparkSession, format: String, dir: String): Double = {
    val src = Tables.parquet(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .repartitionByRange(8, col("ts"))
    // fingerprinted like every other staging cache: regenerated testdata
    // must invalidate the sorted copy, not silently re-time stale bytes
    val stage = s"/tmp/graft_bench_maint/topn_${format}_${key(dir)}_" +
      Tables.fingerprint(s"$dir/events.parquet")
    val marker = new java.io.File(s"$stage/_TOPN_STAGED")
    if (!marker.exists()) {
      rm(stage)
      if (format == "graft")
        src.write.format("graft").option("sortby", "ts,event_id")
          .mode("overwrite").save(stage)
      else
        src.sortWithinPartitions(col("ts"), col("event_id"))
          .write.mode("overwrite").parquet(stage)
      marker.createNewFile()
    }
    val t0 = System.nanoTime()
    val df =
      if (format == "graft") spark.read.format("graft").load(stage)
      else spark.read.parquet(stage)
    val rows = df.orderBy(col("ts").desc, col("event_id").desc).limit(100).collect()
    require(rows.length == 100, s"x_sorted_topn: expected 100 rows, got ${rows.length}")
    (System.nanoTime() - t0) / 1e9
  }

  /** Orphan GC. graft: GraftMaintenance.vacuum over planted crashed-job
    * junk (aged staging tmps + a deleteWhere scratch tree). parquet: the
    * sweep a parquet shop scripts for the same hygiene — walk the table
    * tree, delete stale `_temporary` leftovers and dot-tmps behind the
    * same age cutoff. Both sides plant an identical 160-file junk load
    * before the timed region; the timed region is the GC pass plus a
    * scan-agg proving the table still reads. Cost is metadata-ops bound
    * (list + delete), which is exactly what the op costs on a real
    * object store — growing with junk count, not table bytes.
    */
  private def vacuumOp(spark: SparkSession, format: String, dir: String): Double = {
    import org.apache.hadoop.fs.Path
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val stage = s"/tmp/graft_bench_maint/vac_${format}_${key(dir)}"
    rm(stage)
    val root = new Path(stage)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def plant(p: Path): Unit = {
      val out = fs.create(p, true); out.write(7); out.close()
      fs.setTimes(p, 1000L, 1000L)
    }
    def agg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      (0 until 150).foreach(i => plant(new Path(root, f".crash$i%03d.graft.a$i.tmp")))
      (0 until 10).foreach(i => plant(new Path(root, f"_graft_tmp_delete/t$i/part.graft")))
      val t0 = System.nanoTime()
      val st = graft.spark.GraftMaintenance.vacuum(spark, stage,
        olderThanMs = System.currentTimeMillis() - 60000)
      require(st.stagingTmps + st.scratchFiles == 160,
        s"x_vacuum: expected 160 junk files collected, got $st")
      agg(spark.read.format("graft").load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      (0 until 150).foreach(i => plant(new Path(root, f".crash$i%03d.parquet.tmp")))
      (0 until 10).foreach(i =>
        plant(new Path(root, f"_temporary/0/task$i%03d/part-$i%03d.parquet")))
      val cutoff = System.currentTimeMillis() - 60000
      val t0 = System.nanoTime()
      var swept = 0
      def walk(d: Path, inTmp: Boolean): Unit = fs.listStatus(d).foreach { f =>
        val n = f.getPath.getName
        if (f.isDirectory) { if (inTmp || n == "_temporary") walk(f.getPath, true) }
        else if ((inTmp || (n.startsWith(".") && n.endsWith(".tmp"))) &&
          f.getModificationTime < cutoff) { fs.delete(f.getPath, false); swept += 1 }
      }
      walk(root, inTmp = false)
      val tdir = new Path(root, "_temporary")
      if (fs.exists(tdir) &&
        !fs.listStatus(tdir).exists(_.isFile)) fs.delete(tdir, true)
      require(swept == 160, s"x_vacuum parquet sweep: expected 160, swept $swept")
      agg(spark.read.parquet(stage))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Derived-table sync. graft: the CDC path — read the change window off
    * manifest history (+ takedown feed) and apply it to the derived table
    * (keyed delete of victims, append of transformed inserts); cost is
    * O(changed data). parquet: no commit history or feed exists, so the
    * comparator is what a parquet shop runs to get the same end state — a
    * full re-derive (read source, filter, rewrite derived). The staged
    * source gets one in-window append + one changelog takedown before the
    * timed region; staging mutates, so both sides re-stage per run.
    */
  private def cdcApplyOp(spark: SparkSession, format: String, dir: String): Double = {
    val (lo0, hi0) = docBounds(spark, dir)
    val lo = lo0 + (hi0 - lo0) * 49 / 100
    val hi = lo0 + (hi0 - lo0) * 51 / 100
    // text stays in the derived copy — the whole point of the feed is NOT
    // re-moving the corpus bytes, so the comparator must carry them
    val d = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val src = s"/tmp/graft_bench_maint/cdc_src_${format}_${key(dir)}"
    val dst = s"/tmp/graft_bench_maint/cdc_dst_${format}_${key(dir)}"
    rm(src); rm(dst)
    val derive = (df: DataFrame) => df.filter(col("n_chars") % 2 === 0)
    def agg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      // base commit + derived bootstrap, then an append and a takedown
      // confined to base-commit files (the append commit keeps its
      // manifest, so its rows stay insert-visible in the window)
      d.filter(col("doc_id") % 3 =!= 0)
        .write.format("graft").mode("append").save(src)
      derive(spark.read.format("graft").load(src))
        .write.format("graft").mode("append").save(dst)
      val fs = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val t1 = graft.spark.GraftManifest
        .list(fs, new org.apache.hadoop.fs.Path(src))
        .map(graft.spark.GraftManifest.nameT).max
      Thread.sleep(5)
      d.filter(col("doc_id") % 3 === 0)
        .write.format("graft").mode("append").save(src)
      graft.spark.GraftMaintenance.deleteWhere(spark, src,
        col("doc_id").between(lo, hi) && col("doc_id") % 3 =!= 0,
        changelog = true)
      val t0 = System.nanoTime()
      graft.spark.GraftCdc.applyChangesBetween(spark, src, t1, Long.MaxValue,
        dst, "doc_id", derive)
      agg(spark.read.format("graft").load(dst))
      (System.nanoTime() - t0) / 1e9
    } else {
      // staged source already holds the post-append post-takedown state;
      // the timed region is the full re-derive
      d.filter(!(col("doc_id").between(lo, hi) && col("doc_id") % 3 =!= 0))
        .write.mode("overwrite").parquet(src)
      val t0 = System.nanoTime()
      derive(spark.read.parquet(src))
        .write.mode("overwrite").parquet(dst)
      agg(spark.read.parquet(dst))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Row-level purge of a narrow doc_id band. graft: footer-probed
    * deleteWhere rewrites only the 1-2 files holding matches. parquet:
    * the full filter-and-rewrite a parquet pipeline runs for a takedown.
    * Both sides end with the same survivor aggregate so the timed region
    * covers op + read-back.
    */
  private def deleteWhereOp(spark: SparkSession, format: String, dir: String): Double = {
    val (lo0, hi0) = docBounds(spark, dir)
    val lo = lo0 + (hi0 - lo0) * 49 / 100
    val hi = lo0 + (hi0 - lo0) * 51 / 100
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val stage = s"/tmp/graft_bench_maint/del_${format}_${key(dir)}"
    rm(stage)
    def survivorAgg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      val t0 = System.nanoTime()
      graft.spark.GraftMaintenance.deleteWhere(spark, stage,
        col("doc_id").between(lo, hi))
      survivorAgg(spark.read.format("graft").load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      val rw = s"${stage}_rw"
      rm(rw)
      val t0 = System.nanoTime()
      spark.read.parquet(stage)
        .filter(!col("doc_id").between(lo, hi))
        .write.mode("overwrite").parquet(rw)
      survivorAgg(spark.read.parquet(rw))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** MERGE-ON-READ delete via deletion vectors: a SCATTERED 0.1% takedown
    * (`doc_id % 1000 === 7` — every file holds victims, unlike
    * x_delete_where's contiguous band), where the graft side masks
    * ordinals in per-file bitmap sidecars (GraftMaintenance.deleteWhereDv)
    * instead of rewriting the matched files — O(matched rows) bitmap bytes vs O(matched files)
    * rewrite bytes; at a GDPR-cadence 1-row takedown in 1 GB files the
    * gap is the whole gigabyte. parquet comparator: the same survivor
    * rewrite as x_delete_where (parquet has no merge-on-read deletes
    * without a table format on top). Both sides end with the identical
    * verifying aggregate, which for graft also prices the row-based
    * masked-scan tax the DV trade accepts until compaction folds it.
    */
  private def deleteDvOp(spark: SparkSession, format: String, dir: String): Double = {
    // SCATTERED 0.1% takedown over a TEXT-carrying table — every file
    // holds victims, so any rewrite-based delete (parquet's only option)
    // moves the whole table's bytes while the mask writes one tiny bitmap
    // per file. The band-shaped selective delete is x_delete_where's
    // story; this op prices the complementary GDPR shape.
    val pred = col("doc_id") % 1000 === 7
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val stage = s"/tmp/graft_bench_maint/deldv_${format}_${key(dir)}"
    rm(stage)
    def survivorAgg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      val t0 = System.nanoTime()
      graft.spark.GraftMaintenance.deleteWhereDv(spark, stage, pred)
      survivorAgg(spark.read.format("graft").load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      val rw = s"${stage}_rw"
      rm(rw)
      val t0 = System.nanoTime()
      spark.read.parquet(stage)
        .filter(!pred)
        .write.mode("overwrite").parquet(rw)
      survivorAgg(spark.read.parquet(rw))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** In-place row-level UPDATE (PII-redaction shape): mask two columns of
    * a narrow doc_id band. graft: GraftMaintenance.updateWhere — only the
    * files holding matches rewrite. parquet: the conventional route, full
    * read + CASE projection + whole-table rewrite (parquet files are
    * immutable and carry no rewrite machinery, so a redaction pass pays a
    * complete copy regardless of selectivity). Both sides end with the
    * same verifying aggregate over the post-update table.
    */
  private def updateWhereOp(spark: SparkSession, format: String, dir: String): Double = {
    val (lo0, hi0) = docBounds(spark, dir)
    val lo = lo0 + (hi0 - lo0) * 49 / 100
    val hi = lo0 + (hi0 - lo0) * 51 / 100
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val stage = s"/tmp/graft_bench_maint/upd_${format}_${key(dir)}"
    rm(stage)
    def redactedAgg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          count(when(col("source") === "redacted", 1)).as("masked"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      val t0 = System.nanoTime()
      graft.spark.GraftMaintenance.updateWhere(spark, stage,
        col("doc_id").between(lo, hi),
        Map("source" -> lit("redacted"), "n_chars" -> (col("n_chars") % 100)))
      redactedAgg(spark.read.format("graft").load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      val rw = s"${stage}_rw"
      rm(rw)
      val t0 = System.nanoTime()
      val p = col("doc_id").between(lo, hi)
      spark.read.parquet(stage)
        .withColumn("source", when(p, lit("redacted")).otherwise(col("source")))
        .withColumn("n_chars", when(p, col("n_chars") % 100).otherwise(col("n_chars")))
        .write.mode("overwrite").parquet(rw)
      redactedAgg(spark.read.parquet(rw))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** CDC upsert: a batch of changed + new docs merged by key. graft:
    * GraftMaintenance.mergeInto — probe, rewrite only the files holding
    * matches, append the new rows. parquet: the conventional route — full
    * table left-anti/join reconstruction and a whole-table rewrite (no
    * in-place machinery exists), the pass every parquet CDC pipeline pays
    * per batch regardless of how few rows changed. Both sides end with
    * the same verifying aggregate.
    */
  private def mergeUpsertOp(spark: SparkSession, format: String, dir: String): Double = {
    val (lo0, hi0) = docBounds(spark, dir)
    val lo = lo0 + (hi0 - lo0) * 49 / 100
    val hi = lo0 + (hi0 - lo0) * 51 / 100
    val src = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    // the CDC batch: the 2% band re-valued, plus the same band's ids
    // shifted beyond the domain as brand-new rows
    def batch(of: DataFrame): DataFrame =
      of.filter(col("doc_id").between(lo, hi))
        .select(col("doc_id"), col("lang"), lit("upserted").as("source"),
          (col("n_chars") % 100).as("n_chars"))
        .unionAll(of.filter(col("doc_id").between(lo, hi))
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
            lit("fresh").as("source"), (col("doc_id") % 31).as("n_chars")))
    val stage = s"/tmp/graft_bench_maint/mrg_${format}_${key(dir)}"
    rm(stage)
    def agg(df: DataFrame): Unit =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          count(when(col("source") === "upserted" || col("source") === "fresh", 1)).as("touched"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      src.write.format("graft").mode("overwrite").save(stage)
      val t0 = System.nanoTime()
      graft.spark.GraftMaintenance.mergeInto(spark, stage, batch(src),
        Seq("doc_id" -> "doc_id"),
        Map("source" -> col(graft.spark.GraftMaintenance.SrcPrefix + "source"),
          "n_chars" -> col(graft.spark.GraftMaintenance.SrcPrefix + "n_chars")),
        Some(Map("doc_id" -> col("doc_id"), "lang" -> col("lang"),
          "source" -> col("source"), "n_chars" -> col("n_chars"))))
      agg(spark.read.format("graft").load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      src.write.mode("overwrite").parquet(stage)
      val rw = s"${stage}_rw"
      rm(rw)
      val t0 = System.nanoTime()
      val tgt = spark.read.parquet(stage)
      val b = batch(src)
      val updated = tgt.join(b.select(col("doc_id").as("bid"), col("source").as("bsrc"),
          col("n_chars").as("bnc")), col("doc_id") === col("bid"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("bsrc"), col("source")).as("source"),
          coalesce(col("bnc"), col("n_chars")).as("n_chars"))
      val inserts = b.join(tgt.select(col("doc_id").as("tid")),
          col("doc_id") === col("tid"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      updated.unionAll(inserts).write.mode("overwrite").parquet(rw)
      agg(spark.read.parquet(rw))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Re-cluster orders for 2-d pruning, then run the 2-d range probe the
    * layout exists to serve. graft: in-place zorder re-layout. parquet:
    * sort-and-rewrite on the same two columns (the lexicographic layout a
    * parquet shop would maintain).
    *
    * min-of-5 of the single op (the x_ndv_stats / x_compact_partition
    * treatment, applied r19): the relayout is ~1 s on both sides, where
    * one-shot timing reports driver scheduling noise — this entry read
    * 0.87x (r18 base) then 1.20x/1.33x (r19 runs under load 13.9) with
    * no code change on either path. The op mutates the staged table, so
    * each rep re-stages fresh (untimed).
    */
  private def zorderOp(spark: SparkSession, format: String, dir: String): Double = {
    val src = Tables.parquet(spark, dir, "orders")
    val stage = s"/tmp/graft_bench_maint/z_${format}_${key(dir)}"
    def probe(df: DataFrame): Unit =
      df.filter(col("o_custkey") <= 200 && col("o_totalprice") >= 50000.0)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_ok"))
        .write.mode("overwrite").format("noop").save()
    def one(): Double =
      if (format == "graft") {
        rm(stage)
        src.write.format("graft").mode("overwrite").save(stage)
        val t0 = System.nanoTime()
        graft.spark.GraftMaintenance.zorder(spark, stage,
          Seq("o_custkey", "o_totalprice"), targetFiles = 16)
        probe(spark.read.format("graft").load(stage))
        (System.nanoTime() - t0) / 1e9
      } else {
        rm(stage)
        src.write.mode("overwrite").parquet(stage)
        val rw = s"${stage}_rw"
        rm(rw)
        val t0 = System.nanoTime()
        spark.read.parquet(stage)
          .repartitionByRange(16, col("o_custkey"), col("o_totalprice"))
          .sortWithinPartitions(col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(rw)
        probe(spark.read.parquet(rw))
        (System.nanoTime() - t0) / 1e9
      }
    (0 until 5).map(_ => one()).min
  }

  /** Snapshot (as-of) read. graft: manifest-pinned `asof` scan of the
    * first of two commits. parquet: no snapshots exist, so the comparator
    * is the filter predicate that reconstructs the same row set from the
    * full table. Staging is once per (format, dir) — the op does not
    * mutate the staged table.
    */
  private def asofOp(spark: SparkSession, format: String, dir: String): Double = {
    val stage = s"/tmp/graft_bench_maint/asof_${format}_${key(dir)}"
    val marker = new java.io.File(s"$stage/_BENCH_ASOF_T1")
    def agg(df: DataFrame): Unit =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    if (format == "graft") {
      if (!marker.exists()) {
        rm(stage)
        val d = Tables.parquet(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        d.filter(col("doc_id") % 2 === 0)
          .write.format("graft").mode("append").save(stage)
        val fs = new org.apache.hadoop.fs.Path(stage)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(stage))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5)
        d.filter(col("doc_id") % 2 === 1)
          .write.format("graft").mode("append").save(stage)
        java.nio.file.Files.writeString(marker.toPath, t1.toString)
      }
      val t1 = java.nio.file.Files.readString(marker.toPath).trim
      val t0 = System.nanoTime()
      agg(spark.read.format("graft").option("asof", t1).load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
        rm(stage)
        Tables.parquet(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(stage)
      }
      val t0 = System.nanoTime()
      agg(spark.read.parquet(stage).filter(col("doc_id") % 2 === 0))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Incremental ("what arrived since my last run") read. graft: a
    * `since`-window scan off manifest history touches only the files of
    * the last commit — the daily-pipeline change scan. parquet: no commit
    * history exists, so the comparator is the full-scan + filter a
    * parquet pipeline runs to reconstruct the same delta (mirrors the
    * asof comparator). Staged once as 4 equal commits; the timed region
    * reads the last one.
    */
  private def incrementalOp(spark: SparkSession, format: String, dir: String): Double = {
    val stage = s"/tmp/graft_bench_maint/inc_${format}_${key(dir)}"
    val marker = new java.io.File(s"$stage/_BENCH_INC_T3")
    def agg(df: DataFrame): Unit =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .write.mode("overwrite").format("noop").save()
    val d = Tables.parquet(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    if (format == "graft") {
      if (!marker.exists()) {
        rm(stage)
        var t3 = 0L
        (0 until 4).foreach { c =>
          d.filter(col("doc_id") % 4 === c)
            .write.format("graft").mode("append").save(stage)
          val fs = new org.apache.hadoop.fs.Path(stage)
            .getFileSystem(spark.sessionState.newHadoopConf())
          val t = graft.spark.GraftManifest
            .list(fs, new org.apache.hadoop.fs.Path(stage))
            .map(graft.spark.GraftManifest.nameT).max
          if (c == 2) { t3 = t; Thread.sleep(5) }
        }
        java.nio.file.Files.writeString(marker.toPath, t3.toString)
      }
      val t3 = java.nio.file.Files.readString(marker.toPath).trim
      val t0 = System.nanoTime()
      agg(spark.read.format("graft").option("since", t3).load(stage))
      (System.nanoTime() - t0) / 1e9
    } else {
      if (!new java.io.File(s"$stage/_SUCCESS").exists()) {
        rm(stage)
        d.write.mode("overwrite").parquet(stage)
      }
      val t0 = System.nanoTime()
      agg(spark.read.parquet(stage).filter(col("doc_id") % 4 === 3))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Co-partitioned join. Both formats get the IDENTICAL on-disk layout
    * (hive-partitioned by k=doc_id%32); graft additionally reports
    * KeyGroupedPartitioning under v2 bucketing, so its join runs with no
    * shuffle — the entry tracks what the storage-partitioned-join surface
    * is worth against the same join shuffled. The conf flips on only for
    * the graft-side timed region (parquet's FileFormat path ignores it).
    */
  private def spjJoinOp(spark: SparkSession, format: String, dir: String): Double = {
    val stage = s"/tmp/graft_bench_maint/spj_${format}_${key(dir)}"
    val done = new java.io.File(s"$stage/_BENCH_SPJ_DONE")
    val d = Tables.parquet(spark, dir, "documents")
      .select((col("doc_id") % 32).cast("int").as("k"), col("doc_id"), col("n_chars"))
    if (!done.exists()) {
      rm(stage)
      val stats = d.groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
      if (format == "graft") {
        d.write.format("graft").option("partitionby", "k")
          .mode("overwrite").save(s"$stage/a")
        stats.write.format("graft").option("partitionby", "k")
          .mode("overwrite").save(s"$stage/b")
      } else {
        d.write.partitionBy("k").parquet(s"$stage/a")
        stats.write.partitionBy("k").parquet(s"$stage/b")
      }
      done.createNewFile()
    }
    def load(sub: String): DataFrame =
      if (format == "graft") spark.read.format("graft").load(s"$stage/$sub")
      else spark.read.parquet(s"$stage/$sub")
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", format == "graft")
    try {
      val t0 = System.nanoTime()
      load("a").join(load("b"), "k")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
          max(col("total_chars")).as("tc"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  /** Bounded-catchup throughput of the streaming source over the amplified
    * corpus: a fresh stream admitted `maxfilespertrigger` files per batch
    * drains the whole directory; report files/sec and batch count.
    *
    * SELF-BASELINED (round-19): the same drain runs over Spark's parquet
    * file-stream source on the identical amplified corpus, interleaved
    * g,p,g,p — the bench's designed contamination defense, applied here
    * after two rounds where the absolute number's spread tracked host
    * load, not the source (r18 driver runs [4.99, 14.24] WITH the warmup
    * fix, local runs 1.08-1.21x). A noisy host now moves both sides and
    * the fps ratio stays readable; one extra pair is spent when either
    * side's spread is >=1.5x. Both sides' runs + load context ship.
    */
  def streamCatchup(spark: SparkSession, ampDir: String): String = {
    val gdir = Tables.graftDir(spark, ampDir, "documents")
    val schema = spark.read.format("graft").load(gdir).schema
    val conf = spark.sessionState.newHadoopConf()
    val dataFiles = graft.spark.GraftUtil.listDataFiles(gdir, conf)
    val nFiles = dataFiles.size
    val nBytes = dataFiles.map(_.getLen).sum
    val pdir = s"$ampDir/documents.parquet"
    val pStats = {
      val p = new org.apache.hadoop.fs.Path(pdir)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    }
    val pFiles = pStats.length
    val pBytes = pStats.map(_.getLen).sum
    val pSchema = spark.read.parquet(pdir).schema
    def loadNow(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    def once(fmt: String, name: String, perTrigger: Int): (Double, Long) = {
      spark.streams.active.filter(q => q.name == name).foreach(_.stop())
      val t0 = System.nanoTime()
      // graft manifest=false: the staged conversion is ONE commit, and
      // manifest mode admits whole manifests — per-FILE admission (listing
      // mode) is the catch-up granularity this entry tracks; parquet's
      // file-stream source is per-file-admitted by construction
      val reader =
        if (fmt == "graft")
          spark.readStream.format("graft").schema(schema)
            .option("manifest", "false")
            .option("maxfilespertrigger", perTrigger.toString).load(gdir)
        else
          spark.readStream.format("parquet").schema(pSchema)
            .option("maxFilesPerTrigger", perTrigger.toString).load(pdir)
      val q = reader
        .groupBy(col("lang")).agg(count(lit(1)).as("docs"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // recentProgress, not lastProgress: the final progress event can lag
      // processAllAvailable, under-reporting the batch count
      val batches =
        if (q.recentProgress.isEmpty) -1L else q.recentProgress.map(_.batchId).max + 1
      (sec, batches)
    }
    // WARMUP (untimed), once per format: the first streaming query in a
    // JVM pays state-store init + streaming codegen — a single-batch drain
    // of the same pipeline absorbs it for both sides
    once("graft", "graft_stream_warm", nFiles.max(1))
    once("parquet", "parquet_stream_warm", pFiles.max(1))
    val g = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    val p = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    var load = -1.0
    def pair(): Unit = {
      g += once("graft", "graft_bench_stream_catchup", 4)
      p += once("parquet", "parquet_bench_stream_catchup", 4)
      load = math.max(load, loadNow())
    }
    pair(); pair()
    def spread(xs: Seq[(Double, Long)]): Double = {
      val s = xs.map(_._1); s.max / s.min
    }
    if (math.max(spread(g.toSeq), spread(p.toSeq)) >= 1.5) pair()
    val (gSec, gBatches) = g.minBy(_._1)
    val (pSec, _) = p.minBy(_._1)
    def runsJson(xs: Seq[(Double, Long)]): String =
      xs.map(x => f"${x._1}%.3f").mkString("[", ",", "]")
    val gFps = nFiles / gSec
    val pFps = pFiles / pSec
    f"""{"files":$nFiles,"bytes":$nBytes,"batches":$gBatches,"sec":$gSec%.3f,""" +
      f""""runs":${runsJson(g.toSeq)},"files_per_sec":$gFps%.2f,""" +
      f""""parquet":{"files":$pFiles,"bytes":$pBytes,"sec":$pSec%.3f,""" +
      f""""runs":${runsJson(p.toSeq)},"files_per_sec":$pFps%.2f},""" +
      f""""fps_ratio":${pFps / gFps}%.3f,"load":$load%.1f}"""
  }

  // ------------------------------------------------ at-scale CDC section

  /** Deterministic amplification of the documents corpus to >= targetRows
    * with a disjoint doc_id domain per copy. Returns (frame, domain end)
    * so band predicates can be sized against the amplified key space.
    */
  private def ampedDocs(spark: SparkSession, dir: String, targetRows: Long,
      withText: Boolean): (DataFrame, Long) = {
    val base = Tables.parquet(spark, dir, "documents")
    val cols =
      if (withText) Seq("doc_id", "lang", "n_chars", "text")
      else Seq("doc_id", "lang", "source", "n_chars")
    val n = math.max(1L, base.count())
    val f = math.max(1L, (targetRows + n - 1) / n)
    val dMax = base.agg(max(col("doc_id"))).first().getLong(0) + 1
    val amp = base.select(cols.map(col): _*)
      .withColumn("c", explode(expr(s"sequence(0L, ${f - 1}L)")))
      .withColumn("doc_id", col("doc_id") + col("c") * dMax)
      .drop("c")
    (amp, dMax * f)
  }

  /** Stage `df` ONCE (marker-gated, survives across bench invocations) as a
    * 64-file doc_id-range-partitioned table — the layout a real ingest
    * table maintains, and what makes a 2% key band live in 1-2 files. */
  private def stagePristine(df: => DataFrame, format: String, pristine: String): Unit = {
    val marker = new java.io.File(s"$pristine/_MAINT_STAGED")
    if (marker.exists()) return
    rm(pristine)
    val arranged = df.repartitionByRange(64, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    if (format == "graft")
      arranged.write.format("graft").mode("overwrite").save(pristine)
    else arranged.write.mode("overwrite").parquet(pristine)
    marker.createNewFile()
  }

  /** Fresh mutable copy of a pristine staging (file-level local copy —
    * seconds, where a 5M-row Spark re-write per run would dominate). */
  private def mutableCopy(pristine: String): String = {
    val stage = pristine + "_run"
    rm(stage)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(pristine), new java.io.File(stage))
    new java.io.File(s"$stage/_MAINT_STAGED").delete()
    stage
  }

  /** One-off AT-SCALE measurement of the two CDC ops the headline excludes
    * at catalog data sizes (VERDICT r13 #6): x_merge_upsert and
    * x_cdc_apply against a >=5M-row, 64-file staging, where the
    * O(changed-files) rewrite can actually beat parquet's O(table) pass
    * instead of measuring driver job-scheduling overhead. Emits one JSON
    * object (ratios + graft file-rewrite counts); staging is marker-cached
    * across invocations, each measurement runs once per format on a fresh
    * file-copied staging.
    */
  def cdcAtScale(spark: SparkSession, dir: String,
      targetRows: Long = 5000000L): String = {
    val root = s"/tmp/graft_bench_maint/atscale_${key(dir)}_$targetRows"
    val sb = new StringBuilder("{")

    // ---- x_merge_upsert at scale ----
    locally {
      val (amp, domEnd) = ampedDocs(spark, dir, targetRows, withText = false)
      val lo = domEnd * 49 / 100
      val hi = domEnd * 51 / 100
      // the CDC batch is PRE-STAGED parquet, read identically by both
      // formats' timed regions: a real merge's batch already exists when
      // the merge starts — deriving it by scanning the 5M-row target
      // inside the timed region was measuring batch construction, not the
      // apply path
      val batchDir = s"$root/mrg_batch"
      if (!new java.io.File(s"$batchDir/_SUCCESS").exists()) {
        rm(batchDir)
        amp.filter(col("doc_id").between(lo, hi))
          .select(col("doc_id"), col("lang"), lit("upserted").as("source"),
            (col("n_chars") % 100).as("n_chars"))
          .unionAll(amp.filter(col("doc_id").between(lo, hi))
            .select((col("doc_id") + 100000000000L).as("doc_id"), col("lang"),
              lit("fresh").as("source"), (col("doc_id") % 31).as("n_chars")))
          .coalesce(4).write.mode("overwrite").parquet(batchDir)
      }
      def batch: DataFrame = spark.read.parquet(batchDir)
      def agg(df: DataFrame): Unit =
        df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
            count(when(col("source") === "upserted" || col("source") === "fresh", 1))
              .as("touched"))
          .write.mode("overwrite").format("noop").save()
      // graft: probe + file-scoped rewrites + one appended commit
      val gPristine = s"$root/mrg_graft"
      stagePristine(amp, "graft", gPristine)
      val pPristine = s"$root/mrg_parquet"
      stagePristine(amp, "parquet", pPristine)
      var lastStats: graft.spark.GraftMaintenance.MergeStats = null
      def graftRun(): Double = {
        val gStage = mutableCopy(gPristine)
        val gBatch = batch
        val gT0 = System.nanoTime()
        lastStats = graft.spark.GraftMaintenance.mergeInto(spark, gStage, gBatch,
          Seq("doc_id" -> "doc_id"),
          Map("source" -> col(graft.spark.GraftMaintenance.SrcPrefix + "source"),
            "n_chars" -> col(graft.spark.GraftMaintenance.SrcPrefix + "n_chars")),
          Some(Map("doc_id" -> col("doc_id"), "lang" -> col("lang"),
            "source" -> col("source"), "n_chars" -> col("n_chars"))))
        agg(spark.read.format("graft").load(gStage))
        (System.nanoTime() - gT0) / 1e9
      }
      def parquetRun(): Double = {
        val rw = s"$pPristine.rw"
        rm(rw)
        val pT0 = System.nanoTime()
        val tgt = spark.read.parquet(pPristine)
        val b = batch
        val updated = tgt.join(b.select(col("doc_id").as("bid"), col("source").as("bsrc"),
            col("n_chars").as("bnc")), col("doc_id") === col("bid"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("bsrc"), col("source")).as("source"),
            coalesce(col("bnc"), col("n_chars")).as("n_chars"))
        val inserts = b.join(tgt.select(col("doc_id").as("tid")),
            col("doc_id") === col("tid"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        updated.unionAll(inserts).write.mode("overwrite").parquet(rw)
        agg(spark.read.parquet(rw))
        (System.nanoTime() - pT0) / 1e9
      }
      // min of 2 interleaved runs: page-cache warmth and host steal swung
      // single runs by >5x during development — a one-shot number here
      // would be noise wearing a ratio's clothes
      val g1 = graftRun(); val p1 = parquetRun()
      val g2 = graftRun(); val p2 = parquetRun()
      val gSec = math.min(g1, g2)
      val pSecMin = math.min(p1, p2)
      val st = lastStats
      System.err.println(f"[bench] x_merge_upsert@${targetRows} graft=$gSec%.1fs " +
        f"(rewrote ${st.filesRewritten}/${st.filesRewritten + st.filesUntouched} files) " +
        f"parquet=$pSecMin%.1fs ratio=${gSec / pSecMin}%.2f")
      sb.append(f""""x_merge_upsert":{"rows":$targetRows,"g":$gSec%.3f,"p":$pSecMin%.3f,""" +
        f""""ratio":${gSec / pSecMin}%.3f,"rewritten":${st.filesRewritten},""" +
        f""""files":${st.filesRewritten + st.filesUntouched}}""")

      // ---- x_merge_dv: the SAME upsert through merge-on-read mode ----
      // matched rows mask via DV sidecars + one tagged append instead of
      // file rewrites; same batch, same pristine staging, same verifying
      // aggregate (which also prices the masked-scan tax the trade
      // accepts until compaction folds the masks)
      var dvStats: graft.spark.GraftMaintenance.MergeStats = null
      def dvRun(): Double = {
        val gStage = mutableCopy(gPristine)
        val gBatch = batch
        val gT0 = System.nanoTime()
        dvStats = graft.spark.GraftMaintenance.mergeApply(spark, gStage, gBatch,
          Seq("doc_id" -> "doc_id"),
          matched = Seq(graft.spark.GraftMaintenance.MergeClause(None,
            Some(Map("source" -> col(graft.spark.GraftMaintenance.SrcPrefix + "source"),
              "n_chars" -> col(graft.spark.GraftMaintenance.SrcPrefix + "n_chars"))))),
          notMatchedInsert = Seq(graft.spark.GraftMaintenance.MergeClause(None,
            Some(Map("doc_id" -> col("doc_id"), "lang" -> col("lang"),
              "source" -> col("source"), "n_chars" -> col("n_chars"))))),
          dvMode = true)
        agg(spark.read.format("graft").load(gStage))
        (System.nanoTime() - gT0) / 1e9
      }
      val dvSec = math.min(dvRun(), dvRun())
      System.err.println(f"[bench] x_merge_dv@${targetRows} dv=$dvSec%.1fs " +
        f"(touched ${dvStats.rowsUpdated} rows, 0 rewrites) " +
        f"vs cow=$gSec%.1fs parquet=$pSecMin%.1fs ratio=${dvSec / pSecMin}%.2f")
      sb.append(f""","x_merge_dv":{"rows":$targetRows,"dv":$dvSec%.3f,""" +
        f""""cow":$gSec%.3f,"p":$pSecMin%.3f,"ratio_dv":${dvSec / pSecMin}%.3f,""" +
        f""""ratio_cow":${gSec / pSecMin}%.3f}""")
    }

    // ---- x_cdc_apply at scale ----
    locally {
      // 4x the merge staging (20M rows): the apply path is O(changed) with ~1s of
      // fixed driver-job latency (probe, merge-delete materialize, append
      // — each a short job), while parquet's comparator re-derives the
      // WHOLE table. At 5M rows the fixed costs were the measurement
      // (r14 shipped 1.16x); at 20M the linear-vs-constant gap dominates
      // and the artifact shows the design.
      val cdcRows = targetRows * 4
      val (amp, domEnd) = ampedDocs(spark, dir, cdcRows, withText = true)
      val lo = domEnd * 49 / 100
      val hi = domEnd * 50 / 100 // ~1% takedown band
      // the incremental shape the feed exists for: the base commit holds
      // ~98% of the corpus, ONE ingest batch appends the other 2%, the
      // takedown purges a ~1% band — the change window is a few percent of
      // the table. (The old staging appended a third of the corpus, so the
      // "incremental" pass was moving 1/3 of the bytes — measuring bulk
      // copy, not the feed's O(changed) promise.)
      val isBatch = col("doc_id") % 50 === 0
      val derive = (df: DataFrame) => df.filter(col("n_chars") % 2 === 0)
      def agg(df: DataFrame): Unit =
        df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
          .write.mode("overwrite").format("noop").save()
      // graft staging: base commit + derived bootstrap + append + takedown
      // (all marker-gated — the expensive part; only dst mutates per run)
      val gSrc = s"$root/cdc${cdcRows}_src_graft"
      val gDstP = s"$root/cdc${cdcRows}_dst_graft"
      val t1File = new java.io.File(s"$gSrc/_MAINT_T1")
      if (!t1File.exists()) {
        rm(gSrc); rm(gDstP)
        val arranged = amp.repartitionByRange(64, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
        arranged.filter(!isBatch)
          .write.format("graft").mode("append").save(gSrc)
        derive(spark.read.format("graft").load(gSrc))
          .write.format("graft").mode("append").save(gDstP)
        new java.io.File(s"$gDstP/_MAINT_STAGED").createNewFile()
        val fs = new org.apache.hadoop.fs.Path(gSrc)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val t1 = graft.spark.GraftManifest
          .list(fs, new org.apache.hadoop.fs.Path(gSrc))
          .map(graft.spark.GraftManifest.nameT).max
        Thread.sleep(5)
        arranged.filter(isBatch)
          .write.format("graft").mode("append").save(gSrc)
        graft.spark.GraftMaintenance.deleteWhere(spark, gSrc,
          col("doc_id").between(lo, hi) && !isBatch,
          changelog = true)
        java.nio.file.Files.writeString(t1File.toPath, t1.toString)
      }
      val t1 = java.nio.file.Files.readString(t1File.toPath).trim.toLong
      val pSrc = s"$root/cdc${cdcRows}_src_parquet"
      stagePristine(
        amp.filter(!(col("doc_id").between(lo, hi) && !isBatch)),
        "parquet", pSrc)
      def graftRun(): Double = {
        val gDst = mutableCopy(gDstP)
        val gT0 = System.nanoTime()
        graft.spark.GraftCdc.applyChangesBetween(spark, gSrc, t1, Long.MaxValue,
          gDst, "doc_id", derive)
        agg(spark.read.format("graft").load(gDst))
        (System.nanoTime() - gT0) / 1e9
      }
      // parquet: the full re-derive every feed-less pipeline pays per batch
      def parquetRun(): Double = {
        val pDst = s"$root/cdc${cdcRows}_dst_parquet"
        rm(pDst)
        val pT0 = System.nanoTime()
        derive(spark.read.parquet(pSrc)).write.mode("overwrite").parquet(pDst)
        agg(spark.read.parquet(pDst))
        (System.nanoTime() - pT0) / 1e9
      }
      // untimed warmup pass first: the r14 driver artifact measured
      // cold-JVM classloading/codegen (0.98s vs 0.41-0.73 warm local) —
      // the headline sections warm the same way
      graftRun(); parquetRun()
      val g1 = graftRun(); val p1 = parquetRun()
      val g2 = graftRun(); val p2 = parquetRun()
      val g3 = graftRun(); val p3 = parquetRun()
      val gSec = math.min(math.min(g1, g2), g3)
      val pSec = math.min(math.min(p1, p2), p3)
      System.err.println(f"[bench] x_cdc_apply@${cdcRows} graft=$gSec%.1fs " +
        f"parquet=$pSec%.1fs ratio=${gSec / pSec}%.2f")
      sb.append(f""","x_cdc_apply":{"rows":$cdcRows,"g":$gSec%.3f,"p":$pSec%.3f,""" +
        f""""ratio":${gSec / pSec}%.3f}""")
    }
    // ---- x_delete_dv at scale: mask vs rewrite vs parquet on 5M/64 ----
    // the rewrite-amplification claim measured in its OWN shape: a
    // SCATTERED 0.1% takedown (doc_id % 1000 = 7) over a TEXT-carrying
    // table touches every one of the 64 files, so copy-on-write (and
    // parquet) must rewrite the whole table's bytes while the mask writes
    // 64 tiny bitmaps — the GDPR cadence where deletion vectors exist. A
    // band delete on a range-partitioned table is the shape the CoW pass
    // already wins (x_delete_where); this measures the one it loses.
    locally {
      val (amp, _) = ampedDocs(spark, dir, targetRows, withText = true)
      val pred = col("doc_id") % 1000 === 7
      val gPristine = s"$root/dv_graft"
      stagePristine(amp, "graft", gPristine)
      val pPristine = s"$root/dv_parquet"
      stagePristine(amp, "parquet", pPristine)
      def agg(df: DataFrame): Unit =
        df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
          .write.mode("overwrite").format("noop").save()
      def dvRun(): Double = {
        val st = mutableCopy(gPristine)
        val t0 = System.nanoTime()
        graft.spark.GraftMaintenance.deleteWhereDv(spark, st, pred)
        agg(spark.read.format("graft").load(st))
        (System.nanoTime() - t0) / 1e9
      }
      def cowRun(): Double = {
        val st = mutableCopy(gPristine)
        val t0 = System.nanoTime()
        graft.spark.GraftMaintenance.deleteWhere(spark, st, pred)
        agg(spark.read.format("graft").load(st))
        (System.nanoTime() - t0) / 1e9
      }
      def pqRun(): Double = {
        val rw = s"$pPristine.delrw"
        rm(rw)
        val t0 = System.nanoTime()
        spark.read.parquet(pPristine)
          .filter(!pred)
          .write.mode("overwrite").parquet(rw)
        agg(spark.read.parquet(rw))
        (System.nanoTime() - t0) / 1e9
      }
      dvRun(); cowRun(); pqRun() // warmup
      val dv = math.min(dvRun(), dvRun())
      val cow = math.min(cowRun(), cowRun())
      val pq = math.min(pqRun(), pqRun())
      System.err.println(f"[bench] x_delete_dv@$targetRows dv=$dv%.2fs " +
        f"cow=$cow%.2fs parquet=$pq%.2fs dv/p=${dv / pq}%.2f cow/p=${cow / pq}%.2f")
      sb.append(f""","x_delete_dv":{"rows":$targetRows,"dv":$dv%.3f,""" +
        f""""cow":$cow%.3f,"p":$pq%.3f,"ratio_dv":${dv / pq}%.3f,""" +
        f""""ratio_cow":${cow / pq}%.3f}""")
    }
    sb.append("}").toString
  }
}
