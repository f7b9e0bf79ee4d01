package graft.spark

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Table maintenance for graft directories — the OPTIMIZE-style passes a
  * long-lived 100 TB ingest table needs. (The reference is a file-format
  * library; file-set lifecycle is the caller's concern there, so this layer
  * is ours.)
  */
object GraftMaintenance extends Logging {
  /** Test seam: a dv-mode merge throws after its tagged append lands and
    * BEFORE the masks publish — exactly the crash window where old and
    * new versions are both visible and the resume must converge. */
  @volatile private[spark] var dvMergeCrashAfterAppend: Boolean = false


  /** Result of a compaction: file counts and bytes before/after. */
  final case class CompactStats(filesBefore: Int, bytesBefore: Long,
      filesAfter: Int, bytesAfter: Long, rows: Long)

  /** Compact a graft table's small files into `targetFiles` files, in
    * place. Safety model: the rewrite is an APPEND (tasks stage `.tmp`
    * files, invisible to readers; job commit renames them in atomically),
    * and afterwards compact deletes exactly the file-set SNAPSHOT it
    * captured before the rewrite — never a commit-time listing. A file
    * appended by another writer after the snapshot is therefore never
    * deleted: its rows survive compaction (if the rewrite's scan happened
    * to pick it up too, they appear twice — duplicates, recoverable by
    * re-compacting, never silent loss). Concurrent readers planned on the
    * old file set keep reading files that still exist until the final
    * delete; a crash mid-delete leaves old+new visible (duplicates,
    * recoverable) rather than data loss. Fully concurrent writers remain
    * otherwise unsupported (two simultaneous write jobs race on `.tmp`
    * staging sweeps — a visible job failure, not loss). Streaming note:
    * like any rewrite, a stream checkpointed over the old files should
    * restart; manifests present at the snapshot are retired with the
    * snapshot's data files.
    *
    * `extraWriteOptions` pass through to the writer (e.g. a `sortby`
    * re-layout or `bloomfilter` columns can be (re)applied during the
    * rewrite — compaction is the natural moment to impose layout).
    */
  def compact(spark: SparkSession, dir: String, targetFiles: Int,
      extraWriteOptions: Map[String, String] = Map.empty): CompactStats =
    compactImpl(spark, dir, targetFiles, extraWriteOptions, () => ())

  /** What [[analyzeTable]] did: how many files the table holds, how many
    * lacked a declared per-page stat, and how many this run rewrote. */
  final case class AnalyzeStats(files: Int, missing: Int, rewritten: Int,
      bloomCols: Int, ndvCols: Int)

  /** Backfill the table's DECLARED per-page stats (TBLPROPERTIES
    * 'graft.bloomfilter' / 'graft.ndvsketch', or the matching write
    * options recorded in the sidecar) onto files that predate the
    * declaration. Files are immutable, so the DDL alone only reaches
    * FUTURE writes — this is the CALL that closes the gap for existing
    * data. Cost is the 100 TB-correct shape: one footer tail-read per
    * file decides membership (no data pages), and only the files MISSING
    * a declared stat are rewritten (identity, per-file, concurrent,
    * crash-resumable via the `-anz<hash>` convergence marker — the same
    * machinery as deleteWhere's survivors). Re-running is a footer-only
    * no-op; changing the declaration changes the marker hash, so the new
    * intent re-analyzes exactly the files that need it.
    */
  def analyzeTable(spark: SparkSession, dir: String): AnalyzeStats =
    locked(spark, dir, "analyze") {
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val files = GraftUtil.listDataFiles(dir, conf)
      require(files.nonEmpty, s"graft: nothing to analyze under $dir")
      val sidecarJson = GraftCatalog.sidecarJsonAt(fs, tableDir)
      val (declBloom0, declNdv0) = sidecarJson
        .map(GraftCatalog.parseWriteProps).getOrElse((Seq.empty, Seq.empty))
      val schema = spark.read.format("graft").load(dir).schema
      val declBloom = declBloom0.filter(p =>
        GraftSchema.leafIndexOfPath(schema, p).isDefined)
      val declNdv = declNdv0.filter(schema.fieldNames.contains)
      require(declBloom.nonEmpty || declNdv.nonEmpty,
        s"graft: $dir declares no per-page stats to backfill — set " +
          "TBLPROPERTIES ('graft.bloomfilter'=..., 'graft.ndvsketch'=...) " +
          "first (graft_analyze materializes the declaration onto old files)")
      // footer-only membership probe: a file is missing when any declared
      // bloom leaf has no bloom on any page, or any declared ndv column
      // has no KMV synopsis (files that predate a declared column entirely
      // count too — the rewrite bakes in the evolved schema's nulls AND
      // their stats, same as every other maintenance rewrite)
      val missing = files.filter { f =>
        val in = new HadoopSeekableInput(fs, f.getPath, f.getLen)
        try {
          val footer = graft.format.GraftFileReader.readFooter(in)
          val fileSchema = org.apache.spark.sql.types.DataType
            .fromJson(footer.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          val bloomMissing = declBloom.exists { p =>
            GraftSchema.leafIndexOfPath(fileSchema, p) match {
              case Some(li) => !footer.leaves(li).pages.exists(_.bloom != null)
              case None => true
            }
          }
          bloomMissing || declNdv.exists { c =>
            GraftSchema.leafIndexOfPath(fileSchema, c) match {
              case Some(li) => footer.leaves(li).kmv == null
              case None => true
            }
          }
        } finally in.close()
      }
      if (missing.isEmpty) {
        // heal even when THIS pass rewrites nothing: a crash between a
        // previous pass's rewrite and its heal leaves manifests referencing
        // the retired originals, and that pass's -anz outputs already carry
        // the stats — a missing-files probe alone would never converge the
        // manifests (the same self-healing rule the delete path documents)
        healManifestsAfterRewrite(dir, conf, fs, tableDir,
          GraftManifest.list(fs, tableDir))
        AnalyzeStats(files.size, 0, 0, declBloom.size, declNdv.size)
      } else {
        // marker hash fingerprints the DECLARATION: re-declaring different
        // stats invalidates prior convergence markers
        val anzHash = {
          val md = java.security.MessageDigest.getInstance("MD5").digest(
            (declBloom.mkString(",") + "|" + declNdv.mkString(","))
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          md.take(4).map(b => f"$b%02x").mkString
        }
        // the identity rewrite reads THROUGH any deletion vector (the
        // output is clean, the DV retires with the original), so the
        // row-count guard only holds when no missing file carries one
        val dvIdents = GraftDv.list(fs, tableDir).keySet
        val anyDv = missing.exists(f =>
          dvIdents.contains(GraftDv.identOf(tableDir, f.getPath)))
        // manifest snapshot BEFORE the rewrite: the backfill retires
        // originals exactly like a delete does, so the same heal must
        // re-point their commit history at the -anz outputs — without it
        // a manifest-mode stream replay fails on the retired files and
        // since/CDC windows spanning their commits lose the rows
        val manifestSnapshot = GraftManifest.list(fs, tableDir)
        val res = rewriteMatchedFiles(spark, conf, fs, tableDir, missing, schema,
          RewriteSpec(tag = "anz", hash = anzHash, changelogOf = None,
            projectOf = identity, allowEmpty = false, sameCount = !anyDv))
        healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot)
        AnalyzeStats(files.size, missing.size, res.rewritten,
          declBloom.size, declNdv.size)
      }
    }

  /** Serialize the mutating maintenance ops per table: see
    * [[GraftTableLock]] for why two live rewrites must not interleave and
    * how crashed holders are expropriated. Re-entrant, so composed ops
    * (zorder through compact) acquire once — the crashed-swap roll-forward
    * runs only on the OUTER acquisition. */
  private def locked[T](spark: SparkSession, dir: String, op: String)(f: => T): T = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val outer = !GraftTableLock.isHeld(fs, tableDir)
    val t0 = System.nanoTime()
    GraftTableLock.withLock(fs, tableDir, conf, op) {
      phaseSince(s"lock $op", t0)
      if (outer) phase("roll-forward")(rollForwardCrashedSwaps(dir, conf, fs, tableDir))
      f
    }
  }

  /** Complete any crashed CoW swap before this op plans its snapshot. A
    * crash between a rewrite output's publish and its original's retire
    * leaves the PAIR on disk; readers stay exactly-once through the twin
    * dedup ([[GraftUtil.dedupTwins]]), but a maintenance op planning from
    * the deduped listing would rewrite/retire the twin while the invisible
    * original survived it — resurrecting the pre-op rows the moment the
    * twin was gone. Rolling FORWARD (retire the original, heal the
    * manifests — the published twin IS the committed state, identical to
    * what the crashed op's own re-run would do) restores the one-file-one-
    * name invariant every op below assumes. No-op (one listing, no
    * manifest reads) when the table is clean; serialized by the
    * maintenance lock, and live swaps also hold that lock, so any pair
    * observed here is a crash remnant, never an in-flight publish.
    *
    * Also runs at the write paths' own maintenance-lock acquisitions
    * (replaceWhere / dynamic-partition overwrite in [[GraftWrite]], CDC
    * apply in [[GraftCdc]]) — they pre-acquire the lock directly, so the
    * nested `locked` calls read as inner and would skip this. */
  private[spark] def rollForwardCrashedSwaps(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): Unit = {
    // whole-table rewrite markers first (a crashed compact/zorder): roll
    // an uncommitted rewrite back, finish a committed one's retire —
    // readers held a consistent view through the crash either way
    GraftRewriteGuard.heal(fs, tableDir, retireRel => {
      val paths = retireRel.map(r => new org.apache.hadoop.fs.Path(tableDir, r))
      GraftUtil.deleteAll(fs, paths)
      GraftDv.dropForAll(fs, tableDir, paths)
      healManifestsAfterRewrite(dir, conf, fs, tableDir,
        GraftManifest.list(fs, tableDir))
    })
    val all = GraftUtil.listDataFilesRaw(dir, conf)
    val shadowed = GraftUtil.shadowedOriginals(all)
    if (shadowed.isEmpty) return
    val manifestSnapshot = GraftManifest.list(fs, tableDir)
    shadowed.foreach(p => fs.delete(p, false))
    GraftDv.dropForAll(fs, tableDir, shadowed.toSeq)
    healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot)
    // a crashed CHANGELOG op wrote its feed pre-images before publishing
    // the output (changelog -> output -> retire), so the completed-swap
    // state this pass just restored may hold feed files no feed manifest
    // lists — adopt them exactly like the op's own re-run would, or the
    // delete events silently never reach a CDC window
    publishChangeFeed(conf, fs, tableDir)
  }

  /** Clear the whole-table sort marker under the COMMIT mutex: a
    * concurrent sorted append's read-decide-republish runs entirely
    * inside its commit section, so a clear serialized against it can
    * never be overwritten by a republish that read the marker BEFORE the
    * clear (the cross-lock resurrection: marker [k] re-certified over a
    * rewrite's not-sorted-on-k files). Callers hold the maintenance lock
    * — order maintenance → commit, same as everywhere. */
  private def clearMarkerLocked(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    GraftTableLock.withLock(fs, tableDir, conf, "marker-clear",
      GraftTableLock.CommitLockName) {
      GraftSortMarker.clear(fs, tableDir)
    }

  /** `afterRewrite` is a test seam: it runs after the rewrite commit and
    * before the snapshot delete — exactly the window a concurrent append
    * lands in, which the snapshot-scoped delete must leave untouched. */
  private[graft] def compactImpl(spark: SparkSession, dir: String, targetFiles: Int,
      extraWriteOptions: Map[String, String], afterRewrite: () => Unit,
      zSort: Option[org.apache.spark.sql.Column] = None): CompactStats =
    locked(spark, dir, "compact") {
      compactInner(spark, dir, targetFiles, extraWriteOptions, afterRewrite, zSort)
    }

  private def compactInner(spark: SparkSession, dir: String, targetFiles: Int,
      extraWriteOptions: Map[String, String], afterRewrite: () => Unit,
      zSort: Option[org.apache.spark.sql.Column] = None): CompactStats = {
    require(targetFiles >= 1, s"graft: targetFiles must be >= 1, got $targetFiles")
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val before = GraftUtil.listDataFiles(dir, conf)
    val beforeManifests = GraftManifest.list(fs, tableDir)
    require(before.nonEmpty, s"graft: nothing to compact under $dir")
    // a hive-partitioned table must come OUT of compaction with the same
    // directory layout it went in with (partition values survive in the
    // data, so the keys are recoverable from any file's subdir path) —
    // silently flattening would strip directory-level pruning from every
    // later query. An explicit partitionby in extraWriteOptions wins.
    val existingLayout = GraftUtil
      .partitionSegments(new org.apache.hadoop.fs.Path(dir), before.head.getPath)
      .map(_._1)
    // the writer resolves options case-insensitively — the explicit-wins
    // checks here must too, or an explicit "partitionBy" would be silently
    // overridden by the derived layout
    def hasOpt(key: String): Boolean =
      extraWriteOptions.keys.exists(_.equalsIgnoreCase(key))
    val opts =
      if (existingLayout.nonEmpty && !hasOpt("partitionby"))
        extraWriteOptions + ("partitionby" -> existingLayout.mkString(","))
      else extraWriteOptions
    val effLayout = opts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("partitionby") =>
        v.split(",").map(_.trim).toSeq
    }.getOrElse(Seq.empty)
    // SNAPSHOT-EXACT scan (r19): the rewrite reads exactly the file set
    // the retire phase deletes. The previous dir-listing read planned its
    // own listing at job time, so an append landing between the snapshot
    // and the scan plan could be REWRITTEN but not retired — its rows
    // then existed twice (the old "duplicates, recoverable" window, which
    // the concurrency fuzz caught racing compact against appends). Now a
    // concurrent append is never read, never retired, only preserved.
    val df = spark.read.format("graft")
      .option("snapshotfiles", before.map(_.getPath.toString).mkString("\n"))
      .load(dir)
    // footer-direct count (same trick as deleteWhere) — no Spark job
    val rows = {
      val c = GraftScan.rowCount(before, conf)
      if (c.isPresent) c.getAsLong else df.count()
    }
    // a hive-partitioned rewrite must CLUSTER rows by the partition
    // columns: the writer emits one file per (task, partition value), so
    // a round-robin repartition would spread every value across every
    // task — up to targetFiles x #values output files, a "compaction"
    // that multiplies the file count. Hash-clustering keeps each value in
    // one task -> one file per value; a z-order sort then applies WITHIN
    // each value (range-partitioning on z only when there is no layout).
    // With neither and ONE output file, rows need no placement: every
    // scan partition coalesces into the one write task without an
    // exchange. For more output files the round-robin repartition stays,
    // because coalesce groups scan partitions by count, not bytes, and
    // would give uneven files.
    import org.apache.spark.sql.functions.col
    val arranged = (effLayout, zSort) match {
      case (Seq(), None) if targetFiles == 1 => df.coalesce(1)
      case (Seq(), None) => df.repartition(targetFiles)
      case (Seq(), Some(z)) =>
        df.withColumn("__graft_z", z)
          .repartitionByRange(targetFiles, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
      case (pcols, None) => df.repartition(targetFiles, pcols.map(col): _*)
      case (pcols, Some(z)) =>
        df.withColumn("__graft_z", z)
          .repartition(targetFiles, pcols.map(col): _*)
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
    }
    // READER-ATOMIC swap (GraftRewriteGuard): p1 hides the tagged output
    // until the old snapshot is complete-and-intact behind it, p2 carries
    // the retire list, and deleting p1 flips every reader from the old
    // snapshot to the new one in one metadata op — a reader can no longer
    // see old+new (duplicated rows) between the output commit and the
    // retire below. Markers roll back if the rewrite itself fails.
    val opTag = s"cmp${java.util.UUID.randomUUID().toString.take(8)}"
    val beforeRel = {
      val base = fs.makeQualified(tableDir).toString
      before.map { f =>
        val q = fs.makeQualified(f.getPath).toString
        if (q.startsWith(base + "/")) q.substring(base.length + 1)
        else f.getPath.getName
      }
    }
    GraftRewriteGuard.publishP1(fs, tableDir, opTag)
    GraftRewriteGuard.publishP2(fs, tableDir, beforeRel)
    try phase("rewrite") {
      val writer = arranged.write.format("graft").mode("append")
      opts.foldLeft(writer) { case (w, (k, v)) => w.option(k, v) }
        .option("manifesttag", opTag)
        .save(dir)
    } catch { case t: Throwable =>
      // p2 first: a p1-less instant with p2 standing would hide the whole
      // old snapshot (an empty table) from readers
      GraftRewriteGuard.clear(fs, tableDir)
      GraftRewriteGuard.flip(fs, tableDir)
      throw t
    }
    // the rewrite's own output, identified by its TAGGED commit manifest
    // (a directory listing here would attribute any file a concurrent
    // append landed since save() started to the rewrite)
    val rewriteSet: Set[String] = GraftManifest.list(fs, tableDir)
      .filter(_.endsWith("-" + opTag))
      .flatMap(m => GraftManifest.read(fs, tableDir, m).map { case (rel, _) =>
        fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, rel)).toString
      }).toSet
    afterRewrite()
    // retire ONLY the pre-rewrite snapshot (manifests first, so a crash
    // window never leaves a manifest referencing a deleted file): files
    // appended by another writer since the snapshot are not ours to delete.
    // Version ordinals register first — compaction expiry leaves holes.
    phase("version-sync")(GraftVersionLog.sync(fs, tableDir))
    phase("flip+retire") {
      GraftRewriteGuard.flip(fs, tableDir)
      beforeManifests.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(tableDir), n), false))
      GraftUtil.deleteAll(fs, before.map(_.getPath))
      // the rewrite read THROUGH the scan (deletion vectors applied), so
      // the output is clean — retiring the files retires their DV sidecars
      // (one sidecar-dir listing for the whole snapshot, not one per file)
      GraftDv.dropForAll(fs, tableDir, before.map(_.getPath))
      GraftRewriteGuard.clear(fs, tableDir)
    }
    val after = GraftUtil.listDataFiles(dir, conf)
    // a compaction that imposed a sorted layout leaves the table
    // whole-file sorted — republish the sort marker (the rewrite's own
    // append commit conservatively cleared it, since the old files were
    // still visible then). Only when the surviving file set is exactly
    // the rewrite's output: a concurrent unsorted append in the commit
    // window must win (the same caveat as compact's concurrency model).
    val rewriteOnly = after.nonEmpty && rewriteSet.nonEmpty && after.forall(f =>
      rewriteSet.contains(fs.makeQualified(f.getPath).toString)) &&
      after.size == rewriteSet.size
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase("sortby") =>
      v.split(",").map(_.trim).toSeq
    }.foreach { cols =>
      if (rewriteOnly) {
        GraftSortMarker.publish(fs, tableDir, cols)
        // confirm: an append whose commit fully interleaved between the
        // listing above and this publish would have had its marker-clear
        // overwritten — re-list and withdraw the claim if anything beyond
        // the rewrite's files is visible now
        val confirm = GraftUtil.listDataFiles(dir, conf)
          .map(f => fs.makeQualified(f.getPath).toString).toSet
        if (confirm != rewriteSet) GraftSortMarker.clear(fs, tableDir)
      }
    }
    CompactStats(before.size, before.map(_.getLen).sum,
      after.size, after.map(_.getLen).sum, rows)
  }

  /** Result of a row-level delete: how many files held matches (and were
    * rewritten), how many files were untouched, and rows before/after. */
  final case class DeleteStats(filesRewritten: Int, filesUntouched: Int,
      rowsBefore: Long, rowsAfter: Long)

  /** Row-level DELETE: remove every row matching `predicate`, rewriting
    * ONLY the files that contain matches — the takedown/purge pass a
    * training corpus needs (drop specific doc_ids, a contaminated source,
    * a date range). Scale shape: ONE distributed probe job maps matching
    * rows to their files via `input_file_name()` (zone maps / blooms still
    * prune pages inside that scan), before/after row counts come straight
    * off cached footers (no Spark job), and the per-file survivor rewrites
    * run concurrently — the driver orchestration cost is one probe job
    * plus one overlapped rewrite wave regardless of file count. An
    * untouched file keeps its identity (page
    * layout, zone maps, mtime — snapshots and caches stay valid). Each
    * rewritten file publishes its survivors at a DETERMINISTIC name
    * derived from (original file, predicate) via an atomic rename, then
    * retires the original: a crash mid-pass leaves some files rewritten
    * and some not, and a re-run of the same delete detects an
    * already-published survivor file (name match) and just retires the
    * original instead of writing survivors again — re-running converges,
    * nothing is lost and nothing is duplicated. The only transient state a
    * crash can leave is BOTH the original and its survivor file visible
    * (duplicate survivor rows) until the delete is re-run — note the
    * resuming run's `rowsBefore` then counts those duplicates, so its
    * DeleteStats row delta overstates by the orphaned survivor rows. Hive-partitioned
    * layouts are preserved (the rewrite publishes into the file's own
    * partition directory).
    *
    * `changelog = true` additionally publishes every deleted row to the
    * table's change feed (`_graft_changes/`, see [[GraftCdc]]) BEFORE the
    * file is rewritten — the durable record a takedown/right-to-be-forgotten
    * pass needs so downstream derived tables can propagate the purge without
    * re-diffing the corpus. Change files use the same deterministic
    * (file, predicate) naming as survivors, so the crash-resume contract is
    * unchanged: a re-run never writes a change file twice. Visibility is
    * manifest-based (the feed directory carries its own `_graft_manifest`),
    * so `since`/`asof` windows apply to the feed exactly as to the table;
    * change files a crashed run left unpublished are adopted into a manifest
    * by the next changelog-enabled delete.
    *
    * Manifest expiry is surgical: only manifests that reference a RETIRED
    * file are expired — commits that touched only untouched files keep
    * their history, so incremental (`since`) readers of unrelated appends
    * are not reset by a delete elsewhere in the table.
    */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      changelog: Boolean = false,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None): DeleteStats =
    locked(spark, dir, "deleteWhere") {
      deleteWhereImpl(spark, dir, predicate, changelog, schemaOverride)
    }

  /** [[deleteWhere]] restricted to a pre-commit SNAPSHOT of files — the
    * replaceWhere overwrite's delete half: the new data is already renamed
    * in when this runs, and its rows match the replace predicate by
    * construction, so the rewrite must only touch files that pre-existed
    * the commit. The probe scan still covers the whole table (partition
    * and zone-map pruning bound it); only the matched-file set is scoped.
    */
  private[spark] def deleteWhereScoped(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, changelog: Boolean,
      scope: Set[String]): DeleteStats =
    locked(spark, dir, "replaceWhere") {
      deleteWhereImpl(spark, dir, predicate, changelog, None, Some(scope))
    }

  /** MERGE-ON-READ delete via deletion vectors: mask every row matching
    * `predicate` in a per-file ordinal bitmap sidecar ([[GraftDv]]) instead
    * of rewriting the files — a 1-row takedown in a 1 GB file writes a
    * ~100-byte sidecar, not a gigabyte. At GDPR-cadence deletes on 100 TB,
    * rewrite amplification is the cost center this removes; compaction (or
    * any row-level rewrite touching the file) folds the mask away and
    * restores the columnar/pushdown fast paths.
    *
    * Semantics vs [[deleteWhere]]: identical batch view (scans apply the
    * mask), original files byte-identical, manifests untouched (no expiry,
    * no catch-up — nothing was retired), `since` windows unchanged for the
    * file's commit. While a table carries any DV its scans run row-based
    * and footer-only aggregate/limit/top-N pushdowns decline (a masked row
    * could hold the min) — the documented trade until compaction.
    *
    * Crash contract: the changelog (optional) publishes first under a
    * deterministic predicate-keyed name; DV sidecars publish per file via
    * tmp+rename at a fresh generation. A re-run converges: already-masked
    * rows no longer match (the probe reads through the mask), so bitmaps
    * only ever grow by exactly the still-live matches.
    */
  /** OR per-file ordinal bitmaps into each file's current mask
    * and publish the merged generation — the shared back half of every
    * merge-on-read op (DV delete / MOR update / DV merge). Per-file
    * publishes are independent tiny fs ops, overlapped on a small pool so
    * a wide op isn't serialized driver-side. */
  private def publishDvMasks(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      perFile: Map[String, org.roaringbitmap.RoaringBitmap], takedown: Boolean): Unit = {
    val current = GraftDv.list(fs, tableDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, perFile.size)))
    try {
      perFile.toSeq.map { case (f, add) =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = {
          val p = new org.apache.hadoop.fs.Path(f)
          val ident = GraftDv.identOf(tableDir, p)
          val (gen, merged) = current.get(ident) match {
            case Some((g, path)) =>
              val cum = GraftDv.read(fs, path).clone()
              cum.or(add)
              (g + 1, cum)
            case None => (1, add)
          }
          GraftDv.publish(fs, tableDir, ident, gen, merged, takedown)
        }})
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Feed/scratch identity of a data file: partition segments + base name,
    * sanitized. The segments are REQUIRED — hive layouts legally hold
    * identically-named files in different k=v dirs, and a basename-only
    * identity made one partition's changelog publish mask the other's. */
  private def feedIdentOf(tableDir: org.apache.hadoop.fs.Path,
      file: org.apache.hadoop.fs.Path): String = {
    val base = file.getName.stripSuffix(GraftUtil.Extension)
    val segs = GraftUtil.partitionSegments(tableDir, file)
    (segs.map { case (k, v) => s"$k=$v" } :+ base)
      .mkString("~").replaceAll("[^a-zA-Z0-9_.=~-]", "_")
  }

  /** Publish pre-images to the change feed as ONE feed file PER matched
    * data file at a deterministic `<ident><marker>` name — the CoW
    * rewrite's feed shape, shared by the merge-on-read ops (DV delete /
    * MOR update / DV merge). Parallel across files on a small pool;
    * idempotent per file on resume (exists-check — the op's masks land
    * strictly after the feed, so a resume re-derives identical rows). */
  private def publishDvChangelog(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      matchedFiles: Seq[String], marker: String, scratchBase: String,
      preimagesOf: String => org.apache.spark.sql.DataFrame): Unit = {
    if (matchedFiles.isEmpty) return
    val clDir = new org.apache.hadoop.fs.Path(tableDir, GraftCdc.ChangesDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, matchedFiles.size)))
    try {
      matchedFiles.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = {
          val ident = feedIdentOf(tableDir, new org.apache.hadoop.fs.Path(f))
          val clPath = new org.apache.hadoop.fs.Path(
            clDir, s"$ident$marker${GraftUtil.Extension}")
          if (!fs.exists(clPath)) {
            val scratch = new org.apache.hadoop.fs.Path(
              tableDir, s"$scratchBase/cl/$ident$marker")
            preimagesOf(f).coalesce(1)
              .write.format("graft").mode("overwrite").save(scratch.toString)
            val produced = GraftUtil.listDataFiles(scratch.toString, conf)
            require(produced.size <= 1,
              s"graft: changelog write for $f produced ${produced.size} files")
            if (produced.nonEmpty) {
              fs.mkdirs(clDir)
              require(fs.rename(produced.head.getPath, clPath),
                s"graft: failed to publish change feed for $f at $clPath")
            }
            fs.delete(scratch, true)
          }
        }})
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Action name of the Spark SQL execution every per-file probe runs
    * under — what a `QueryExecutionListener` sees. */
  private[spark] val ProbeExecution = "graft-probe"

  /** How a per-file probe folds its rows. Executor side: `add` folds one
    * row into its file's accumulator, `ship` makes the task result. Driver
    * side: `merge` folds a shipped value into what is held for the file. */
  private trait FileFold[A <: AnyRef, S, V] extends Serializable {
    def zero(): A
    def add(acc: A, row: org.apache.spark.sql.catalyst.InternalRow): Unit
    def ship(acc: A): S
    def merge(held: Option[V], s: S): V
  }

  /** Matched rows per file, over a frame whose only column is the file. */
  private object CountFold extends FileFold[Array[Long], Long, Long] {
    def zero(): Array[Long] = new Array[Long](1)
    def add(acc: Array[Long], row: org.apache.spark.sql.catalyst.InternalRow): Unit =
      acc(0) += 1
    def ship(acc: Array[Long]): Long = acc(0)
    def merge(held: Option[Long], s: Long): Long = held.getOrElse(0L) + s
  }

  /** Ordinal bitmap per file, over a (file, file-physical ordinal) frame;
    * bitmaps travel serialized (the task result serializer need not know
    * roaring). */
  private object BitmapFold
      extends FileFold[org.roaringbitmap.RoaringBitmap, Array[Byte], org.roaringbitmap.RoaringBitmap] {
    def zero(): org.roaringbitmap.RoaringBitmap = new org.roaringbitmap.RoaringBitmap()
    def add(acc: org.roaringbitmap.RoaringBitmap,
        row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      val o = row.getLong(1)
      require(o <= Int.MaxValue, s"graft: row ordinal $o exceeds DV range")
      acc.add(o.toInt)
    }
    def ship(acc: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      acc.runOptimize()
      acc.serialize(new java.io.DataOutputStream(bos))
      bos.toByteArray
    }
    def merge(held: Option[org.roaringbitmap.RoaringBitmap],
        s: Array[Byte]): org.roaringbitmap.RoaringBitmap = {
      val rb = new org.roaringbitmap.RoaringBitmap()
      rb.deserialize(new java.io.DataInputStream(new java.io.ByteArrayInputStream(s)))
      held.foreach(rb.or)
      rb
    }
  }

  /** The per-file probe behind every DML op: `df`'s first column names
    * each row's file. Every partition folds its rows into one value per
    * file EXECUTOR-side, and the driver merges those as each partition's
    * result arrives — ONE Spark job and no exchange. A file's rows may
    * span several partitions (page-group splits, a join upstream); the
    * driver merge is what makes the union exact. The driver holds at most
    * `cap` files: the first file past it marks the probe as overflowed and
    * CANCELS the job, so the tasks still to run send nothing more to the
    * driver (the broad-delete guard's bound; task results also count
    * against `spark.driver.maxResultSize`). Returns the merged values and
    * whether the probe overflowed; an overflowed probe's values are
    * partial. */
  private def probeByFile[A <: AnyRef, S, V](df: org.apache.spark.sql.DataFrame,
      fold: FileFold[A, S, V], cap: Int = Int.MaxValue): (Map[String, V], Boolean) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val perPartition = (rows: Iterator[InternalRow]) => {
      val accs = new java.util.HashMap[UTF8String, A]()
      var lastFile: UTF8String = null
      var last: A = null.asInstanceOf[A]
      while (rows.hasNext) {
        val row = rows.next()
        val f = if (row.isNullAt(0)) UTF8String.EMPTY_UTF8 else row.getUTF8String(0)
        // a scan emits each file's rows in one run: look the map up per run
        if (lastFile == null || !lastFile.equals(f)) {
          lastFile = f.clone()
          last = accs.get(lastFile)
          if (last == null) { last = fold.zero(); accs.put(lastFile, last) }
        }
        fold.add(last, row)
      }
      val out = new Array[(String, S)](accs.size)
      var i = 0
      accs.forEach((f, a) => { out(i) = (f.toString, fold.ship(a)); i += 1 })
      out
    }
    // the handler runs on the scheduler's event thread; the caller reads
    // `held` only after the job has ended
    val held = new java.util.HashMap[String, V]()
    val overflowed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val job = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.FutureAction[Unit]]()
    val onResult = (_: Int, part: Array[(String, S)]) =>
      if (!overflowed.get) part.foreach { case (f, s) =>
        val prev = held.get(f)
        if (prev != null || held.size < cap) held.put(f, fold.merge(Option(prev), s))
        else if (overflowed.compareAndSet(false, true)) Option(job.get).foreach(_.cancel())
      }
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(ProbeExecution)) {
      val rdd = qe.toRdd
      val running = qe.sparkSession.sparkContext.submitJob(
        rdd, perPartition, rdd.partitions.indices, onResult, ())
      job.set(running)
      if (overflowed.get) running.cancel()
      // a job cancelled on overflow fails; its result is not needed
      try running.get() catch { case _: Exception if overflowed.get => () }
    }
    import scala.jdk.CollectionConverters._
    (held.asScala.toMap, overflowed.get)
  }

  /** Matched-row count per file of a frame whose only column is the file. */
  private def fileCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    probeByFile(df, CountFold)._1

  def deleteWhereDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      changelog: Boolean = false,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      /** TAKEDOWN posture (default): the rows vanish from every read
        * including `asof` time-travel (older mask generations are swept —
        * the GDPR contract). `false` publishes a VERSIONED generation:
        * pinned reads older than this delete keep seeing the rows, the
        * reproducible-training-set contract. */
      takedown: Boolean = true): DeleteStats =
    locked(spark, dir, "deleteWhereDv") {
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val files = GraftUtil.listDataFiles(dir, conf)
      require(files.nonEmpty, s"graft: nothing to delete under $dir")
      val rowsBefore = {
        val c = GraftScan.rowCount(files, conf)
        if (c.isPresent) c.getAsLong
        else spark.read.format("graft").load(dir).count()
      }
      val predHash = GraftManifest.md5Hex(predicate.toString, 4)
      // schemaOverride: the catalog's declared schema (evolution columns),
      // so a SQL DELETE predicate over an ALTER-added column resolves
      val table = schemaOverride match {
        case Some(sc) => spark.read.format("graft").schema(sc).load(dir)
        case None => spark.read.format("graft").load(dir)
      }
      import org.apache.spark.sql.functions.{col, input_file_name}
      // ONE distributed probe maps still-live matching rows to (file,
      // file-physical ordinal) via the synthesized metadata column; each
      // partition's ordinals fold into roaring bitmaps EXECUTOR-side, so
      // the driver merges O(matched files) small bitmaps, never rows.
      //
      // BROAD-DELETE guard: the bitmap-per-matched-file driver staging is
      // right for the scattered-takedown shape dvs target, unbounded for
      // a broad predicate over a huge table (millions of matched files ⇒
      // millions of driver-side bitmaps). The merge holds at most
      // `graft.dv.maxMatchedFiles` files; one more cancels the probe job
      // and routes to the copy-on-write rewrite instead,
      // whose driver state is one file LIST and which the follow-up
      // compaction would have had to pay anyway (the lock is
      // thread-re-entrant, so delegating under it is safe).
      val maxMatched = spark.conf.getOption("graft.dv.maxMatchedFiles")
        .map(_.toInt).getOrElse(65536)
      val matched = table.filter(predicate)
        .select(input_file_name().as("f"), col(GraftDv.OrdinalCol).as("o"))
      val (perFile, overflow) = phase("probe")(probeByFile(matched, BitmapFold, maxMatched))
      if (overflow)
        return deleteWhereImpl(spark, dir, predicate, changelog, schemaOverride)
      if (perFile.nonEmpty) {
        val known = files.map(_.getPath.toString).toSet
        require(perFile.keys.forall(f => f.nonEmpty && known.contains(f)),
          "graft: deleteWhereDv probe returned file names outside the table " +
            "listing (input_file_name plumbing broken?)")
        // change feed FIRST (the crash order changelog -> mask): ONE feed
        // file PER matched data file at a deterministic <ident>-del<hash>
        // name (the CoW deleteWhere pattern), published in parallel — a
        // broad predicate no longer serializes its pre-images through a
        // single task. Idempotent per file on resume: data files are
        // immutable and the masks land strictly after, so a re-derived
        // per-file pre-image set is identical and exists-checked away.
        if (changelog) phase("changelog") {
          publishDvChangelog(spark, conf, fs, tableDir,
            perFile.keys.toSeq, s"-del$predHash", "_graft_tmp_delete",
            f => spark.read.format("graft").schema(table.schema).load(f)
              .filter(predicate))
          publishChangeFeed(conf, fs, tableDir)
        }
        phase("mask-publish")(publishDvMasks(fs, tableDir, perFile, takedown))
      }
      val rowsAfter = {
        val c = GraftScan.rowCount(GraftUtil.listDataFiles(dir, conf), conf)
        if (c.isPresent) c.getAsLong
        else spark.read.format("graft").load(dir).count()
      }
      DeleteStats(perFile.size, files.size - perFile.size, rowsBefore, rowsAfter)
    }

  /** MERGE-ON-READ update: mask the matched rows' ordinals (deletion
    * vectors) and append their transformed versions under ONE tagged
    * commit — the redaction pass without rewrite amplification. Matched
    * files stay byte-identical; the new versions are ordinary appended
    * rows (they clear the sort marker like any unsorted append).
    *
    * Crash/replay contract (library converge-on-re-run, like
    * [[updateWhere]]): the statement's tag is deterministic over
    * (predicate, assignments); order is changelog -> tagged append ->
    * masks. A crash after the append leaves old+new visible (duplicates)
    * until a re-run; the re-run's probe EXCLUDES the tagged append's own
    * files (a second application to the new versions would double a
    * non-idempotent assignment), its append is recognized as a replay and
    * publishes nothing, and its masks converge (cumulative OR over
    * still-live matches). Caveat: an intervening re-layout (compact /
    * z-order) between a crash and its re-run renames the appended files
    * and invalidates the exclusion — heal by re-deriving or treat as a
    * fresh statement, exactly like re-running a CoW update after a
    * re-layout changed its marker names.
    *
    * CDC: `changelog = true` publishes pre-images under an `-upd` marker
    * (typed `change_preimage`); the new versions enter incremental windows
    * through the tagged append's own commit, so a feed consumer sees
    * delete(old) + insert(new) and [[GraftCdc.applyChangesBetween]]
    * reconciles exactly.
    */
  def updateWhereDv(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      changelog: Boolean = false,
      opNonce: Option[String] = None,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None): UpdateStats =
    updateWhereDvImpl(spark, dir, predicate, assignments, changelog,
      () => (), opNonce, schemaOverride)

  private[graft] def updateWhereDvImpl(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      changelog: Boolean,
      afterAppend: () => Unit,
      opNonce: Option[String] = None,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None): UpdateStats =
    locked(spark, dir, "updateWhereDv") {
      import org.apache.spark.sql.functions.{col, input_file_name, lit, count => cnt}
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val files = GraftUtil.listDataFiles(dir, conf)
      require(files.nonEmpty, s"graft: nothing to update under $dir")
      require(assignments.nonEmpty, "graft: updateWhereDv needs assignments")
      val table = schemaOverride match {
        case Some(sc) => spark.read.format("graft").schema(sc).load(dir)
        case None => spark.read.format("graft").load(dir)
      }
      assignments.keys.foreach(c => require(table.schema.fieldNames.contains(c),
        s"graft: update column '$c' is not in the table schema"))
      val partCols = GraftUtil.layoutOf(tableDir, files)
      assignments.keys.foreach(c => require(!partCols.exists(_.equalsIgnoreCase(c)),
        s"graft: cannot update hive-partition path column '$c' — the row would " +
          "contradict its directory; re-layout via compact instead"))
      // opNonce (the SQL path's per-EXECUTION nonce) folds into the tag so
      // re-running the same UPDATE statement re-applies, while a crashed
      // execution's resume still converges under its persisted nonce —
      // the same split as the CoW updateWhere's re-run contract
      val opHash = GraftManifest.md5Hex(predicate.toString + "|" +
        assignments.map { case (c, e) => s"$c:=$e" }.toSeq.sorted.mkString(";") +
        opNonce.fold("")("|" + _), 8)
      val opTag = s"updv$opHash"
      val rowsBefore = {
        val c = GraftScan.rowCount(files, conf)
        if (c.isPresent) c.getAsLong else table.count()
      }
      // a crash re-run must not re-update the statement's OWN output: the
      // tagged manifest (if it landed) lists the new-version files
      val appendedFiles: Set[String] = GraftManifest.list(fs, tableDir)
        .filter(_.endsWith("-" + opTag))
        .flatMap(m => GraftManifest.read(fs, tableDir, m).map(e =>
          fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, e._1)).toString))
        .toSet
      val scoped =
        if (appendedFiles.isEmpty) table
        else table.filter(!input_file_name()
          .isin(appendedFiles.toSeq.map(lit(_)): _*))
      // MATERIALIZE the matched set durably before anything mutates: the
      // append and the mask probe must work from ONE snapshot — a lazy
      // frame re-evaluated after the append would see the statement's own
      // new versions (and any concurrent lock-free append's rows), masking
      // rows it never re-appended. A cache is not a barrier (eviction
      // recomputes); the scratch table is.
      val srcScratch = new org.apache.hadoop.fs.Path(
        tableDir, s"_graft_tmp_update/dvsrc-$opHash")
      scoped.filter(predicate)
        .withColumn("_g_f", input_file_name())
        .withColumn("_g_o", col(GraftDv.OrdinalCol))
        .write.format("graft").mode("overwrite").save(srcScratch.toString)
      if (GraftUtil.listDataFiles(srcScratch.toString, conf).isEmpty) {
        // nothing matched (or a completed run's replay): a zero-row write
        // publishes no files, and there is nothing to append or mask
        fs.delete(srcScratch, true)
        UpdateStats(0, files.size, 0L, rowsBefore)
      } else {
      val matched = spark.read.format("graft").load(srcScratch.toString)
      try {
        // ONE probe of the materialized snapshot: per-file ordinal bitmaps
        // folded executor-side. Its keys are the matched files the change
        // feed shards by; the bitmaps are the masks published last. The
        // probe publishes nothing, so the crash order is unchanged.
        val perFile = probeByFile(matched.select(col("_g_f"), col("_g_o")), BitmapFold)._1
        // changelog FIRST: pre-images under the op's -upd marker (typed
        // change_preimage by the feed reader), ONE feed file PER matched
        // data file at deterministic <ident>-upd<hash8> names — parallel
        // publishes, and the 8-hex marker is what the feed reader's name
        // patterns actually match (the old op-wide updv-upd<hash16> name
        // was invisible to them). Sharded from the materialized snapshot,
        // so a resume re-derives identical per-file sets.
        if (changelog) {
          publishDvChangelog(spark, conf, fs, tableDir, perFile.keys.toSeq,
            s"-upd${opHash.take(8)}", "_graft_tmp_update",
            f => matched.filter(col("_g_f") === f).drop("_g_f", "_g_o"))
          publishChangeFeed(conf, fs, tableDir)
        }
        // tagged append of the transformed versions (a replay finds the
        // tag and publishes nothing); observed count = rows updated
        val obs = org.apache.spark.sql.Observation(
          s"updv-${java.util.UUID.randomUUID().toString.take(8)}")
        val w0 = assignments.foldLeft(matched.drop("_g_f", "_g_o")) {
          case (df, (c, e)) => df.withColumn(c, e)
        }.observe(obs, cnt(lit(1)).as("n"))
          .write.format("graft").mode("append")
          .option("manifesttag", opTag)
        // preserve the hive layout: new versions land in their partition
        // dirs, not at the table root (directory pruning keeps working)
        (if (partCols.nonEmpty) w0.option("partitionby", partCols.mkString(","))
         else w0).save(dir)
        val nUpdated = obs.get("n").asInstanceOf[Long]
        afterAppend()
        // masks LAST, published VERSIONED — an update is not a takedown,
        // so a pinned read older than this statement must keep seeing the
        // pre-update rows (the asof file window already hides the
        // appended versions)
        publishDvMasks(fs, tableDir, perFile, takedown = false)
        val rowsTotal = {
          val c = GraftScan.rowCount(GraftUtil.listDataFiles(dir, conf), conf)
          if (c.isPresent) c.getAsLong
          else spark.read.format("graft").load(dir).count()
        }
        UpdateStats(perFile.size, files.size - perFile.size,
          nUpdated, rowsTotal)
      } finally fs.delete(srcScratch, true)
      }
    }

  private def deleteWhereImpl(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      changelog: Boolean,
      schemaOverride: Option[org.apache.spark.sql.types.StructType],
      scope: Option[Set[String]] = None): DeleteStats = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val files = GraftUtil.listDataFiles(dir, conf)
    require(files.nonEmpty, s"graft: nothing to delete under $dir")
    val manifestSnapshot = GraftManifest.list(fs, tableDir)
    // schemaOverride: a catalog table's declared schema (footer columns +
    // ALTER-added evolution columns the files don't back yet), so a DELETE
    // predicate over an evolution column resolves and sees its nulls
    val table = schemaOverride match {
      case Some(sc) => spark.read.format("graft").schema(sc).load(dir)
      case None => spark.read.format("graft").load(dir)
    }
    val schema = table.schema
    // straight off the footers — no Spark job (the count-pushdown scan
    // would also be footer-only, but still pays a job's scheduling)
    val rowsBefore = {
      val c = GraftScan.rowCount(files, conf)
      if (c.isPresent) c.getAsLong else table.count()
    }
    // ONE distributed probe job finds every file holding a match: zone
    // maps / blooms still prune pages inside the scan, and
    // input_file_name() maps matching rows back to their files. The
    // previous per-file probe ran 2-3 driver-sequenced Spark jobs per
    // file — pure scheduler overhead at any real file count.
    val matched = fileCounts(table.filter(predicate)
      .select(org.apache.spark.sql.functions.input_file_name())).keySet
    // the probe's file mapping depends on the InputFileHolder plumbing
    // (reflective, degrades to "" on an incompatible Spark); a purge that
    // matches rows but cannot NAME their files must fail loudly, never
    // report success having deleted nothing
    if (matched.nonEmpty) {
      val known = files.map(_.getPath.toString).toSet
      require(matched.forall(f => f.nonEmpty && known.contains(f)),
        s"graft: deleteWhere probe returned file names outside the table " +
          s"listing (input_file_name plumbing broken?): " +
          matched.filterNot(known.contains).take(3).mkString(", "))
    }
    // deterministic predicate fingerprint: (file, predicate) names the
    // survivor file, so a re-run after a crash recognises published work
    val predHash = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(
        predicate.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.take(4).map(b => f"$b%02x").mkString
    }
    // per-file rewrites are independent (each touches only its own file,
    // scratch subdir and survivor name), so they run CONCURRENTLY on a
    // small pool: the 1-2 short Spark jobs each file needs then overlap
    // instead of paying driver job-sequencing latency serially — that
    // sequencing was the whole x_delete_where gap vs a plain
    // filter-and-rewrite. Crash-resume semantics are per-file (scaffold).
    val matchedFiles = files.filter(f => matched.contains(f.getPath.toString) &&
      scope.forall(_.contains(f.getPath.toString)))
    val rewritten = rewriteMatchedFiles(spark, conf, fs, tableDir,
      matchedFiles, schema, RewriteSpec(
        tag = "del", hash = predHash,
        changelogOf = if (changelog) Some(df => df.filter(predicate)) else None,
        projectOf = df => df.filter(!predicate || predicate.isNull),
        allowEmpty = true, sameCount = false)).rewritten
    if (changelog) publishChangeFeed(conf, fs, tableDir)
    val untouched = files.size - rewritten
    val rowsAfter = { // footer-only recount of the surviving table
      val survivors = GraftUtil.listDataFiles(dir, conf)
      // a delete-all retires every file; an empty dir is 0 rows, and the
      // fallback read would refuse to infer a schema from it
      if (survivors.isEmpty) 0L
      else {
        val c = GraftScan.rowCount(survivors, conf)
        if (c.isPresent) c.getAsLong
        else spark.read.format("graft").load(dir).count()
      }
    }
    // a delete rewrites history for the files it touched: expire exactly
    // the manifests that reference a retired file (a fresh manifest-mode
    // stream replay would otherwise fail on the missing files; survivors
    // read as pre-manifest history). Manifests whose commits touched only
    // surviving files keep their history — incremental readers of
    // unrelated appends see no reset. Streams checkpointed over the
    // retired files should restart, as with any rewrite.
    // keyed on what is ACTUALLY MISSING from the table, not this run's
    // matched set: a crash in a previous run's window (originals retired,
    // expiry never reached) leaves manifests referencing deleted files that
    // a matched-set check could never converge — the re-run cannot match
    // files that no longer exist. Listing-based expiry is self-healing —
    // and it runs even when THIS pass rewrote nothing, because the crashed
    // run whose damage it heals may have retired every matching file
    // already (the re-run then has nothing left to match).
    healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot)
    DeleteStats(rewritten, untouched, rowsBefore, rowsAfter)
  }

  /** WHOLE-FILE retirement for the overwrite write modes (dynamic
    * partition overwrite, replaceWhere's fully-covered files): retire the
    * given pre-commit snapshot files and reconcile manifests, without any
    * probe scan — the caller already knows exactly which files die.
    * Metadata-only when `changelog = false` (O(victims) filesystem ops,
    * zero Spark jobs — the 100 TB shape for a daily-partition re-ingest);
    * with `changelog = true` each victim's rows are first published to
    * the `_graft_changes` feed as delete pre-images through the same
    * crash-safe deterministic-name scaffold the row-level ops use.
    * Crash contract (matches the truncating overwrite's): a crash
    * mid-retire leaves old+new visible (duplicates, recoverable by
    * re-running the overwrite — its fresh snapshot treats the earlier
    * attempt's files as old); the manifest heal is listing-keyed and
    * self-heals on the next mutating op either way.
    */
  private[spark] def overwriteRetire(spark: SparkSession, dir: String,
      victimPaths: Set[String], changelog: Boolean, opHash: String): DeleteStats =
    locked(spark, dir, "overwrite") {
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val files = GraftUtil.listDataFiles(dir, conf)
      val manifestSnapshot = GraftManifest.list(fs, tableDir)
      val victims = files.filter(f => victimPaths.contains(f.getPath.toString))
      val rowsBefore = {
        val c = GraftScan.rowCount(files, conf)
        if (c.isPresent) c.getAsLong
        else spark.read.format("graft").load(dir).count()
      }
      if (victims.nonEmpty) {
        if (changelog) {
          val schema = spark.read.format("graft").load(dir).schema
          rewriteMatchedFiles(spark, conf, fs, tableDir, victims, schema,
            RewriteSpec(tag = "del", hash = opHash,
              changelogOf = Some(identity),
              projectOf = df => df.filter(org.apache.spark.sql.functions.lit(false)),
              allowEmpty = true, sameCount = false))
          publishChangeFeed(conf, fs, tableDir)
        } else {
          GraftUtil.deleteAll(fs, victims.map(_.getPath))
          GraftDv.dropForAll(fs, tableDir, victims.map(_.getPath))
        }
      }
      healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot)
      val rowsAfter = {
        val survivors = GraftUtil.listDataFiles(dir, conf)
        if (survivors.isEmpty) 0L
        else {
          val c = GraftScan.rowCount(survivors, conf)
          if (c.isPresent) c.getAsLong
          else spark.read.format("graft").load(dir).count()
        }
      }
      DeleteStats(victims.size, files.size - victims.size, rowsBefore, rowsAfter)
    }

  /** Shared post-rewrite manifest reconciliation for the row-level rewrite
    * ops (deleteWhere / updateWhere): expire manifests referencing retired
    * files and publish a catch-up re-list for streaming backfill.
    */
  private def healManifestsAfterRewrite(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      manifestSnapshot: Seq[String]): Unit = {
      // register ordinals BEFORE anything can expire — VERSION AS OF
      // resolves through this log, so expiry leaves holes, never renumbers
      GraftVersionLog.sync(fs, tableDir)
      val liveFiles = GraftUtil.listDataFiles(dir, conf)
      val live = liveFiles.map(f => fs.makeQualified(f.getPath).toString).toSet
      def qualify(name: String): String = fs.makeQualified(
        new org.apache.hadoop.fs.Path(tableDir, name)).toString
      val entriesOf = manifestSnapshot
        .map(n => n -> GraftManifest.read(fs, tableDir, n)).toMap
      val (expired, surviving) = manifestSnapshot.partition { n =>
        entriesOf(n).exists { case (name, _) => !live.contains(qualify(name)) }
      }
      val base = fs.makeQualified(tableDir).toString
      def relOf(q: String): String =
        if (q.startsWith(base + "/")) q.substring(base.length + 1)
        else new org.apache.hadoop.fs.Path(q).getName
      val survivorName = GraftUtil.survivorNamePattern
      // REPLACEMENT manifests: each expired COMMIT manifest whose coverage
      // partly survives (untouched files, or rewrite outputs derived from
      // its retired files — the output name is the original's plus a
      // trailing -<tag><hash> marker) is re-published at its ORIGINAL
      // commit time under a replacement name. This keeps `since`/CDC
      // windows exact for a window spanning the commit AND the rewrite:
      // without it the survivors fell to pre-manifest history and any
      // consumer that had not yet read the window silently lost them.
      // Streams never redeliver them to checkpoints that processed the
      // original (covered() ties replacement to original by time + base
      // suffix); the version log skips them (the commit is registered).
      val markerStrip = GraftUtil.markerStripRegex
      // walk the FULL ancestor chain (X-delA-delB covers X-delA AND X),
      // mirroring GraftDataSource.inheritedT / GraftStreamSource
      // .originalCovered: a crash after one rewrite retired its originals
      // can leave the next rewrite's heal holding a manifest that lists a
      // grandparent — stripping only one marker came up empty and the
      // commit's surviving rows silently dropped out of since/CDC windows.
      // The walk stops at the first LIVE ancestor: that ancestor covers
      // itself via the live.contains branch below, and mapping past it
      // would double-count its rows.
      val outputByOriginal: Map[String, Seq[(String, Long)]] = liveFiles
        .flatMap { f =>
          val nm0 = f.getPath.getName
          if (!survivorName.matcher(nm0).matches()) Seq.empty
          else {
            val q = fs.makeQualified(f.getPath).toString
            val entry = (relOf(q), f.getLen)
            val ancestors = Seq.newBuilder[(String, (String, Long))]
            var nm = nm0
            var go = true
            while (go) {
              val stripped = markerStrip.replaceAllIn(nm, GraftUtil.Extension)
              if (stripped == nm) go = false
              else {
                val orig = fs.makeQualified(new org.apache.hadoop.fs.Path(
                  f.getPath.getParent, stripped)).toString
                if (live.contains(orig)) go = false
                else { ancestors += (orig -> entry); nm = stripped }
              }
            }
            ancestors.result()
          }
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      val survivingCommitKeys = surviving
        .filterNot(GraftManifest.isCatchup)
        .map(n => (GraftManifest.nameT(n), GraftManifest.baseSuffix(n))).toSet
      val replacements: Seq[(String, Seq[(String, Long)])] = expired
        .filterNot(GraftManifest.isCatchup)
        // one replacement per logical commit: a crash window can leave an
        // original AND its earlier replacement both expiring (or one still
        // surviving) — collapsing on (time, base suffix) keeps coverage
        // single, never doubled
        .groupBy(n => (GraftManifest.nameT(n), GraftManifest.baseSuffix(n)))
        .toSeq
        .filter { case (key, _) => !survivingCommitKeys.contains(key) }
        .flatMap { case (_, group) =>
          val cover = group.flatMap(n => entriesOf(n)).distinct
            .flatMap { case (name, len) =>
              val q = qualify(name)
              if (live.contains(q)) Seq((name, len))
              else outputByOriginal.getOrElse(q, Seq.empty)
            }.distinct
          if (cover.isEmpty) None
          else Some(GraftManifest.replacementNameFor(group.head) -> cover)
        }
      // publish BEFORE expiry — a crash between the two leaves transient
      // double coverage that the re-run's expiry heals, never a loss window
      replacements.foreach { case (nm, es) =>
        GraftManifest.publishNamed(fs, tableDir, es, nm) }
      // Survivor files re-enter the table with FRESH modTimes while the
      // surviving manifests keep their old commit times, so a fresh
      // manifest-mode stream's pre-manifest backfill (bounded by the FIRST
      // manifest's commit time — GraftStreamSource.planInputPartitions)
      // would deliver neither the retired originals (their manifests expire
      // below) nor these survivors: silent row loss vs the batch view. Same
      // for a mid-history expired manifest's UNTOUCHED files — unmanifested
      // with commit-era modTimes newer than the first surviving manifest.
      // Publish ONE catch-up manifest adopting exactly those two classes:
      // (a) delete-rewrite outputs by name pattern (incl. a crashed prior
      // run's), (b) still-live files an expiring manifest listed. Arbitrary
      // unmanifested files are NOT adopted — a concurrent writer renames
      // data in before publishing its manifest, and adopting its in-flight
      // files would double-deliver them once that manifest lands. Files
      // older than the first surviving manifest stay unmanifested: they
      // already read as pre-manifest history, and manifesting them would
      // redeliver them to checkpoints that processed them via the backfill.
      // Ordering: catch-up BEFORE expiry — a crash between the two leaves
      // transient double coverage that the re-run's expiry heals, never a
      // loss window. With no surviving manifest the directory reverts to
      // modTime auto-detection, where fresh streams see every file. Gated
      // on SURVIVING manifests alone (not on expiry happening): retiring a
      // pre-manifest-history original expires nothing, yet its survivor
      // still lands above the backfill bound and needs adopting.
      if (surviving.nonEmpty || replacements.nonEmpty) {
        val firstT = (surviving.map(GraftManifest.nameT) ++
          replacements.map(r => GraftManifest.nameT(r._1))).min
        val covered = (surviving.flatMap(n => entriesOf(n).map(e => qualify(e._1))) ++
          replacements.flatMap(_._2).map(e => qualify(e._1))).toSet
        val expiredListed = expired.flatMap(n => entriesOf(n).map(e => qualify(e._1))).toSet
        val adopt = liveFiles.filter { f =>
          val q = fs.makeQualified(f.getPath).toString
          f.getModificationTime >= firstT && !covered.contains(q) &&
            (survivorName.matcher(f.getPath.getName).matches() ||
              expiredListed.contains(q))
        }
        if (adopt.nonEmpty)
          // the CatchupTag keeps incremental readers honest: `since`
          // windows and CDC skip catch-up manifests (these survivors'
          // ORIGINALS were pre-manifest history, so they stay out of
          // windows), while the streaming backfill treats them as
          // ordinary coverage. Survivors of expired COMMITS are covered
          // by the replacement manifests above instead and excluded here.
          GraftManifest.publish(fs, tableDir, adopt.map { f =>
            val q = fs.makeQualified(f.getPath).toString
            (relOf(q), f.getLen)
          }, tag = Some(GraftManifest.CatchupTag +
            java.util.UUID.randomUUID().toString.take(8)))
      }
      expired.foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(tableDir), n), false)
      }
  }

  /** One row-level rewrite pass, parameterized per op — the scaffold
    * deleteWhere / updateWhere / mergeInto share so the concurrency and
    * crash machinery exists exactly once (the three hand-rolled copies
    * had already drifted: only merge carried the converged-file guard,
    * and scratch/changelog identities collided across hive partition
    * directories — see the per-field notes).
    *
    * @param tag         output-name marker: del | upd | mrg
    * @param hash        8-hex deterministic fingerprint of the op's spec
    *                    (and, for merge, the source content) — re-runs of
    *                    the SAME op converge on the same names
    * @param changelogOf when set, rows to publish to the `_graft_changes`
    *                    feed BEFORE any rewrite or retire (deleted rows /
    *                    pre-images — unrecoverable once the original is
    *                    gone)
    * @param projectOf   the rewritten contents of one file
    * @param allowEmpty  delete only: an all-rows-removed file publishes
    *                    no output at all
    * @param sameCount   update/merge: the rewrite must preserve the
    *                    file's cardinality or the original is kept
    */
  private final case class RewriteSpec(
      tag: String, hash: String,
      changelogOf: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame],
      projectOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      allowEmpty: Boolean, sameCount: Boolean)

  private def scratchRootOf(tag: String): String = tag match {
    case "del" => "_graft_tmp_delete"
    case "upd" => "_graft_tmp_update"
    case "anz" => "_graft_tmp_analyze"
    case _ => "_graft_tmp_merge"
  }

  /** Phase timing for the DML passes, logged at DEBUG on this object's
    * logger (`graft.spark.GraftMaintenance`); no timing at all unless that
    * level is enabled — the profiling hook that keeps "where do the
    * seconds go" answerable without a profiler. */
  private[spark] def phase[T](name: String)(f: => T): T =
    if (!log.isDebugEnabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      phaseSince(name, t0)
      r
    }

  /** [[phase]]'s line for a step that began at `t0` (`System.nanoTime`)
    * and ends now — for steps that are not one expression. */
  private def phaseSince(name: String, t0: Long): Unit =
    logDebug(f"[graft-dml] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")

  /** What [[rewriteMatchedFiles]] did: how many files this run rewrote (or
    * finished retiring), and which matched file paths it SKIPPED as
    * already-converged output of the same op. */
  private final case class RewriteResult(rewritten: Int, skippedConverged: Set[String])

  /** Concurrent per-file rewrites with deterministic crash-resume names.
    * Files already carrying `-<tag><hash>` in their NAME are converged
    * output of a previous run of this same op and are skipped outright —
    * without this, a crash re-run whose predicate still matches the
    * rewritten rows would apply a non-idempotent assignment twice (and a
    * task pair could race original-vs-output into duplicated rows).
    */
  private def rewriteMatchedFiles(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path,
      matched: Seq[org.apache.hadoop.fs.FileStatus],
      schema: org.apache.spark.sql.types.StructType,
      spec: RewriteSpec): RewriteResult = {
    val marker = s"-${spec.tag}${spec.hash}"
    val (skipped, work) = matched.partition(_.getPath.getName.contains(marker))
    val skippedPaths = skipped.map(_.getPath.toString).toSet
    val rewrittenN = new java.util.concurrent.atomic.AtomicInteger(0)
    if (work.isEmpty) return RewriteResult(0, skippedPaths)
    val scratchRoot = scratchRootOf(spec.tag)
    // the scratch write target has no sidecar, so a transform layout's
    // derived dir names (`ts_day`) cannot resolve there — map each dir
    // name back to its declared spec (`days(ts)`) up front; identity
    // names pass through unchanged
    // ONE sidecar read serves the transform map AND the stats intent
    // (each extra read is a remote round-trip on the rewrite path)
    val sidecarJson = GraftCatalog.sidecarJsonAt(fs, tableDir)
    val declaredTx: Map[String, String] =
      sidecarJson.map(j => GraftCatalog.parseSidecar(j)._2).getOrElse(Seq.empty)
        .map(GraftPartTransform.parse)
        .map(pt => pt.dirName.toLowerCase -> pt.spec).toMap
    def specOfDir(name: String): String =
      declaredTx.getOrElse(name.toLowerCase, name)
    // survivor outputs must carry the table's declared per-page stats:
    // the scratch dir has no sidecar to inherit from, and a rewritten
    // file missing the declared ndv synopsis makes GraftNdv.estimate
    // THROW for the whole table (blooms would just silently stop
    // pruning). Columns filter to the rewrite schema — a concurrent
    // DROP COLUMN must not fail every survivor write.
    val (declBloom0, declNdv0) =
      sidecarJson.map(GraftCatalog.parseWriteProps).getOrElse((Seq.empty, Seq.empty))
    val declBloom = declBloom0.filter(p =>
      GraftSchema.leafIndexOfPath(schema, p).isDefined)
    val declNdv = declNdv0.filter(c => schema.fieldNames.contains(c))
    def withDeclaredStats[T](w: org.apache.spark.sql.DataFrameWriter[T])
        : org.apache.spark.sql.DataFrameWriter[T] = {
      val w1 = if (declBloom.isEmpty) w
        else w.option("bloomfilter", declBloom.mkString(","))
      if (declNdv.isEmpty) w1 else w1.option("ndvsketch", declNdv.mkString(","))
    }
    // retired originals' DV sidecars drop in ONE batched listing after the
    // join (per-file dropFor listed `_graft_dv` once per task — quadratic
    // on broad matches); sidecars of an already-deleted file are inert to
    // scans in the interim, and vacuum sweeps them if we crash first
    val retiredForDv = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.hadoop.fs.Path]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, work.size)))
    val tasks = work.map { f =>
      pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = {
        val one = spark.read.format("graft").schema(schema).load(f.getPath.toString)
        val base = f.getPath.getName.stripSuffix(GraftUtil.Extension)
        val segs = GraftUtil.partitionSegments(tableDir, f.getPath)
        // scratch/changelog identity must include the PARTITION segments:
        // hive layouts legally hold identically-named files in different
        // k=v dirs (the writer's per-dir sequence restarts at 0), and a
        // basename-only identity made one partition's changelog publish
        // mask the other's (permanent feed row loss) and let two tasks
        // overwrite each other's scratch output
        val ident = (segs.map { case (k, v) => s"$k=$v" } :+ base)
          .mkString("~").replaceAll("[^a-zA-Z0-9_.=~-]", "_")
        // change feed FIRST: once the original is retired those rows are
        // unrecoverable, so the crash order is changelog -> output ->
        // retire; the deterministic name makes resume idempotent. Written
        // flat — partition values are IN the data, feed rows stay
        // self-describing without the layout.
        spec.changelogOf.foreach { mk =>
          val clDir = new org.apache.hadoop.fs.Path(tableDir, GraftCdc.ChangesDir)
          val clPath = new org.apache.hadoop.fs.Path(
            clDir, s"$ident$marker${GraftUtil.Extension}")
          if (!fs.exists(clPath)) {
            val scratch = new org.apache.hadoop.fs.Path(
              tableDir, s"$scratchRoot/cl/$ident-${spec.hash}")
            mk(one).coalesce(1)
              .write.format("graft").mode("overwrite").save(scratch.toString)
            val produced = GraftUtil.listDataFiles(scratch.toString, conf)
            require(produced.size == 1,
              s"graft: changelog write for ${f.getPath} produced ${produced.size} files")
            fs.mkdirs(clDir)
            require(fs.rename(produced.head.getPath, clPath),
              s"graft: failed to publish change feed for ${f.getPath} at $clPath")
            fs.delete(scratch, true)
          }
        }
        // the OUTPUT lives beside its original (same partition dir), so
        // the basename alone names it uniquely there
        val outPath = new org.apache.hadoop.fs.Path(
          f.getPath.getParent, s"$base$marker${GraftUtil.Extension}")
        if (fs.exists(outPath)) {
          // a prior run of this same op crashed between publishing the
          // output and retiring the original — the output is live (and
          // was counted when this pass probed), so just retire
          fs.delete(f.getPath, false)
          retiredForDv.add(f.getPath)
          rewrittenN.incrementAndGet()
        } else {
          val scratch = new org.apache.hadoop.fs.Path(
            tableDir, s"$scratchRoot/sv/$ident-${spec.hash}")
          val w = withDeclaredStats(spec.projectOf(one).coalesce(1)
            .write.format("graft").mode("overwrite"))
          (if (segs.nonEmpty)
            w.option("partitionby", segs.map(s => specOfDir(s._1)).mkString(","))
           else w).save(scratch.toString)
          val produced = GraftUtil.listDataFiles(scratch.toString, conf)
          if (spec.allowEmpty)
            require(produced.size <= 1,
              s"graft: rewrite of ${f.getPath} produced ${produced.size} files")
          else
            require(produced.size == 1,
              s"graft: rewrite of ${f.getPath} produced ${produced.size} files")
          val wrote = GraftScan.rowCount(produced, conf)
          if (spec.sameCount) {
            val orig = GraftScan.rowCount(Seq(f), conf)
            require(!wrote.isPresent || !orig.isPresent ||
              wrote.getAsLong == orig.getAsLong,
              s"graft: rewrite of ${f.getPath} changed the row count " +
                s"($orig -> $wrote) — refusing to retire the original")
          }
          // Hadoop rename reports most failures by RETURNING FALSE; the
          // original is never retired unless its output is durably
          // published (an all-rows-removed delete publishes nothing)
          if (produced.nonEmpty && !(spec.allowEmpty &&
              wrote.isPresent && wrote.getAsLong == 0L)) {
            require(fs.rename(produced.head.getPath, outPath),
              s"graft: failed to publish rewrite of ${f.getPath} at $outPath")
          }
          fs.delete(scratch, true)
          fs.delete(f.getPath, false)
          // the rewrite's read applied any deletion vector, so the output
          // is clean — the retired original's sidecars go with it
          retiredForDv.add(f.getPath)
          rewrittenN.incrementAndGet()
        }
      }})
    }
    try tasks.foreach(_.get())
    catch {
      case e: java.util.concurrent.ExecutionException =>
        // a failed rewrite must not leave ZOMBIE tasks mutating the table
        // behind the caller's back (racing an immediate re-run on the same
        // scratch/output paths) — cancel the queue and wait out stragglers
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        throw Option(e.getCause).getOrElse(e)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
    GraftDv.dropForAll(fs, tableDir,
      retiredForDv.toArray(Array.empty[org.apache.hadoop.fs.Path]).toSeq)
    // best-effort scratch cleanup (a crash mid-write can orphan a dir) —
    // only the rewrite subdirs: merge keeps its materialized SOURCE under
    // the same root and still needs it for the insert pass
    fs.delete(new org.apache.hadoop.fs.Path(tableDir, s"$scratchRoot/cl"), true)
    fs.delete(new org.apache.hadoop.fs.Path(tableDir, s"$scratchRoot/sv"), true)
    RewriteResult(rewrittenN.get(), skippedPaths)
  }

  /** Publish any unlisted `_graft_changes` feed files under one feed
    * manifest, AFTER the rewrites — a `since` window only ever sees a
    * change batch whose table state it can trust. Also adopts files a
    * crashed run left unpublished.
    */
  private def publishChangeFeed(conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): Unit = {
    val clDir = new org.apache.hadoop.fs.Path(tableDir, GraftCdc.ChangesDir)
    val clFiles = GraftUtil.listDataFiles(clDir.toString, conf)
    if (clFiles.nonEmpty) {
      val covered = GraftManifest.list(fs, clDir)
        .flatMap(m => GraftManifest.read(fs, clDir, m).map(_._1)).toSet
      GraftManifest.publish(fs, clDir,
        clFiles.map(f => (f.getPath.getName, f.getLen))
          .filterNot(e => covered.contains(e._1)))
    }
  }

  /** Result of a row-level update: files holding matches (rewritten),
    * untouched files, rows the predicate matched IN FILES THIS RUN actually
    * rewrote or retired (a converged-skip resume reports 0 — callers can
    * tell a no-op resume from a real update), the table total, and how many
    * matched files were skipped as already-converged output of this same
    * statement. */
  final case class UpdateStats(filesRewritten: Int, filesUntouched: Int,
      rowsUpdated: Long, rowsTotal: Long, skippedConverged: Int = 0)

  /** Row-level UPDATE: apply `assignments` (column -> new-value expression,
    * evaluated against the pre-update row) to every row matching
    * `predicate`, rewriting ONLY the files that contain matches — the
    * in-place redaction pass a training corpus needs (mask PII spans,
    * null a leaked field, re-tag a source) without rewriting 100 TB.
    * Same machinery and crash contract as [[deleteWhere]]:
    *
    *   - ONE distributed probe job maps matching rows to their files via
    *     `input_file_name()`; zone maps / blooms prune inside the probe.
    *   - Per-file rewrites run concurrently, each publishing at a
    *     DETERMINISTIC name (`<base>-upd<hash(predicate,assignments)>`),
    *     so a re-run after a crash recognises published work and just
    *     retires the original (`-upd` files are adopted by the same
    *     catch-up manifest machinery as delete survivors).
    *   - `changelog = true` first publishes the PRE-image of every
    *     matched row to the `_graft_changes` feed (crash order:
    *     changelog -> rewrite -> retire; once the original is gone the
    *     old values are unrecoverable).
    *   - Manifests referencing retired originals expire; a catch-up
    *     manifest keeps fresh-stream and batch views identical.
    *
    * Rejected: assignments to hive-partition path columns (the row would
    * be left in a directory contradicting its value — re-layout via
    * compact instead) and to columns absent from the schema. A whole-table
    * sort marker is cleared when an assignment targets one of its columns
    * (updated values need not preserve the order).
    *
    * Re-run contract (library API): running the IDENTICAL update again is
    * treated as crash RESUMPTION — files already carrying this update's
    * hash are converged output and are skipped, so a non-idempotent
    * assignment (`v = v + 1`) is applied exactly once per distinct
    * statement, never doubled by a recovery re-run. To intentionally
    * re-apply such an update, vary the statement (predicate or expression)
    * — or pass a fresh `opNonce`, which is folded into the convergence
    * hash: the SQL path ([[GraftUpdateCommand]]) mints one nonce per
    * statement EXECUTION (persisted in a started-op marker so a crashed
    * execution still resumes under its own nonce), giving plain SQL
    * standard re-apply semantics while the library default stays
    * converge-on-re-run.
    */
  def updateWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      changelog: Boolean = false,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      opNonce: Option[String] = None): UpdateStats =
    locked(spark, dir, "updateWhere") {
      updateWhereImpl(spark, dir, predicate, assignments, changelog,
        schemaOverride, opNonce)
    }

  private def updateWhereImpl(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      changelog: Boolean,
      schemaOverride: Option[org.apache.spark.sql.types.StructType],
      opNonce: Option[String]): UpdateStats = {
    require(assignments.nonEmpty, "graft: updateWhere needs at least one assignment")
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val files = GraftUtil.listDataFiles(dir, conf)
    require(files.nonEmpty, s"graft: nothing to update under $dir")
    val manifestSnapshot = GraftManifest.list(fs, tableDir)
    val table = schemaOverride match {
      case Some(sc) => spark.read.format("graft").schema(sc).load(dir)
      case None => spark.read.format("graft").load(dir)
    }
    val schema = table.schema
    // resolve assignment targets against the schema NOW (case-insensitive,
    // like the rest of the catalog surface) and pin each expression to the
    // column's existing type — an UPDATE must never drift the table schema
    val norm: Seq[(String, org.apache.spark.sql.Column)] = assignments.toSeq.map {
      case (c, e) =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"graft: updateWhere target column '$c' does not exist " +
              s"(table has: ${schema.fieldNames.mkString(", ")})"))
        f.name -> e.cast(f.dataType)
    }
    // partition path columns are OUT: their value lives in the directory
    // name, and an in-place rewrite stays in that directory
    locally {
      val partCols = GraftUtil.layoutOf(tableDir, files)
      val hit = norm.map(_._1).filter(c => partCols.exists(_.equalsIgnoreCase(c)))
      require(hit.isEmpty,
        s"graft: updateWhere cannot assign hive-partition path column(s) " +
          s"${hit.mkString(", ")} — the row would contradict its directory; " +
          "re-layout via GraftMaintenance.compact(partitionBy = ...) instead")
    }
    val rowsTotal = {
      val c = GraftScan.rowCount(files, conf)
      if (c.isPresent) c.getAsLong else table.count()
    }
    // ONE probe job: matched files AND the matched-row count per file
    val matchedCounts: Map[String, Long] = phase("probe")(fileCounts(
      table.filter(predicate).select(org.apache.spark.sql.functions.input_file_name())))
    if (matchedCounts.nonEmpty) {
      val known = files.map(_.getPath.toString).toSet
      require(matchedCounts.keys.forall(f => f.nonEmpty && known.contains(f)),
        s"graft: updateWhere probe returned file names outside the table " +
          s"listing (input_file_name plumbing broken?): " +
          matchedCounts.keys.filterNot(known.contains).take(3).mkString(", "))
    }
    // deterministic (predicate, assignments) fingerprint names the
    // rewritten file — crash re-runs converge like deleteWhere's
    val updHash = {
      val rendered = predicate.toString + "|" +
        norm.map { case (c, e) => s"$c:=$e" }.sorted.mkString(";") +
        opNonce.map("|nonce:" + _).getOrElse("")
      java.security.MessageDigest.getInstance("MD5")
        .digest(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
    }
    // updated values need not preserve a whole-table sort on the assigned
    // columns — clear BEFORE any rewritten file becomes visible
    if (matchedCounts.nonEmpty &&
        GraftSortMarker.read(fs, tableDir).exists(cols =>
          cols.exists(c => norm.exists(_._1.equalsIgnoreCase(c)))))
      clearMarkerLocked(fs, tableDir, conf)
    val matchedFiles = files.filter(f => matchedCounts.contains(f.getPath.toString))
    val assignOf = norm.toMap
    val rw = phase("rewrite")(rewriteMatchedFiles(spark, conf, fs, tableDir,
      matchedFiles, schema, RewriteSpec(
        tag = "upd", hash = updHash,
        changelogOf = if (changelog) Some(df => df.filter(predicate)) else None,
        // every column keeps its position; non-matching rows (predicate
        // false OR null) pass through unchanged — SQL UPDATE semantics
        projectOf = df => {
          import org.apache.spark.sql.functions.{when, col}
          df.select(schema.fields.map { fld =>
            assignOf.get(fld.name) match {
              case Some(e) => when(predicate, e).otherwise(col(fld.name)).as(fld.name)
              case None => col(fld.name)
            }
          }.toIndexedSeq: _*)
        },
        allowEmpty = false, sameCount = true)))
    if (changelog) phase("changelog")(publishChangeFeed(conf, fs, tableDir))
    phase("heal+version-sync")(
      healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot))
    // matched rows in converged-skipped files were updated by a PREVIOUS
    // completed run of this statement, not this one — counting them would
    // make a no-op resume indistinguishable from a real update
    val updatedNow = matchedCounts.collect {
      case (f, n) if !rw.skippedConverged.contains(f) => n }.sum
    UpdateStats(rw.rewritten, files.size - rw.rewritten,
      updatedNow, rowsTotal, rw.skippedConverged.size)
  }

  /** Result of a merge: files rewritten / untouched, matched rows touched
    * by THIS run (a converged-skip resume does not re-count them), deleted
    * rows, appended rows, the pre-merge target total, and how many affected
    * files were skipped as already-converged output of this same merge. */
  final case class MergeStats(filesRewritten: Int, filesUntouched: Int,
      rowsUpdated: Long, rowsInserted: Long, rowsTotal: Long,
      rowsDeleted: Long = 0L, skippedConverged: Int = 0)

  /** One WHEN clause of a merge. `condition` guards the action (None =
    * unconditional); `assigns` None = DELETE, Some = the UPDATE / INSERT
    * values. Expression name context: matched clauses see target columns
    * by name and source columns as `SrcPrefix + name`; insert clauses see
    * source columns by their own names; not-matched-by-source clauses see
    * target columns only. Clauses apply FIRST-TRUE in order (SQL MERGE
    * semantics). */
  final case class MergeClause(condition: Option[org.apache.spark.sql.Column],
      assigns: Option[Map[String, org.apache.spark.sql.Column]])

  /** Reserved name prefix for the source side of a merge join: [[mergeInto]]
    * update expressions reference source columns as `SrcPrefix + name`.
    * Target schemas must not collide with it. */
  val SrcPrefix = "__graft_src__"

  /** Convenience upsert form of [[mergeApply]]: one unconditional UPDATE
    * for matched rows (`updateAssigns`, may be empty for insert-only) and
    * an optional unconditional INSERT of unmatched source rows.
    */
  def mergeInto(spark: SparkSession, dir: String,
      source: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)],
      updateAssigns: Map[String, org.apache.spark.sql.Column],
      insertExprs: Option[Map[String, org.apache.spark.sql.Column]],
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None): MergeStats =
    mergeApply(spark, dir, source, keys,
      matched = if (updateAssigns.nonEmpty) Seq(MergeClause(None, Some(updateAssigns))) else Seq.empty,
      notMatchedInsert = insertExprs.map(ie => MergeClause(None, Some(ie))).toSeq,
      schemaOverride = schemaOverride)

  /** Full SQL-MERGE semantics against a graft table: join `source` on
    * `keys` (targetCol -> sourceCol equi-pairs) and apply, per row, the
    * FIRST clause whose condition holds —
    *
    *   - `matched` clauses (UPDATE assigns / DELETE) to target rows with
    *     a source match,
    *   - `notMatchedBySource` clauses (UPDATE / DELETE, target-only
    *     expressions) to target rows withOUT a source match — the
    *     snapshot-sync shape (`... BY SOURCE THEN DELETE` makes the
    *     target exactly mirror the source),
    *   - `notMatchedInsert` clauses to source rows that matched nothing
    *     (first-true clause supplies the inserted values; rows matching
    *     no insert clause are not inserted).
    *
    * This is the CDC-apply pass a training corpus runs per ingest batch —
    * including the canonical tombstone shape (WHEN MATCHED AND op='D'
    * THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    * INSERT).
    *
    * Machinery and crash contract follow [[deleteWhere]]/[[updateWhere]]:
    * the source is materialized ONCE under the table scratch, distributed
    * probes map affected rows to files (a semi-join for matched clauses;
    * an anti-join when notMatchedBySource clauses exist — those can touch
    * any file), per-file rewrites publish at a deterministic name
    * (`-mrg<hash(spec, source content)>`) so a re-run with the SAME
    * source converges (files already carrying this merge's hash are
    * skipped; the merge's own ins-tagged insert commit is likewise
    * excluded from the rewrite set, so a resume never re-applies matched
    * clauses to rows this same merge inserted), and manifests heal
    * through the shared expiry + catch-up pass. Rows are exactly-once at
    * every point; a converged re-run is fully quiescent. Inserts append
    * LAST through the normal batch write —
    * atomic, published under an ordinary commit manifest (an insert IS
    * new data: incremental readers must see it, unlike the rewrites,
    * whose catch-up coverage they skip).
    *
    * Scale shape: probes + anti-join are single distributed jobs; each
    * affected file's rewrite joins one file against the materialized
    * source (broadcast when small — the typical CDC batch). Cost is
    * affectedFiles x sourceScan, the right trade when source << target;
    * a merge whose source RIVALS the target should re-cluster and
    * re-write instead (compact). Duplicate source keys are rejected (SQL
    * MERGE cardinality rule); null-keyed source rows are legal (they
    * match nothing and flow to the insert clauses).
    */
  def mergeApply(spark: SparkSession, dir: String,
      source: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MergeClause],
      notMatchedInsert: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      changelog: Boolean = false,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      opNonce: Option[String] = None,
      /** MERGE-ON-READ mode: matched UPDATE/DELETE clauses mask the old
        * rows via deletion-vector sidecars and append the updated versions
        * under one tagged commit — matched files stay byte-identical, the
        * CDC-upsert cadence without rewrite amplification (compaction
        * folds the masks later). NOT MATCHED inserts are unchanged.
        * Falls back to copy-on-write when notMatchedBySource clauses are
        * present (those rewrite arbitrary unmatched rows). Resume a
        * CRASHED dv-mode merge in dv mode (and vice versa): the two
        * modes' convergence markers differ (file-name -mrg stamps vs the
        * mdv append tag + masks), so flipping the mode between a crash
        * and its re-run forfeits the exactly-once guarantee. */
      dvMode: Boolean = false): MergeStats =
    locked(spark, dir, "merge") {
      mergeApplyImpl(spark, dir, source, keys, matched, notMatchedInsert,
        notMatchedBySource, changelog, schemaOverride, opNonce,
        trustDistinctKeys = false,
        dvMode = dvMode && notMatchedBySource.isEmpty)
    }

  /** [[mergeApply]] for sources the CALLER guarantees carry distinct
    * non-null keys (e.g. a frame built with `.distinct()` on the key):
    * the SQL cardinality job is skipped, and for a single integral key
    * the refined envelope comes straight from the materialized scratch's
    * FOOTER page stats — zero driver-sequenced Spark jobs between the
    * materialize and the probes. Wrong results if the guarantee is
    * violated, hence package-private. */
  private[spark] def mergeApplyTrusted(spark: SparkSession, dir: String,
      source: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MergeClause],
      notMatchedInsert: Seq[MergeClause]): MergeStats =
    locked(spark, dir, "merge") {
      // partition-local key sort (no shuffle) so the scratch's PAGES carry
      // tight [min,max] runs — unsorted pages each span the whole key
      // domain and the footer-derived envelope would degenerate to one
      // giant interval. Only worth paying when the envelope path can
      // actually use it: a single INTEGRAL key (the same gate the
      // refinement applies).
      val integralKey = keys.size == 1 &&
        source.schema.fields.find(_.name.equalsIgnoreCase(keys.head._2))
          .exists(_.dataType match {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          })
      val src =
        if (integralKey)
          source.sortWithinPartitions(org.apache.spark.sql.functions.col(keys.head._2))
        else source
      mergeApplyImpl(spark, dir, src, keys, matched, notMatchedInsert,
        Seq.empty, changelog = false, schemaOverride = None, opNonce = None,
        trustDistinctKeys = true)
    }

  /** Per-page [min,max] intervals of an integral column across a graft
    * directory, straight from file footers — driver-side tail reads, NO
    * Spark job. None when a file lacks the column, a non-empty page
    * carries no integral stats, or the file count exceeds the planning
    * cap (callers fall back to a scan-derived or single-interval
    * envelope, both sound). */
  private def footerKeyIntervals(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String, keyCol: String): Option[Seq[(Long, Long)]] = {
    val files = GraftUtil.listDataFiles(dir, conf)
    if (files.isEmpty || files.length > 256) return None
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    files.foreach { f =>
      val in = new HadoopSeekableInput(
        GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
      try {
        val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
        val schema = GraftFooterCache.schemaOf(footer.schemaJson)
        GraftSchema.leafIndexOfPath(schema, keyCol) match {
          case None => return None
          case Some(li) =>
            footer.leaves(li).pages.foreach { p =>
              if (p.statsKind == 1) out += ((p.minLong, p.maxLong))
              else if (p.numValues == 0 || p.nullCount == p.numValues) ()
              else return None // stats absent for real values: bail sound
            }
        }
      } finally in.close()
    }
    Some(out.toSeq)
  }

  /** Coalesce intervals and keep at most `maxRanges` by preserving the
    * widest value gaps as splits — the same <=32-range envelope shape the
    * cell aggregate produces, derived without a job. */
  private[spark] def mergeKeyIntervals(iv: Seq[(Long, Long)],
      maxRanges: Int = 32): Seq[(Long, Long)] = {
    if (iv.isEmpty) return Seq.empty
    val sorted = iv.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)](sorted.head)
    sorted.tail.foreach { case (lo, hi) =>
      val (plo, phi) = merged.last
      // overlap, or adjacency computed overflow-safely (a false negative
      // just keeps two ranges — sound)
      if (lo <= phi || (lo > phi && lo - phi == 1))
        merged(merged.size - 1) = (plo, math.max(phi, hi))
      else merged += ((lo, hi))
    }
    if (merged.size <= maxRanges) merged.toSeq
    else {
      val gaps = merged.sliding(2).zipWithIndex
        .map { case (pair, i) => (pair(1)._1 - pair(0)._2, i) }
        .toSeq.sortBy(-_._1).take(maxRanges - 1).map(_._2).toSet
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var (rLo, rHi) = merged.head
      merged.indices.foreach { i =>
        if (i > 0 && gaps.contains(i - 1)) {
          out += ((rLo, rHi)); rLo = merged(i)._1; rHi = merged(i)._2
        } else if (i > 0) rHi = math.max(rHi, merged(i)._2)
      }
      out += ((rLo, rHi))
      out.toSeq
    }
  }

  private def mergeApplyImpl(spark: SparkSession, dir: String,
      source: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)],
      matched: Seq[MergeClause],
      notMatchedInsert: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause],
      changelog: Boolean,
      schemaOverride: Option[org.apache.spark.sql.types.StructType],
      opNonce: Option[String],
      trustDistinctKeys: Boolean,
      dvMode: Boolean = false): MergeStats = {
    import org.apache.spark.sql.functions.{col, lit, input_file_name, hash => shash, count => scount, sum => ssum, when}
    require(keys.nonEmpty, "graft: merge needs at least one equi-key pair")
    require(matched.nonEmpty || notMatchedInsert.nonEmpty || notMatchedBySource.nonEmpty,
      "graft: merge with no clauses is a no-op")
    notMatchedInsert.foreach(c => require(c.assigns.isDefined,
      "graft: a NOT MATCHED insert clause needs values (assigns = None is DELETE, which has no meaning for an insert)"))
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val files = GraftUtil.listDataFiles(dir, conf)
    // an EMPTY target is legal when the merge inserts (every source row is
    // unmatched) — a fresh table populated by its first CDC batch
    require(files.nonEmpty || notMatchedInsert.nonEmpty,
      s"graft: nothing to merge into under $dir")
    require(files.nonEmpty || schemaOverride.isDefined,
      s"graft: merging into an empty directory needs an explicit schema")
    val manifestSnapshot = GraftManifest.list(fs, tableDir)
    val table = schemaOverride match {
      case Some(sc) => spark.read.format("graft").schema(sc).load(dir)
      case None => spark.read.format("graft").load(dir)
    }
    val schema = table.schema
    require(!schema.fieldNames.exists(_.startsWith(SrcPrefix)),
      s"graft: target column names must not start with the reserved '$SrcPrefix'")
    def targetField(c: String): org.apache.spark.sql.types.StructField =
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"graft: merge target column '$c' does not exist " +
            s"(table has: ${schema.fieldNames.mkString(", ")})"))
    val keyPairs = keys.map { case (t, s) => (targetField(t).name, s) }
    // normalize every clause: resolve targets, pin expression types
    def norm(c: MergeClause): MergeClause = c.copy(assigns = c.assigns.map(_.map {
      case (name, e) => val f = targetField(name); f.name -> e.cast(f.dataType)
    }))
    val matchedN = matched.map(norm)
    val nmbsN = notMatchedBySource.map(norm)
    val insertN = notMatchedInsert.map(norm)
    insertN.foreach { c =>
      val miss = schema.fieldNames.filterNot(f => c.assigns.get.keys.exists(_.equalsIgnoreCase(f)))
      require(miss.isEmpty,
        s"graft: merge INSERT must provide every target column; missing: ${miss.mkString(", ")}")
    }
    val allAssignTargets =
      (matchedN ++ nmbsN).flatMap(_.assigns).flatMap(_.keys).distinct
    locally { // partition path columns cannot be reassigned in place
      val partCols = GraftUtil.layoutOf(tableDir, files)
      val hit = allAssignTargets.filter(c => partCols.exists(_.equalsIgnoreCase(c)))
      require(hit.isEmpty,
        s"graft: merge cannot assign hive-partition path column(s) ${hit.mkString(", ")}")
    }
    // the reserved "__graft" namespace covers both the renamed source
    // columns and the join's match flag — a source column already inside
    // it would silently collide (e.g. shadowing the flag)
    require(!source.columns.exists(_.startsWith("__graft")),
      "graft: merge source column names must not start with '__graft'")
    // materialize the source ONCE (it may be an arbitrarily expensive
    // frame, and the per-file rewrites each join against it)
    val srcScratch = new org.apache.hadoop.fs.Path(tableDir,
      s"_graft_tmp_merge/src-${java.util.UUID.randomUUID().toString.take(8)}")
    // The cardinality/content fingerprint RIDES the materialization write
    // as OBSERVED metrics — the scan that stages the source computes them
    // for free, where a separate fingerprint agg was a whole extra
    // driver-sequenced job (fixed cost that dominates a small CDC batch).
    // Cardinality compares the exact distinct-key count against the
    // NON-NULL-key row count: a null-keyed source row never matches
    // anything (it is simply NOT MATCHED and inserts) and distinct
    // counting skips null tuples, so counting it against count(*) would
    // reject a legal batch. The fingerprint hashes EVERY source column,
    // not just the keys — a later CDC batch carrying the same keys with
    // NEW VALUES must get a fresh hash, or the converged-file skip would
    // silently drop it. countDistinct itself is NOT an observable metric
    // (CollectMetrics bars distinct aggregates), so the exact duplicate-
    // key check rides the envelope-refine cell aggregate below (single
    // integral key — the CDC shape) or a dedicated tiny job over the
    // scratch (general case; same job count as before).
    val srcKeyNames = keyPairs.map(_._2)
    val obsKeyCols = srcKeyNames.map(source(_))
    val obsNonNull = obsKeyCols.map(_.isNotNull).reduce(_ && _)
    val envTypes = keyPairs.map { case (_, s) =>
      source.schema.fields.find(_.name.equalsIgnoreCase(s)).map(_.dataType) }
    def envOrderable(dt: Option[org.apache.spark.sql.types.DataType]): Boolean =
      dt.exists {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.StringType => true
        case org.apache.spark.sql.types.DateType => true
        case org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    val envEligible = envTypes.forall(envOrderable)
    // key-envelope bounds ride the SAME observation: for orderable key
    // types, min/max of each source key column bound the table rows that
    // can possibly match — see envFilter below
    val envAggs =
      if (!envEligible) Seq.empty
      else obsKeyCols.zipWithIndex.flatMap { case (c, i) => Seq(
        org.apache.spark.sql.functions.min(c).as(s"lo$i"),
        org.apache.spark.sql.functions.max(c).as(s"hi$i")) }
    val fpObs = org.apache.spark.sql.Observation(
      s"graft-merge-fp-${java.util.UUID.randomUUID().toString.take(8)}")
    val fpObsAggs: Seq[org.apache.spark.sql.Column] = Seq(
      ssum(when(obsNonNull, 1L).otherwise(0L)).as("nnk"),
      ssum(shash(source.columns.map(source(_)).toIndexedSeq: _*).cast("long")).as("ch")) ++
      envAggs
    phase("materialize-source")(
      source.observe(fpObs, scount(lit(1)).as("n"), fpObsAggs: _*)
        .write.format("graft").mode("overwrite").save(srcScratch.toString))
    try {
      val src = spark.read.format("graft").load(srcScratch.toString)
      val srcKeyCols = srcKeyNames.map(src(_))
      val fpm = fpObs.get
      val fpN = fpm("n").asInstanceOf[Long]
      val fpNnk = Option(fpm("nnk")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val fpCh = Option(fpm("ch")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val envBounds: Seq[(Any, Any)] =
        if (!envEligible) Seq.empty
        else keyPairs.indices.map(i => (fpm(s"lo$i"), fpm(s"hi$i")))
      // SOURCE-KEY ENVELOPE: a table row whose key falls outside
      // [min, max] of the source keys can match NO source row, so the
      // matched probe and the NOT-MATCHED insert anti-join restrict their
      // table scans to the envelope — with sorted/clustered keys the zone
      // maps turn that into a few pages, making probe cost proportional
      // to the BATCH's key spread instead of the table size (the
      // O(changed) shape a 100 TB CDC apply needs; a batch spanning the
      // whole key domain degrades gracefully to the full scan). Sound for
      // those two uses only: the not-matched-by-source probe needs
      // exactly the rows the envelope excludes and never uses it.
      val envFilter: Option[org.apache.spark.sql.Column] =
        if (!envEligible || files.isEmpty) None
        else {
          if (envBounds.exists(b => b._1 == null || b._2 == null)) None
          else Some(keyPairs.zip(envBounds).map { case ((t, _), (lo, hi)) =>
            table(t) >= lit(lo) && table(t) <= lit(hi)
          }.reduce(_ && _))
        }
      // a real CDC batch is often BIMODAL — an update band plus fresh keys
      // near/above the table's max — and one [min,max] interval then spans
      // most of the table. For a single INTEGRAL key, refine the envelope
      // to <= 32 exact ranges: bucket the source keys into <= 1024 cells
      // over the envelope, collect the occupied cells (one tiny distinct),
      // and merge them into intervals keeping the widest gaps as splits.
      // The union covers every source key (exact cells, not a sample), so
      // the filter stays SOUND; zone maps then prune every page between
      // the modes. Non-integral or multi-key merges keep the single
      // interval.
      // exact distinct-key count, harvested by the cell aggregate below
      // when it runs (single integral key — the CDC-batch shape); the
      // general shapes pay a dedicated tiny job over the scratch instead
      var ndExact: Option[Long] = None
      val envRefined: Option[org.apache.spark.sql.Column] =
        if (envFilter.isEmpty || keyPairs.size != 1) envFilter
        else {
          val (tKey, sKey) = keyPairs.head
          val integral = envTypes.head.exists {
            case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
            case _ => false
          }
          def asLong(v: Any): Long = v match {
            case b: Byte => b.toLong; case s: Short => s.toLong
            case i: Int => i.toLong; case l: Long => l
          }
          if (!integral) envFilter
          else if (trustDistinctKeys) {
            // zero-job refinement: the materialized scratch's own footer
            // page stats bound the key space (pages partition ROWS, so
            // their [min,max] union covers every key — sound); the cell
            // aggregate below exists to also compute the exact distinct
            // count, which a trusted source does not need
            footerKeyIntervals(conf, srcScratch.toString, sKey)
              .map(mergeKeyIntervals(_))
              .filter(_.nonEmpty)
              .map(_.map { case (a, b) => table(tKey).between(a, b) }
                .reduce(_ || _))
              .orElse(envFilter)
          } else {
            val lo = asLong(envBounds.head._1); val hi = asLong(envBounds.head._2)
            val span = hi - lo
            if (span < 0 /* overflow */) envFilter
            else {
              val w = span / 1024 + 1
              // per-CELL exact key extents, not just occupancy: the grid
              // only decides where splits may fall — interval tightness
              // comes from the true min/max inside each cell, so a 4e5-key
              // band inside a 1e11 span still yields a 4e5-wide interval
              // (a width-only grid inflated it to the cell width, 1e8).
              // Per-cell countDistinct rides the same job: the cells
              // PARTITION the key space, so their sum is the exact global
              // distinct-key count the cardinality check needs.
              val cells = phase("envelope-cells")(src.filter(src(sKey).isNotNull)
                .groupBy(((src(sKey).cast("long") - lit(lo)) / lit(w)).cast("long").as("b"))
                .agg(org.apache.spark.sql.functions.min(src(sKey).cast("long")).as("mn"),
                  org.apache.spark.sql.functions.max(src(sKey).cast("long")).as("mx"),
                  org.apache.spark.sql.functions.countDistinct(src(sKey)).as("nd"))
                .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
                .sortBy(_._1))
              ndExact = Some(cells.map(_._4).sum)
              if (cells.isEmpty || span < 4096) envFilter
              else {
                // ONE envelope algorithm for both the cell path and the
                // trusted footer path: coalesce, keep the widest value
                // gaps as splits -> <= 32 ranges
                val ranges = mergeKeyIntervals(cells.map(c => (c._2, c._3)))
                Some(ranges.map { case (a, b) =>
                  table(tKey).between(a, b)
                }.reduce(_ || _))
              }
            }
          }
        }
      def envScoped(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        envRefined.map(df.filter).getOrElse(df)
      val fpNd: Long =
        if (trustDistinctKeys) fpNnk // caller-guaranteed: no cardinality job
        else ndExact.getOrElse {
          if (fpNnk == 0L) 0L
          else phase("fingerprint-distinct")(
            src.agg(org.apache.spark.sql.functions.countDistinct(
              srcKeyCols.head, srcKeyCols.tail: _*).as("nd")).collect()(0).getLong(0))
        }
      require(fpNnk == fpNd,
        s"graft: merge source has duplicate keys ($fpNnk non-null-key " +
          s"rows, $fpNd distinct) — a target row must match at most " +
          "one source row")
      // deterministic content fingerprint: same spec + same source rows =>
      // same rewrite names, so a crashed run's re-execution converges
      val mrgHash = {
        def render(cs: Seq[MergeClause]): String = cs.map(c =>
          c.condition.map(_.toString).getOrElse("-") + "?" +
            c.assigns.map(_.toSeq.map { case (k, e) => s"$k:=$e" }.sorted.mkString(";"))
              .getOrElse("DELETE")).mkString("|")
        val rendered = keyPairs.mkString(";") + "|M:" + render(matchedN) +
          "|I:" + render(insertN) + "|S:" + render(nmbsN) +
          s"|$fpN|$fpCh" +
          opNonce.map("|nonce:" + _).getOrElse("")
        java.security.MessageDigest.getInstance("MD5")
          .digest(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(4).map(b => f"$b%02x").mkString
      }
      // broadcast the materialized source when it is dimension-sized —
      // the typical CDC batch against a large table
      val srcBytes = GraftUtil.listDataFiles(srcScratch.toString, conf).map(_.getLen).sum
      val broadcastSrc = srcBytes <=
        math.max(0L, org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold)
      def hinted(df: org.apache.spark.sql.DataFrame) =
        if (broadcastSrc) df.hint("broadcast") else df
      val rowsTotal = {
        if (files.isEmpty) 0L
        else {
          val c = GraftScan.rowCount(files, conf)
          if (c.isPresent) c.getAsLong else table.count()
        }
      }
      // source side renamed behind the reserved prefix + a match flag whose
      // name no renamed source column can take (renames carry SrcPrefix,
      // which source columns are barred from — checked above)
      val matchFlag = "__graft_match__"
      val srcRenamed = src.columns.foldLeft(src)((d, c) =>
        d.withColumnRenamed(c, SrcPrefix + c))
        .withColumn(matchFlag, lit(true))
      // ---- probes: affected rows -> files ----
      // BOTH probes are narrowed by their clauses' conditions — a file
      // whose key-matched rows satisfy no clause must not be rewritten
      // (probe conditions may reference both sides, so the matched probe
      // joins the renamed source rather than semi-joining).
      // input_file_name() is captured as a COLUMN on the table side BEFORE
      // the join: evaluated after a shuffled join it returns "" (the
      // post-exchange task reads no file), so selecting it post-join only
      // worked when the source happened to broadcast — any source above the
      // broadcast threshold, or a session with autoBroadcastJoinThreshold
      // = -1, planned a sort-merge join and aborted every merge. Captured
      // pre-join it is ordinary row data and survives any join strategy.
      val fileCol = Iterator.from(0).map(i => s"__graft_probe_file_$i")
        .find(n => !schema.fieldNames.exists(_.equalsIgnoreCase(n))).get
      val tableF = table.withColumn(fileCol, input_file_name())
      val joinCond = keyPairs.map { case (t, s) => table(t) === src(s) }.reduce(_ && _)
      val joinCondR = keyPairs.map { case (t, s) =>
        table(t) === col(SrcPrefix + s) }.reduce(_ && _)
      val matchedCounts: Map[String, Long] =
        // dv mode derives its masks from the matched-row materialization
        // below — the file-selection probe exists only for the rewrites
        if (dvMode || matchedN.isEmpty || files.isEmpty) Map.empty
        else phase("probe-matched") {
          val condOr = matchedN.map(_.condition.getOrElse(lit(true))).reduce(_ || _)
          fileCounts(envScoped(tableF).join(hinted(srcRenamed), joinCondR)
            .filter(condOr).select(col(fileCol)))
        }
      // not-matched-by-source clauses can touch rows in ANY file; the
      // anti-join probe (narrowed likewise — target-only conditions)
      // keeps the rewrite set selective
      val nmbsFiles: Set[String] =
        if (nmbsN.isEmpty || files.isEmpty) Set.empty
        else {
          val condOr = nmbsN.map(_.condition.getOrElse(lit(true))).reduce(_ || _)
          fileCounts(tableF.join(hinted(src), joinCond, "left_anti").filter(condOr)
            .select(col(fileCol))).keySet
        }
      // a RESUME of this same merge (crash after the insert append, or a
      // converging library re-run) must not re-apply the matched clauses
      // to the rows THIS merge inserted: the appended file carries no
      // -mrg marker in its name, so the converged-file skip can't protect
      // it, and a non-idempotent matched assignment (v = v + s.dv) would
      // corrupt the freshly inserted values. Files of this merge's OWN
      // ins<hash>-tagged commit are therefore excluded from the rewrite
      // set (and from the touched-row stats). A LATER identical merge
      // through SQL gets a fresh nonce -> different hash -> no exclusion,
      // so standard re-run semantics (matched clauses DO apply to rows a
      // previous execution inserted) are preserved.
      val ownInsertFiles: Set[String] = {
        val insName = GraftManifest.list(fs, tableDir)
          .find(_.endsWith(s"-ins$mrgHash"))
        insName.map(n => GraftManifest.read(fs, tableDir, n).map { case (rel, _) =>
          fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, rel)).toString
        }.toSet).getOrElse(Set.empty)
      }
      val matchedEligible = matchedCounts.filter { case (f, _) =>
        !ownInsertFiles.contains(
          fs.makeQualified(new org.apache.hadoop.fs.Path(f)).toString) }
      val affected = matchedEligible.keySet ++ nmbsFiles
      if (affected.nonEmpty) {
        val known = files.map(_.getPath.toString).toSet
        require(affected.forall(f => f.nonEmpty && known.contains(f)),
          "graft: merge probe returned file names outside the table listing")
      }
      val affectedFiles = files.filter(f => affected.contains(f.getPath.toString))
      // the rewrite replaces values on arbitrary columns — a whole-table
      // sort guarantee cannot survive when a sort column is assigned
      if (affectedFiles.nonEmpty &&
          GraftSortMarker.read(fs, tableDir).exists(cols =>
            cols.exists(c => allAssignTargets.exists(_.equalsIgnoreCase(c)))))
        clearMarkerLocked(fs, tableDir, conf)
      val anyDelete = (matchedN ++ nmbsN).exists(_.assigns.isEmpty)
      // ---- stage the NOT MATCHED insert set BEFORE any rewrite ----
      // SQL semantics: "not matched" is judged against the table AS OF THE
      // MERGE START. Computing it after the rewrites would resurrect rows
      // a matched DELETE just removed (their keys vanish from the table,
      // so the anti-join wrongly calls their source rows unmatched). The
      // staged set is written at a deterministic hash-keyed path, so a
      // crash between rewrites and insert resumes from the SAME pre-state
      // snapshot instead of recomputing against a half-rewritten table.
      val insStage = new org.apache.hadoop.fs.Path(
        tableDir, s"_graft_tmp_merge/ins-$mrgHash")
      if (insertN.nonEmpty && !fs.exists(insStage)) phase("stage-inserts") {
        val keep = insertN.foldRight(lit(false)) { case (c, acc) =>
          when(c.condition.getOrElse(lit(true)), lit(true)).otherwise(acc) }
        val missing =
          if (files.isEmpty) src.filter(keep)
          else {
            val antiCond = keyPairs.map { case (t, s) => table(t) === src(s) }.reduce(_ && _)
            // envelope-scoped: table rows outside the source key bounds
            // can't claim any source row as matched, so excluding them
            // changes nothing about which source rows are NOT matched
            src.join(envScoped(table), antiCond, "left_anti").filter(keep)
          }
        logDebug("[graft-dml] stage-inserts plan:\n" +
          missing.queryExecution.executedPlan.treeString.linesIterator.take(30)
            .mkString("\n"))
        missing.write.format("graft").mode("overwrite").save(insStage.toString)
      }
      // ---- per-file rewrites ----
      val ordered0: Seq[(Boolean, Option[org.apache.spark.sql.Column], Option[Map[String, org.apache.spark.sql.Column]])] =
        matchedN.map(c => (true, c.condition, c.assigns)) ++
          nmbsN.map(c => (false, c.condition, c.assigns))
      def clauseGuards(isMatched: org.apache.spark.sql.Column) =
        ordered0.map { case (onMatch, cnd, as) =>
          ((if (onMatch) isMatched else !isMatched) && cnd.getOrElse(lit(true)), as) }
      // ---- MERGE-ON-READ apply: mask + tagged append instead of rewrites ----
      // Order (the updateWhereDv crash contract): matched-row snapshot to
      // scratch -> changelog pre-images -> tagged append of updated
      // versions -> masks LAST. A crash after the append leaves old+new
      // visible; the resume excludes this merge's own appended files from
      // the matched scan (tag lookup), its append replays as a no-op, and
      // its masks converge (cumulative OR over still-live matches). Masks
      // publish VERSIONED: a merge is not a takedown — pinned reads older
      // than it reproduce the pre-merge dataset.
      val dvTag = s"mdv$mrgHash"
      val dvApplied: Long =
        if (!dvMode || matchedN.isEmpty || files.isEmpty) 0L
        else phase("dv-apply") {
          val ownDvFiles: Set[String] = GraftManifest.list(fs, tableDir)
            .filter(_.endsWith("-" + dvTag))
            .flatMap(m => GraftManifest.read(fs, tableDir, m).map(e =>
              fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, e._1)).toString))
            .toSet
          val excluded = ownDvFiles ++ ownInsertFiles
          val scoped =
            if (excluded.isEmpty) table
            else table.filter(!input_file_name()
              .isin(excluded.toSeq.map(lit(_)): _*))
          val ordCol = fileCol + "_ord"
          val tF2 = envScoped(scoped
            .withColumn(fileCol, input_file_name())
            .withColumn(ordCol, col(GraftDv.OrdinalCol)))
          val joined = tF2.join(hinted(srcRenamed),
            keyPairs.map { case (t, s) => tF2(t) === col(SrcPrefix + s) }.reduce(_ && _))
          // first-true clause per row (all matched here — inner join)
          val guards = matchedN.map(c => (c.condition.getOrElse(lit(true)), c.assigns))
          val applies = guards.foldRight(lit(false)) { case ((g, _), acc) =>
            when(g, lit(true)).otherwise(acc) }
          val drop = guards.foldRight(lit(false)) { case ((g, as), acc) =>
            when(g, lit(as.isEmpty)).otherwise(acc) }
          def newValueOf(fld: org.apache.spark.sql.types.StructField) =
            guards.foldRight(col(fld.name)) { case ((g, as), acc) =>
              when(g, as.flatMap(_.get(fld.name)).getOrElse(col(fld.name)))
                .otherwise(acc) }
          // ONE durable snapshot serves changelog + append + masks: old
          // values (pre-images), new values (append), drop flag, ordinal
          val newPfx = "__graft_new__"
          val snap = joined.filter(applies).select(
            (schema.fields.map(fld => col(fld.name)) ++
              schema.fields.map(fld => newValueOf(fld).as(newPfx + fld.name)) ++
              Seq(col(fileCol), col(ordCol), drop.as("__graft_drop__"))).toIndexedSeq: _*)
          val dvScratch = new org.apache.hadoop.fs.Path(
            tableDir, s"_graft_tmp_merge/dvm-$mrgHash")
          snap.write.format("graft").mode("overwrite").save(dvScratch.toString)
          val snapFiles = GraftUtil.listDataFiles(dvScratch.toString, conf)
          if (snapFiles.isEmpty) 0L
          else {
            val matchedSnap = spark.read.format("graft").load(dvScratch.toString)
            val applied = {
              val c = GraftScan.rowCount(snapFiles, conf)
              if (c.isPresent) c.getAsLong else matchedSnap.count()
            }
            // ONE probe of the snapshot: per-file ordinal bitmaps folded
            // executor-side — the change feed's file set and, last, the
            // masks (the probe publishes nothing)
            val perFile = probeByFile(
              matchedSnap.select(col(fileCol), col(ordCol)), BitmapFold)._1
            // changelog FIRST: pre-images of every applied row under the
            // -mrg marker (typed change_preimage), ONE feed file PER
            // matched data file at deterministic names — parallel, resume-
            // idempotent (sharded from the materialized snapshot)
            if (changelog) {
              publishDvChangelog(spark, conf, fs, tableDir, perFile.keys.toSeq,
                s"-mrg$mrgHash", "_graft_tmp_merge",
                f => matchedSnap.filter(col(fileCol) === f)
                  .select(schema.fields.map(fld => col(fld.name)).toIndexedSeq: _*))
              publishChangeFeed(conf, fs, tableDir)
            }
            // tagged append of the non-dropped NEW versions (replay: the
            // tag is found in the version log / manifests and skipped)
            val alreadyAppended =
              GraftVersionLog.currentGeneration(GraftVersionLog.sync(fs, tableDir))
                .exists(_.endsWith("-" + dvTag)) ||
                GraftManifest.list(fs, tableDir).exists(_.endsWith("-" + dvTag))
            if (!alreadyAppended) {
              val newVersions = matchedSnap.filter(!col("__graft_drop__"))
                .select(schema.fields.map(fld =>
                  col(newPfx + fld.name).as(fld.name)).toIndexedSeq: _*)
              val partCols = GraftUtil.layoutOf(tableDir, files)
              val w0 = newVersions.write.format("graft").mode("append")
                .option("manifesttag", dvTag)
              (if (partCols.nonEmpty) w0.option("partitionby", partCols.mkString(","))
               else w0).save(dir)
            }
            // test seam: crash in the append->mask window (old+new both
            // visible) — the resume must converge to exactly-once
            if (dvMergeCrashAfterAppend)
              throw new RuntimeException("graft-test: dv-merge crash after append")
            // masks LAST, versioned
            publishDvMasks(fs, tableDir, perFile, takedown = false)
            applied
          }
        }
      val rewritten =
        if (dvMode) RewriteResult(0, Set.empty)
        else phase("rewrite-files")(rewriteMatchedFiles(spark, conf, fs, tableDir,
        affectedFiles, schema, RewriteSpec(
          tag = "mrg", hash = mrgHash,
          // pre-images of every row a clause APPLIES to — without this,
          // rows a merge tombstone deletes would vanish from the CDC feed
          // unrecoverably (deleteWhere/updateWhere expose the same option)
          changelogOf =
            if (!changelog) None
            else Some(one => {
              val joined = one.join(hinted(srcRenamed),
                keyPairs.map { case (t, s) => one(t) === col(SrcPrefix + s) }.reduce(_ && _),
                "left")
              val isMatched = col(matchFlag).isNotNull
              val applies = clauseGuards(isMatched).foldRight(lit(false)) {
                case ((g, _), acc) => when(g, lit(true)).otherwise(acc) }
              joined.filter(applies)
                .select(schema.fields.map(fld => col(fld.name)).toIndexedSeq: _*)
            }),
          projectOf = one => {
            val joined = one.join(hinted(srcRenamed),
              keyPairs.map { case (t, s) => one(t) === col(SrcPrefix + s) }.reduce(_ && _),
              "left")
            val isMatched = col(matchFlag).isNotNull
            // FIRST-TRUE clause per row: matched clauses guard on the
            // match flag, by-source clauses on its negation; a foldRight
            // nests when(first)...otherwise(when(second)...) so earlier
            // clauses win, and a null condition reads as not-satisfied
            val ordered = clauseGuards(isMatched)
            val drop = ordered.foldRight(lit(false)) { case ((g, as), acc) =>
              when(g, lit(as.isEmpty)).otherwise(acc) }
            def valueOf(fld: org.apache.spark.sql.types.StructField) =
              ordered.foldRight(col(fld.name)) { case ((g, as), acc) =>
                when(g, as.flatMap(_.get(fld.name)).getOrElse(col(fld.name)))
                  .otherwise(acc) }
            joined.filter(!drop)
              .select(schema.fields.map(fld => valueOf(fld).as(fld.name)).toIndexedSeq: _*)
          },
          allowEmpty = anyDelete, sameCount = !anyDelete)))
      if (changelog && !dvMode) publishChangeFeed(conf, fs, tableDir)
      // manifests heal BEFORE the insert: the rewrites' catch-up coverage
      // must never adopt the insert's files (those belong to the ordinary
      // commit manifest the append publishes). dv mode never expires a
      // manifest (masks + appends only) — nothing to heal.
      if (!dvMode) phase("heal-manifests")(
        healManifestsAfterRewrite(dir, conf, fs, tableDir, manifestSnapshot))
      // ---- inserts: the staged pre-state NOT MATCHED set, appended last ----
      // The append is IDEMPOTENT across crash re-runs: its commit manifest
      // carries the deterministic tag ins<mrgHash> (same pattern as the
      // streaming sink's epoch tags), so a crash between the append commit
      // and the success-only staging cleanup no longer duplicates every
      // inserted row on resume — the re-run finds the tag and skips the
      // append (the batch writer double-checks at commit time). The tag is
      // looked up in the VERSION LOG, not the live manifest list: a resume
      // whose rewrite pass touches the previously-inserted file EXPIRES the
      // ins manifest through the heal pass above, but every expiry path
      // registers the manifest in the log first, so the log remembers the
      // commit across any crash/rewrite sequence. (Flip side, consistent
      // with the -mrg file-name markers: an identical library-path merge
      // never re-inserts even if the rows were deleted in between — vary
      // the statement, or go through SQL, whose per-execution nonce gives
      // every execution a fresh hash.)
      val insTag = s"ins$mrgHash"
      val rowsInserted =
        if (insertN.isEmpty) 0L
        else phase("append-inserts") {
          val staged = GraftUtil.listDataFiles(insStage.toString, conf)
          if (staged.isEmpty) 0L
          else {
            val missing = spark.read.format("graft").load(insStage.toString)
            val n = {
              val c = GraftScan.rowCount(staged, conf)
              if (c.isPresent) c.getAsLong else missing.count()
            }
            // CURRENT-generation scope: a truncating overwrite appends a
            // sentinel to the log, so an insert commit the truncate wiped
            // can never suppress a legitimate re-insert afterwards
            val alreadyAppended =
              GraftVersionLog.currentGeneration(GraftVersionLog.sync(fs, tableDir))
                .exists(_.endsWith("-" + insTag)) ||
                GraftManifest.list(fs, tableDir).exists(_.endsWith("-" + insTag))
            if (n > 0 && !alreadyAppended) {
              val w0 = missing.select(schema.fields.map { fld =>
                insertN.foldRight(lit(null).cast(fld.dataType)) { case (c, acc) =>
                  when(c.condition.getOrElse(lit(true)),
                    c.assigns.get.find(_._1.equalsIgnoreCase(fld.name)).get._2)
                    .otherwise(acc)
                }.as(fld.name)
              }.toIndexedSeq: _*).write.format("graft").mode("append")
                .option("manifesttag", insTag)
              // preserve the hive layout (the MOR appends' rule): inserted
              // rows land in their partition dirs, not at the table root —
              // a root file strips directory pruning and reads as a MIXED
              // layout to the catalog's strict partition inference
              val partCols = GraftUtil.layoutOf(tableDir, files)
              (if (partCols.nonEmpty) w0.option("partitionby", partCols.mkString(","))
               else w0).save(dir)
            }
            n
          }
        }
      // rowsDeleted needs a post-merge recount — only pay it when a
      // delete clause could actually have removed rows
      val rowsDeleted =
        if (!anyDelete) 0L
        else {
          val live = GraftUtil.listDataFiles(dir, conf)
          val after =
            if (live.isEmpty) 0L
            else {
              val c = GraftScan.rowCount(live, conf)
              if (c.isPresent) c.getAsLong
              else spark.read.format("graft").schema(schema).load(dir).count()
            }
          math.max(0L, rowsTotal + rowsInserted - after)
        }
      val touchedNow =
        if (dvMode) dvApplied
        else matchedEligible.collect {
          case (f, n) if !rewritten.skippedConverged.contains(f) => n }.sum
      val stats = MergeStats(rewritten.rewritten, files.size - rewritten.rewritten,
        touchedNow, rowsInserted, rowsTotal, rowsDeleted,
        rewritten.skippedConverged.size)
      // SUCCESS-only cleanup: on a failure the hash-keyed insert staging
      // must survive so the resume re-run replays the PRE-state snapshot
      // (vacuum ages anything a permanently abandoned run leaves behind)
      fs.delete(new org.apache.hadoop.fs.Path(tableDir, "_graft_tmp_merge"), true)
      stats
    } catch {
      case e: Throwable =>
        // the uuid-keyed materialized source is useless across runs
        fs.delete(srcScratch, true)
        throw e
    }
  }

  /** Manifest retention: delete commit manifests older than `olderThanMs`
    * (epoch millis). Data files are NEVER touched — a file whose manifest
    * is expired simply becomes "pre-manifest history", visible in every
    * `asof` snapshot and to every batch reader exactly as before. What
    * expires is snapshot GRANULARITY older than the cutoff, bounding the
    * `_graft_manifest/` directory on a long-lived ingest table. Returns
    * the number of manifests removed.
    *
    * Streaming caveat: a manifest-mode stream checkpoint that has NOT yet
    * processed a manifest loses those files if it expires — keep the
    * retention window comfortably longer than the longest expected stream
    * downtime (the same contract as any log-retention + consumer-lag
    * pairing).
    */
  def expireManifests(spark: SparkSession, dir: String, olderThanMs: Long): Int =
    locked(spark, dir, "expireManifests") {
      expireManifestsImpl(spark, dir, olderThanMs)
    }

  private def expireManifestsImpl(spark: SparkSession, dir: String,
      olderThanMs: Long): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    GraftVersionLog.sync(fs, tableDir) // ordinals registered before expiry
    val expired = GraftManifest.list(fs, tableDir)
      .filter(n => GraftManifest.nameT(n) < olderThanMs)
    expired.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(tableDir), n), false))
    expired.size
  }

  /** Result of a [[vacuum]] pass (counts/bytes of what was — or, in dry-run,
    * would be — removed; `candidates` lists the doomed paths, capped so a
    * huge backlog can't balloon the driver).
    */
  final case class VacuumStats(stagingTmps: Int, scratchFiles: Int,
      changelogFiles: Int, bytesReclaimed: Long, candidates: Seq[String])

  /** Garbage-collect the detritus a long-lived table accumulates that no
    * reader will ever see but every `ls` (and every storage bill) pays for:
    *
    *   1. `.`-prefixed `*.tmp` STAGING leftovers of crashed write jobs,
    *      anywhere in the table tree (data staging `.f.aN.tmp`, manifest
    *      staging `. name.tmp`). Batch writes sweep these on the NEXT write
    *      to the same dir — but a table that is only read after a crashed
    *      load keeps them forever.
    *   2. `_graft_tmp_delete/` scratch dirs orphaned by a crashed
    *      deleteWhere (the next delete pass also clears them; vacuum covers
    *      the table nobody deletes from again).
    *   3. Optionally (`changelogOlderThanMs`), `_graft_changes/` CDC feed
    *      files whose commit is older than the given epoch-millis cutoff —
    *      changelog RETENTION, off by default because expiring feed history
    *      silently breaks a lagging `since` consumer (same contract as
    *      [[expireManifests]]: keep the window longer than the longest
    *      expected consumer lag). Their covering changelog manifests expire
    *      with them.
    *
    * Live `*.graft` data files and live commit manifests are NEVER
    * candidates — readers list those directly, so "referenced" equals
    * "exists" in this layout and there is no unreferenced-data-file state
    * to collect; what vacuum owns is everything invisible to readers.
    *
    * `olderThanMs` is an epoch-millis cutoff (as in [[expireManifests]]):
    * only junk last modified BEFORE it is touched, which is what makes
    * vacuum safe to run next to an in-flight write job — that job's staged
    * tmps are younger than any sane cutoff (minutes, not task lifetimes,
    * of slack needed: a stage is published within its task attempt).
    * `dryRun = true` reports without deleting.
    */
  def vacuum(spark: SparkSession, dir: String, olderThanMs: Long,
      dryRun: Boolean = false,
      changelogOlderThanMs: Option[Long] = None): VacuumStats =
    if (dryRun) // a report mutates nothing — no lock
      vacuumImpl(spark, dir, olderThanMs, dryRun, changelogOlderThanMs)
    else locked(spark, dir, "vacuum") {
      vacuumImpl(spark, dir, olderThanMs, dryRun, changelogOlderThanMs)
    }

  private def vacuumImpl(spark: SparkSession, dir: String, olderThanMs: Long,
      dryRun: Boolean,
      changelogOlderThanMs: Option[Long]): VacuumStats = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    require(fs.exists(tableDir), s"graft: no table at $dir")
    val capped = 1000
    var tmps, scratch, changelog = 0
    var bytes = 0L
    val names = Seq.newBuilder[String]
    def doom(st: org.apache.hadoop.fs.FileStatus): Unit = {
      bytes += st.getLen
      if (tmps + scratch + changelog <= capped) names += st.getPath.toString
      if (!dryRun) fs.delete(st.getPath, false)
    }
    // (1) staging tmps: table root, hive partition subdirs, manifest dir
    def sweepTmps(d: Path): Unit = if (fs.exists(d))
      fs.listStatus(d).foreach { f =>
        val n = f.getPath.getName
        // a column-mapping tmp in the delete->rename crash window is the
        // table's SOLE mapping copy (read() promotes it); only sweep once
        // a committed sidecar exists — same guard as the schema sidecar
        if (f.isFile && n.startsWith("." + GraftColumnMap.Name + ".") &&
          n.endsWith(".tmp")) {
          if (f.getModificationTime < olderThanMs &&
            fs.exists(new Path(d, GraftColumnMap.Name))) { tmps += 1; doom(f) }
        }
        // version-log tmp: same sole-copy crash window as the mapping
        else if (f.isFile && n.startsWith("." + GraftVersionLog.Name + ".") &&
          n.endsWith(".tmp")) {
          if (f.getModificationTime < olderThanMs &&
            fs.exists(new Path(d, GraftVersionLog.Name))) { tmps += 1; doom(f) }
        }
        else if (f.isFile && n.startsWith(".") && n.endsWith(".tmp") &&
          f.getModificationTime < olderThanMs) { tmps += 1; doom(f) }
        // crashed-ALTER sidecar tmps (`.tmp-<uuid>` suffix, so the generic
        // `.tmp` match misses them) — ONLY when a committed sidecar exists:
        // in the crash window the newest tmp is the table's sole schema
        // copy, and sidecarSchema promotes it on the next read
        else if (f.isFile && n.startsWith("._graft_table.json.tmp-") &&
          f.getModificationTime < olderThanMs &&
          fs.exists(new Path(d, "_graft_table.json"))) { tmps += 1; doom(f) }
        else if (f.isDirectory && (n.contains('=') || n == GraftManifest.DirName ||
            n == GraftCdc.ChangesDir))
          sweepTmps(f.getPath)
      }
    sweepTmps(tableDir)
    // (2) deleteWhere / updateWhere / mergeInto / analyze scratch
    Seq("_graft_tmp_delete", "_graft_tmp_update", "_graft_tmp_merge",
      "_graft_tmp_analyze").foreach { sd =>
      val scratchDir = new Path(tableDir, sd)
      if (fs.exists(scratchDir)) {
        def sweepScratch(d: Path): Unit = {
          fs.listStatus(d).foreach { f =>
            if (f.isDirectory) sweepScratch(f.getPath)
            else if (f.getModificationTime < olderThanMs) { scratch += 1; doom(f) }
          }
          if (!dryRun && fs.listStatus(d).isEmpty) fs.delete(d, false)
        }
        sweepScratch(scratchDir)
      }
    }
    // (2b) ORPHANED deletion-vector sidecars: a DV whose data file is gone
    // (retired by a path that could not know the sidecar — e.g. an
    // external delete) is garbage, and worse than garbage: hasAny() keeps
    // the table on the row-based masked-scan path and declines pushdowns
    // for a mask nothing references. Live-ident keyed, age-gated like the
    // other sweeps (a mid-publish sidecar for an in-flight commit's file
    // must survive its own race).
    locally {
      val dvDir = GraftDv.dir(tableDir)
      if (fs.exists(dvDir)) {
        val liveIdents = GraftUtil.listDataFiles(dir, conf)
          .map(f => GraftDv.identOf(tableDir, f.getPath)).toSet
        // superseded generation retirement: a non-max generation is only
        // reachable by `asof` reads pinned BEFORE its successor published
        // — once the successor is older than the retention cutoff, those
        // snapshots are no longer served and the old sidecar can go. A
        // generation below the highest TAKEDOWN gen is unreachable at any
        // pin (the read rule floors to the takedown) — a crashed takedown
        // sweep's stragglers, re-swept here.
        val doomed: Set[String] = GraftDv.listAll(fs, tableDir).values.flatMap { es =>
          val takedownGen = es.filter(_.takedown).map(_.gen).maxOption.getOrElse(-1)
          es.zipWithIndex.filter { case (e, i) =>
            i < es.length - 1 && (e.gen < takedownGen ||
              es(i + 1).timeMs < olderThanMs)
          }.map(_._1.path)
        }.toSet
        fs.listStatus(dvDir).foreach { f =>
          val n = f.getPath.getName
          val ident = GraftDv.identOfSidecar(n)
          val orphanDv = ident.exists(!liveIdents.contains(_))
          val staleTmp = n.startsWith(".") && n.endsWith(".tmp")
          val superseded = doomed.contains(fs.makeQualified(f.getPath).toString)
          if (((orphanDv || staleTmp) && f.getModificationTime < olderThanMs)
              || superseded) {
            scratch += 1; doom(f)
          }
        }
        if (!dryRun && fs.listStatus(dvDir).isEmpty) fs.delete(dvDir, false)
      }
    }
    // (3) changelog retention (opt-in)
    changelogOlderThanMs.foreach { cutoff =>
      val clDir = new Path(tableDir, GraftCdc.ChangesDir)
      if (fs.exists(clDir)) {
        // a feed file's commit time is the max manifest that lists it; feed
        // files no manifest lists yet (mid-publish) are never candidates
        val byFile = scala.collection.mutable.Map.empty[String, Long]
        GraftManifest.list(fs, clDir).foreach { m =>
          val t = GraftManifest.nameT(m)
          GraftManifest.read(fs, clDir, m).foreach { case (n, _) =>
            byFile(n) = math.max(byFile.getOrElse(n, 0L), t)
          }
        }
        fs.listStatus(clDir).foreach { f =>
          val n = f.getPath.getName
          if (f.isFile && n.endsWith(GraftUtil.Extension) &&
            byFile.get(n).exists(_ < cutoff)) { changelog += 1; doom(f) }
        }
        if (!dryRun) expireManifests(spark, clDir.toString, cutoff)
      }
    }
    VacuumStats(tmps, scratch, changelog, bytes, names.result())
  }

  /** Z-ORDER re-layout: cluster the table on the bit-interleaved rank of
    * 2-3 numeric/timestamp columns, so range predicates on EACH column
    * prune page groups — the multi-dimensional alternative to `sortby`
    * (which serves its first column perfectly and later ones not at all).
    * Each column is min/max-scaled to 21 bits (one aggregate over the
    * table), the scaled values are bit-interleaved into a 63-bit z-value,
    * and the rewrite range-partitions + sorts on it, giving every file and
    * page group an axis-aligned tile of the value space. Same in-place
    * safety model as [[compact]] (append-mode rewrite + snapshot-scoped
    * deletes). The z-value is computed with plain Spark SQL expressions —
    * no UDF — and dropped before the write.
    */
  def zorder(spark: SparkSession, dir: String, cols: Seq[String],
      targetFiles: Int): CompactStats = {
    require(cols.size >= 2 && cols.size <= 3,
      s"graft: zorder takes 2-3 columns, got ${cols.size}")
    import org.apache.spark.sql.functions._
    val bits = 21 // 3 cols x 21 bits = 63 bits, sign bit untouched
    val src = spark.read.format("graft").load(dir)
    cols.foreach(c => require(src.schema.fieldNames.contains(c),
      s"graft: zorder column '$c' not in table schema"))
    require(!src.schema.fieldNames.contains("__graft_z"),
      "graft: the table carries a column named '__graft_z', which zorder " +
        "uses as its scratch rank column — rename it before re-clustering")
    // per-column bounds in ONE pass; numeric/timestamp columns only
    val bounds = src.agg(
      min(col(cols.head)).cast("double"), max(col(cols.head)).cast("double"),
      min(col(cols(1))).cast("double"), max(col(cols(1))).cast("double"),
      min(col(cols.last)).cast("double"), max(col(cols.last)).cast("double")).head()
    def scaled(i: Int, c: String): org.apache.spark.sql.Column = {
      require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
        s"graft: zorder column '$c' has no non-null values — its bounds are " +
          "undefined; drop it from the zorder key set")
      val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      val range = if (hi > lo) hi - lo else 1.0
      least(lit((1L << bits) - 1), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo)) / lit(range) * lit(((1L << bits) - 1).toDouble))
          .cast("bigint")))
    }
    val nCols = cols.size
    val parts = cols.zipWithIndex.map { case (c, i) =>
      // interleave: bit j of column i lands at position j*nCols + i
      val sc = scaled(i, c)
      (0 until bits).map(j =>
        shiftleft(shiftright(sc, j).bitwiseAND(lit(1L)), j * nCols + i))
        .reduce(_.bitwiseOR(_))
    }
    val z = parts.reduce(_.bitwiseOR(_))
    compactImpl(spark, dir, targetFiles, Map.empty, () => (), zSort = Some(z))
  }

  /** PARTITION-SCOPED compaction: compact ONE hive partition's small
    * files, leaving every other partition byte-identical — the OPTIMIZE
    * WHERE shape. At 100 TB, whole-table compaction is a rewrite of the
    * world; the steady-state maintenance loop compacts only the
    * partitions the last ingest fragmented, each a job bounded by that
    * partition's bytes.
    *
    * Mechanics: the partition's rows are read through the ordinary scan
    * (deletion vectors applied, so masks FOLD — matching [[compact]]),
    * appended back into the same partition dirs, and then exactly the
    * pre-rewrite snapshot of that partition's files is retired through
    * [[overwriteRetire]] (manifest heal, dv sidecar drops). Crash
    * contract = [[compact]]'s: a crash mid-retire leaves old+new visible
    * (duplicates, never loss); the retire is snapshot-scoped, so a
    * concurrent append into the same partition is never deleted. The
    * whole-table sort marker clears (an append cannot prove it), like
    * any partial re-layout.
    */
  def compactPartition(spark: SparkSession, dir: String,
      partition: Map[String, String], targetFiles: Int): CompactStats =
    locked(spark, dir, "compactPartition") {
      require(targetFiles >= 1, s"graft: targetFiles must be >= 1, got $targetFiles")
      require(partition.nonEmpty, "graft: compactPartition needs a partition spec")
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val files = GraftUtil.listDataFiles(dir, conf)
      require(files.nonEmpty, s"graft: nothing to compact under $dir")
      // strict all-files inference (the catalog rule) — a mixed layout
      // must fail loudly here, not route on whichever file listed first
      val layout = GraftUtil.layoutOf(tableDir, files, strict = true)
      partition.keys.foreach(k => require(layout.exists(_.equalsIgnoreCase(k)),
        s"graft: '$k' is not a partition column of layout $layout"))
      val victims = files.filter { f =>
        val segs = GraftUtil.partitionSegments(tableDir, f.getPath).toMap
        partition.forall { case (k, v) => segs.get(k).contains(v) }
      }
      require(victims.nonEmpty,
        s"graft: no files under partition $partition of $dir")
      val bytesBefore = victims.map(_.getLen).sum
      // SNAPSHOT-EXACT scan (r19, same fix as compactInner): read exactly
      // the victim files the retire phase deletes — a dir-listing scan
      // planned at job time would rewrite (and duplicate) a concurrent
      // append into this same partition without retiring it
      val df0 = spark.read.format("graft")
        .option("snapshotfiles", victims.map(_.getPath.toString).mkString("\n"))
        .load(dir)
      // derived (transform) dims scope via the shared derivation — the
      // dir name (`ts_day`) is not a data column, but deriveColumn
      // reconstructs its value from the source column exactly as the
      // writer laid it out
      val declared = GraftCatalog.declaredPartSpecsOf(fs, tableDir)
        .map(GraftPartTransform.parse)
      val pred = partition.map { case (k, v) =>
        declared.find(pt => !pt.isIdentity && pt.dirName.equalsIgnoreCase(k)) match {
          case Some(pt) =>
            GraftPartTransform.deriveColumn(pt, df0.schema(pt.src).dataType) ===
              org.apache.spark.sql.functions.lit(v)
          case None =>
            org.apache.spark.sql.functions.col(k) ===
              org.apache.spark.sql.functions.lit(v).cast(df0.schema(k).dataType)
        }
      }.reduce(_ && _)
      // READER-ATOMIC swap, same protocol as compactInner: p1 hides the
      // tagged output while the old partition is intact, the flip switches
      // readers to the new copy before any victim retires
      val opTag = s"cmp${java.util.UUID.randomUUID().toString.take(8)}"
      val victimRel = {
        val base = fs.makeQualified(tableDir).toString
        victims.map { f =>
          val q = fs.makeQualified(f.getPath).toString
          if (q.startsWith(base + "/")) q.substring(base.length + 1)
          else f.getPath.getName
        }
      }
      GraftRewriteGuard.publishP1(fs, tableDir, opTag)
      GraftRewriteGuard.publishP2(fs, tableDir, victimRel)
      try {
        // partition pruning scopes the scan to the victim files; the append
        // re-lands the rows in their partition dirs
        df0.filter(pred).repartition(targetFiles)
          .write.format("graft").mode("append")
          .option("partitionby", layout.mkString(","))
          .option("manifesttag", opTag).save(dir)
      } catch { case t: Throwable =>
        GraftRewriteGuard.clear(fs, tableDir)
        GraftRewriteGuard.flip(fs, tableDir)
        throw t
      }
      GraftRewriteGuard.flip(fs, tableDir)
      // p2 clears only on a COMPLETED retire: a failure mid-delete must
      // leave it standing (readers keep the new view over the partially
      // retired old files; the next maintenance heal finishes the job)
      val st = overwriteRetire(spark, dir, victims.map(_.getPath.toString).toSet,
        changelog = false,
        opHash = GraftManifest.md5Hex(
          s"cpart:${partition.toSeq.sorted.mkString(",")}", 4))
      GraftRewriteGuard.clear(fs, tableDir)
      val after = GraftUtil.listDataFiles(dir, conf).filter { f =>
        val segs = GraftUtil.partitionSegments(tableDir, f.getPath).toMap
        partition.forall { case (k, v) => segs.get(k).contains(v) }
      }
      CompactStats(victims.size, bytesBefore, after.size,
        after.map(_.getLen).sum, st.rowsAfter)
    }

  /** Garbage-collect CRASHED staged-CTAS leftovers under a warehouse/
    * namespace dir: `.t.staged-*` dirs whose driver died before
    * commitStagedChanges or abortStagedChanges ran (nothing else ever
    * references them — commit renames the dir away, abort deletes it),
    * plus `.t.replaced-*` trash a crashed commit left behind. Liveness is
    * judged by the NEWEST modification time anywhere inside the dir (a
    * live CTAS keeps committing task files), compared against the
    * explicit `olderThanMs` epoch cutoff — same contract as [[vacuum]]:
    * pick a cutoff older than any write that could still be in flight.
    * Pending `.t.swap` intents are NOT touched, and neither are the
    * staged/trash dirs an intent names (healSwap owns both — they mark a
    * commit to roll FORWARD or BACK, not junk). Returns (dirs removed,
    * bytes reclaimed).
    */
  def vacuumStaged(spark: SparkSession, warehouseDir: String,
      olderThanMs: Long, dryRun: Boolean = false): (Int, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = GraftFs.get(root, conf)
    if (!fs.exists(root)) return (0, 0L)
    val StagedPat = raw"\..+\.(?:staged|replaced)-[0-9a-f]+".r
    var removed = 0; var bytes = 0L
    def newestWithin(d: org.apache.hadoop.fs.Path): Long = {
      var newest = fs.getFileStatus(d).getModificationTime
      fs.listStatus(d).foreach { f =>
        newest = math.max(newest,
          if (f.isDirectory) newestWithin(f.getPath) else f.getModificationTime)
      }
      newest
    }
    def sizeOf(d: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(d).map(f =>
        if (f.isDirectory) sizeOf(f.getPath) else f.getLen).sum
    def sweep(ns: org.apache.hadoop.fs.Path): Unit = {
      // dirs a pending `.t.swap` intent references are OWNED by healSwap:
      // deleting the staged dir (or its trash sibling) would defeat the
      // roll-forward/roll-back and can destroy the only surviving copy of
      // a mid-swap table — skip them regardless of age
      val entries = fs.listStatus(ns)
      val intentOwned: Set[String] = entries.filter { f =>
        f.isFile && f.getPath.getName.matches(raw"\..+\.swap")
      }.flatMap { f =>
        val in = fs.open(f.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .split("\n").toSeq
        finally in.close()
      }.toSet
      entries.filter(_.isDirectory).foreach { d =>
        val n = d.getPath.getName
        if (StagedPat.matches(n)) {
          if (!intentOwned.contains(n) && newestWithin(d.getPath) < olderThanMs) {
            bytes += sizeOf(d.getPath)
            removed += 1
            if (!dryRun) fs.delete(d.getPath, true)
          }
        } else if (!n.startsWith(".")) {
          // descend only into NESTED NAMESPACES: staged/trash dirs live
          // beside tables, never inside them — recursing into every
          // table's partition tree would turn this into a full warehouse
          // walk (one listing per k=v dir) for nothing
          val kids = fs.listStatus(d.getPath)
          val isTable = kids.exists { k =>
            val kn = k.getPath.getName
            kn == "_graft_table.json" || kn == GraftManifest.DirName ||
              kn.contains('=') ||
              (k.isFile && kn.endsWith(GraftUtil.Extension))
          }
          if (!isTable) sweep(d.getPath)
        }
      }
    }
    sweep(root)
    (removed, bytes)
  }

  /** Result of a [[restore]]: what was rolled back. */
  final case class RestoreStats(version: Long, filesRemoved: Int,
      manifestsExpired: Int, dvGenerationsRemoved: Int,
      feedFilesRemoved: Int, rowsAfter: Long)

  /** RESTORE the table to a registered version (1-based commit ordinal,
    * the `VERSION AS OF` numbering): after it returns, a CURRENT read of
    * the table equals what `VERSION AS OF version` read before — and the
    * restore is physical, so the equality holds for every future reader
    * with no pin to carry around. The rollback a bad load / bad merge /
    * fat-fingered delete needs, O(undone commits) filesystem ops, zero
    * Spark jobs.
    *
    * What rolls back, exactly:
    *   - data files whose effective commit time is after the target
    *     version's are deleted (with their DV sidecars), and their commit
    *     manifests — including zero-entry markers — expire. Version
    *     ordinals NEVER renumber: the undone versions stay in the version
    *     log as expired holes, and the restore registers itself as a new
    *     marker commit (deterministic tag — a crashed restore's re-run
    *     converges instead of double-registering).
    *   - VERSIONED deletion-vector generations published after the target
    *     un-happen ([[GraftDv.restoreTo]]), so merge-on-read deletes /
    *     updates / dv-merges roll back exactly. TAKEDOWN generations are
    *     kept wholesale: a compliance delete stays deleted through any
    *     restore (its publish already swept the history — the documented
    *     collapse).
    *   - post-target CDC feed commits (`_graft_changes/`) expire with the
    *     table commits that produced them: a feed consumer past the
    *     target must resync (restore rewrites history — there is no
    *     consistent incremental continuation to offer it).
    *
    * Copy-on-write caveat (same as any `asof` read): a post-target CoW
    * rewrite (deleteWhere/updateWhere/compact/overwrite) physically
    * destroyed pre-target bytes, so the restored state is the asof view —
    * survivors, not originals. Histories that must restore exactly should
    * mutate through the DV postures (`takedown = false`, merge/update dv
    * modes), whose data files stay byte-identical. Restoring across a
    * truncating overwrite is refused loudly (the files are simply gone).
    * Metadata-only schema evolution (ADD COLUMN / widening / defaults /
    * renames) is NOT reverted: every legal evolution keeps old files
    * readable, and reverting a rename under restored data would re-label
    * columns a reader already bound.
    *
    * Crash contract: converge-on-re-run. Order is files -> manifests ->
    * DV generations -> feed -> marker; a crash between any two leaves
    * manifests listing already-deleted files (batch reads plan from the
    * listing, so they stay correct; a stream mid-backlog may error until
    * the re-run finishes the expiry, like any rewrite).
    */
  /** [[restore]] addressed by TIME instead of ordinal: roll back to the
    * newest registered commit at or before `asofMillis` — restore makes
    * the state a `TIMESTAMP AS OF` read of that moment serves into the
    * CURRENT state. The ordinal resolution goes through the version log,
    * so the same instant always resolves to the same commit. */
  def restoreAsOf(spark: SparkSession, dir: String,
      asofMillis: Long): RestoreStats = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    val commits = GraftVersionLog.commits(GraftVersionLog.sync(fs, tableDir))
    val idx = commits.lastIndexWhere(n => GraftManifest.nameT(n) <= asofMillis)
    require(idx >= 0,
      s"graft: no registered commit at or before epoch-millis $asofMillis")
    restore(spark, dir, idx + 1L)
  }

  def restore(spark: SparkSession, dir: String, version: Long): RestoreStats =
    locked(spark, dir, "restore") {
      val conf = spark.sessionState.newHadoopConf()
      val tableDir = new org.apache.hadoop.fs.Path(dir)
      val fs = GraftFs.get(tableDir, conf)
      val log = GraftVersionLog.sync(fs, tableDir)
      val commits = GraftVersionLog.commits(log)
      require(version >= 1 && version <= commits.size,
        s"graft: version $version is out of range — the table has " +
          s"${commits.size} registered commits")
      val commit = commits((version - 1).toInt)
      val idx = log.indexOf(commit)
      require(!log.drop(idx + 1).exists(_.startsWith(GraftVersionLog.SentinelPrefix)),
        s"graft: cannot restore to version $version across a truncating " +
          "overwrite — the pre-truncate data files are gone")
      val manifests = GraftManifest.list(fs, tableDir)
      require(manifests.contains(commit) || manifests.exists(m =>
          GraftManifest.isReplacement(m) &&
            GraftManifest.nameT(m) == GraftManifest.nameT(commit) &&
            GraftManifest.baseSuffix(m) == GraftManifest.baseSuffix(commit)),
        s"graft: version $version has been expired (its commit manifest was " +
          "retired by retention or compaction) and is no longer restorable")
      val t = GraftManifest.nameT(commit)
      // 1. data files committed after the pin (pre-manifest history and
      //    inherited-time rewrite survivors stay — the asof resolution)
      val listed = GraftUtil.listDataFiles(dir, conf)
      val eff = GraftManifest.effectiveTimes(fs, tableDir, listed)
      val victims = listed.filter(f =>
        eff.get(f.getPath.toString).exists(_ > t))
      GraftUtil.deleteAll(fs, victims.map(_.getPath))
      GraftDv.dropForAll(fs, tableDir, victims.map(_.getPath))
      // 2. post-pin manifests: commit manifests, markers, and replacements
      //    of post-pin commits all carry a post-pin embedded time;
      //    catch-up re-lists are coverage of pre-manifest history, kept.
      //    (Version log synced above — ordinals registered before expiry.)
      val expired = manifests.filter(m =>
        GraftManifest.nameT(m) > t && !GraftManifest.isCatchup(m))
      expired.foreach(m => fs.delete(
        new org.apache.hadoop.fs.Path(GraftManifest.dir(tableDir), m), false))
      // 3. versioned DV generations after the pin (takedowns stay)
      val dvRemoved = GraftDv.restoreTo(fs, tableDir, t)
      // 4. post-pin CDC feed commits (the feed dir is itself a graft
      //    table: same manifest layout, same retire shape)
      var feedRemoved = 0
      val feedDir = new org.apache.hadoop.fs.Path(tableDir, GraftCdc.ChangesDir)
      if (fs.exists(feedDir)) {
        val feedManifests = GraftManifest.list(fs, feedDir)
        val doomed = feedManifests.filter(m => GraftManifest.nameT(m) > t)
        GraftVersionLog.sync(fs, feedDir)
        doomed.foreach { m =>
          GraftManifest.read(fs, feedDir, m).foreach { case (name, _) =>
            val p = new org.apache.hadoop.fs.Path(feedDir, name)
            if (fs.delete(p, false)) feedRemoved += 1
          }
          fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(feedDir), m), false)
        }
      }
      // 5. register the restore (deterministic per (version, target time):
      //    a crashed run's re-run finds the live marker, and a deliberate
      //    re-restore to the same version finds the first one's version-log
      //    entry — the expiry above just retired its manifest — so neither
      //    double-registers)
      val tag = s"rst${version}h${GraftManifest.md5Hex(s"$version:$t", 4)}"
      val already = GraftManifest.list(fs, tableDir).exists(_.endsWith(s"-$tag")) ||
        log.exists(_.endsWith(s"-$tag"))
      if (!already) GraftManifest.publishMarker(fs, tableDir, tag)
      GraftVersionLog.sync(fs, tableDir)
      val rowsAfter = {
        val survivors = GraftUtil.listDataFiles(dir, conf)
        if (survivors.isEmpty) 0L
        else {
          // rowCount is already mask-corrected; the scan fallback masks too
          val c = GraftScan.rowCount(survivors, conf)
          if (c.isPresent) c.getAsLong
          else spark.read.format("graft").load(dir).count()
        }
      }
      RestoreStats(version, victims.size, expired.size, dvRemoved,
        feedRemoved, rowsAfter)
    }
}

/** Per-EXECUTION nonce marker for SQL-routed DML (UPDATE / MERGE).
  *
  * The library rewrite ops converge on a statement-content hash: re-running
  * the identical op is crash RESUMPTION, documented on the API. Plain SQL
  * has the opposite contract — `UPDATE t SET v = v + 1 WHERE k = 1` run
  * twice must increment twice. The SQL commands bridge the two by minting a
  * fresh nonce per statement EXECUTION and folding it into the convergence
  * hash; the nonce is persisted in a started-op marker file (under the op's
  * scratch root, tmp+rename) BEFORE any rewrite, so a crashed execution's
  * re-run finds the marker and resumes under the SAME nonce — exactly-once
  * within one execution, full re-application across executions. The marker
  * is deleted only after the op completes; vacuum ages markers a
  * permanently abandoned execution leaves behind (at which point the next
  * run of the statement is a fresh execution, the correct default).
  */
private[spark] object GraftOpMarker {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def markerPath(tableDir: Path, scratchRoot: String, stmtHash: String) =
    new Path(tableDir, s"$scratchRoot/op-$stmtHash")

  /** 8-hex statement fingerprint naming the marker. */
  def stmtHash(rendered: String): String = GraftManifest.md5Hex(rendered, 4)

  /** The nonce for this execution: a crashed prior execution's persisted
    * nonce if its marker survives, else a fresh one persisted now. */
  def acquire(fs: FileSystem, tableDir: Path, scratchRoot: String,
      stmtHash: String): String = {
    val marker = markerPath(tableDir, scratchRoot, stmtHash)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else {
      val nonce = java.util.UUID.randomUUID().toString
      val tmp = new Path(marker.getParent, s".${marker.getName}.tmp")
      fs.mkdirs(marker.getParent)
      val out = fs.create(tmp, true)
      try out.write(nonce.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(s"graft: failed to persist op marker $marker")
      nonce
    }
  }

  /** Success-only: the execution completed, its nonce retires. */
  def release(fs: FileSystem, tableDir: Path, scratchRoot: String,
      stmtHash: String): Unit =
    fs.delete(markerPath(tableDir, scratchRoot, stmtHash), false)
}
