package graft.spark

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level change-data feed over a graft table — the incremental-consumer
  * surface a 100 TB corpus needs so derived tables (indexes, filtered
  * subsets, packed training shards) can follow the source without
  * re-diffing it.
  *
  * Model (the Delta-CDF shape, re-expressed on graft's manifest machinery):
  *
  *  - INSERTS need no extra storage: every batch/stream commit already
  *    publishes a manifest, so "rows added in (since, asof]" is exactly the
  *    table's own windowed read.
  *  - DELETES are made durable by [[GraftMaintenance.deleteWhere]] with
  *    `changelog = true`: the deleted rows of each rewritten file are
  *    published under `<table>/_graft_changes/` BEFORE the rewrite, and the
  *    feed directory carries its own commit manifests — so the same
  *    `since`/`asof` options window the feed, and the whole read path
  *    (pruning, pushdown, page skipping) applies to change files unchanged.
  *  - Updates do not exist at this layer (append-only corpus + purge), so
  *    the feed is complete with those two event types.
  *
  * Windows and history rewrites: `compact`/`zorder` rewrite every row into
  * fresh commits, so a change window MUST NOT span one (the rewritten rows
  * would re-appear as inserts) — the same "streams should restart after a
  * rewrite" contract the table already documents. `deleteWhere` (and the
  * other row-level rewrites) are safe to span: the heal pass re-publishes
  * each expired commit's surviving coverage as a REPLACEMENT manifest at
  * the ORIGINAL commit time, so a window that contains the commit still
  * delivers its surviving rows as inserts, a window cut after it never
  * re-delivers them, and the feed carries the removed rows — exact for
  * ANY consumer polling cadence, including a window spanning an append
  * and a takedown of part of that same append (WindowSpanSpec pins this;
  * the CDC-consumer fuzz in DmlDifferentialSpec drives it randomly).
  *
  * Scale shape: a window read lists manifests (tiny files, bounded by
  * retention) and plans only the files committed in-window — cost is
  * O(changed data), never O(table). The feed itself is a normal graft
  * directory: compactable, page-pruned, schema identical to the table
  * (partition values live in the data, so feed rows are self-describing).
  */
object GraftCdc {
  val ChangesDir = "_graft_changes"
  val ChangeTypeCol = "_change_type"

  /** `_change_type` of a pure delete's pre-image (`deleteWhere` feed
    * files, named `-del<hash>`): the row ceased to exist. */
  val TypeDelete = "delete"

  /** `_change_type` of an update/merge pre-image (`-upd`/`-mrg` feed
    * files): the row CHANGED — updateWhere publishes the pre-image of
    * every matched row, and a merge's changelog covers rows its clauses
    * updated AND rows they tombstoned, indistinguishably. A consumer must
    * reconcile such a key against the source's CURRENT state (delete the
    * stale row, re-insert the current one if the key still exists) —
    * treating it as a plain delete silently drops updated rows from
    * derived tables. [[applyChangesBetween]] does this reconciliation;
    * the frame-driven [[applyChanges]] (no source access) applies the
    * delete half only and documents the staleness.
    */
  val TypeChangePreimage = "change_preimage"

  private val PreimageNamePat =
    java.util.regex.Pattern.compile(raw"-(?:upd|mrg)[0-9a-f]{8}\Q.graft\E$$")

  /** All row-level changes committed in the window `(sinceMillis,
    * asofMillis]`: the table's columns plus `_change_type`
    * ('insert' | 'delete' | 'change_preimage'). Each physical event is
    * one row — a row inserted AND purged inside the window appears once
    * as each, which is what a consumer replaying events in commit order
    * needs.
    */
  def changes(spark: SparkSession, dir: String,
      sinceMillis: Long, asofMillis: Long): DataFrame = {
    require(sinceMillis <= asofMillis,
      s"graft: empty change window ($sinceMillis..$asofMillis]")
    val conf = spark.sessionState.newHadoopConf()
    require(GraftUtil.listDataFiles(dir, conf).nonEmpty,
      s"graft: no table under $dir")
    val inserts = windowed(spark, dir, sinceMillis, asofMillis)
      .withColumn(ChangeTypeCol, lit("insert"))
    val feedDir = s"$dir/$ChangesDir"
    if (GraftUtil.listDataFiles(feedDir, conf).isEmpty) inserts
    else inserts.unionByName(
      windowed(spark, feedDir, sinceMillis, asofMillis)
        .withColumn(ChangeTypeCol, feedTypeExpr))
  }

  /** Event type from the feed file's name: the rewrite publishes each
    * file's pre-images under the op's own `-<tag><hash>` marker, so the
    * file name IS the event-type metadata (no extra column storage).
    * LOUD on degradation: `input_file_name()` rides reflective
    * InputFileBlockHolder plumbing that degrades to "" on an incompatible
    * Spark — silently defaulting those rows to 'delete' would skip
    * change_preimage reconciliation and drop updated keys from derived
    * tables with no error. Every feed file is published under a marker
    * name, so an unmatched tag can only mean broken plumbing (or a
    * foreign file in the feed dir) — both must fail the query, not
    * corrupt the consumer. */
  private def feedTypeExpr: org.apache.spark.sql.Column = {
    val tag = regexp_extract(input_file_name(),
      raw"-(del|upd|mrg)[0-9a-f]{8}\.graft$$", 1)
    when(tag.isin("upd", "mrg"), lit(TypeChangePreimage))
      .when(tag === "del", lit(TypeDelete))
      .otherwise(raise_error(concat(
        lit("graft: cannot type change-feed event — input_file_name()='"),
        input_file_name(),
        lit("' does not carry a -<del|upd|mrg><hash> marker (degraded " +
          "file-name plumbing or a foreign file in the feed dir); " +
          "refusing to default to 'delete'"))))
  }

  private def windowed(spark: SparkSession, p: String,
      sinceMillis: Long, asofMillis: Long): DataFrame =
    spark.read.format("graft")
      .option("since", sinceMillis.toString)
      .option("asof", asofMillis.toString)
      .load(p)

  /** Exact row count of the commits in `(since, asof]` under `dir` plus
    * whether any in-window file is an update/merge PRE-IMAGE, from
    * manifest listings + file footers alone — NO Spark job. Returns None
    * for the count when the window has more in-window files than the
    * footer reader's planning cap (the caller should fall back to a
    * scan-based decision; pre-image presence is still exact, it needs
    * only the names). Catch-up manifests are excluded exactly like the
    * windowed read excludes them (shared committedTimes helper).
    */
  private def windowMeta(spark: SparkSession, dir: String,
      sinceMillis: Long, asofMillis: Long): (Option[Long], Boolean) = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = GraftFs.get(tableDir, conf)
    if (!fs.exists(tableDir)) return (Some(0L), false)
    val committedAt = GraftManifest.committedTimes(fs, tableDir)
    val inWindow = GraftUtil.listDataFiles(dir, conf).filter { f =>
      committedAt.get(f.getPath.toString)
        .exists(t => t > sinceMillis && t <= asofMillis)
    }
    val hasPreimages = inWindow.exists(f =>
      PreimageNamePat.matcher(f.getPath.getName).find())
    if (inWindow.isEmpty) (Some(0L), false)
    else {
      val n = GraftScan.rowCount(inWindow, conf)
      (if (n.isPresent) Some(n.getAsLong) else None, hasPreimages)
    }
  }

  /** Apply a change window to a DERIVED graft table keyed by `keyCol` —
    * the consumer half of the feed: a filtered/transformed copy follows its
    * source without re-diffing it. Inserts append through `transform` (the
    * derived table's own projection/filter; rows it drops are simply not
    * appended). Deletes propagate by size:
    *
    *   - a SMALL key set (<= `driverKeyMax`, the operationally common
    *     takedown of thousands of ids) collects to the driver and runs as
    *     a keyed [[GraftMaintenance.deleteWhere]] — zone maps/blooms
    *     decide most files footer-only, one probe job total;
    *   - a LARGE set stays DISTRIBUTED: it routes through
    *     [[GraftMaintenance.mergeApply]] as an unconditional WHEN MATCHED
    *     DELETE, whose source-key-envelope probes scan only the pages the
    *     keys can live in — a 200k-key window previously compiled a
    *     200k-literal IN predicate on the driver (multi-second expression
    *     trees) and evaluated it across every row of the table.
    *
    * Returns (rows appended, distinct delete keys applied).
    *
    * Idempotency note: re-applying the same window re-runs a keyed delete
    * (converges, same keys) but would re-append inserts — track applied
    * windows downstream, exactly like any at-least-once feed consumer.
    */
  def applyChanges(spark: SparkSession, changeWindow: DataFrame,
      targetDir: String, keyCol: String,
      transform: DataFrame => DataFrame = identity,
      driverKeyMax: Int = 1000): (Long, Long) = {
    // cached across the probe / merge-materialize uses — the window is
    // O(changed) by design, but re-deriving the feed union scan twice is
    // still one scan too many. Every non-insert event removes its key:
    // this frame-driven form has no source access, so for
    // `change_preimage` events it can apply only the delete half — an
    // updated row goes stale-absent in the derived table until a
    // re-derive (use [[applyChangesBetween]] for full reconciliation).
    val deletesDf = changeWindow
      .filter(col(ChangeTypeCol) =!= "insert")
      .select(keyCol).distinct().cache()
    val probe = GraftMaintenance.phase("cdc-probe") {
      deletesDf.limit(driverKeyMax + 1).collect().map(_.get(0)).toSeq
    }
    val nDeleteKeys: Long =
      try {
        if (probe.size <= driverKeyMax)
          applySmallDelete(spark, targetDir, keyCol, probe)
        else applyLargeDelete(spark, targetDir, keyCol, deletesDf)
      } finally deletesDf.unpersist()
    val inserts = transform(
      changeWindow.filter(col(ChangeTypeCol) === "insert").drop(ChangeTypeCol))
    (appendInserts(inserts, targetDir), nDeleteKeys)
  }

  /** [[applyChanges]] driven by the SOURCE DIRECTORY and window bounds
    * instead of a pre-built change frame — the production consumer loop
    * shape ("apply everything committed since my last run"). Knowing the
    * directories lets the whole decision layer run on metadata:
    *
    *   - the small/large delete-path choice comes from the feed window's
    *     FOOTER row counts (manifest listing + 64 KiB tail reads — zero
    *     Spark jobs), not a probe scan;
    *   - the delete-key count and appended-row count ride the merge
    *     materialization / insert append as observed metrics, so neither
    *     needs its own counting job.
    *
    * At a 5M-row / 64-file staging this halves the fixed driver-job count
    * of a feed apply (see BenchMaintenance.cdcAtScale); at 100 TB the same
    * jobs it removes are pure scheduler latency on the critical path.
    *
    * IDEMPOTENT end-to-end: the insert append publishes under a
    * deterministic (source, window, target) manifest tag, and a window
    * whose tagged commit is already on record — live manifest list,
    * replacement manifests (the suffix survives rewrites), or the
    * version log (which survives compaction's manifest retirement,
    * generation-scoped so a truncate re-opens the window) — is
    * recognized BEFORE any phase runs and returns (0, 0): the tagged
    * append only commits after the delete phase finished, so "tag on
    * record" proves the whole window applied. Without the up-front
    * check, a replay's delete phase would re-delete rows the first
    * apply appended for overlapping keys (the update/reconcile shape)
    * and the skipped append would never restore them. Appliers of one
    * target serialize behind the maintenance table lock, so concurrent
    * duplicate applies cannot both miss the tag. (The tag identifies
    * the window, not the transform: a target follows ONE derivation.)
    * A window that appended NOTHING publishes a zero-entry MARKER
    * manifest under the same tag (strictly last, after the deletes), so
    * even out-of-order replays of old zero-append windows are recognized
    * up front — replaying one blind would re-run its deletes against
    * rows that LATER windows re-appended, and those windows' own tags
    * would block the re-appends that could restore them.
    */
  def applyChangesBetween(spark: SparkSession, srcDir: String,
      sinceMillis: Long, asofMillis: Long, targetDir: String, keyCol: String,
      transform: DataFrame => DataFrame = identity,
      driverKeyMax: Int = 1000): (Long, Long) = {
    require(sinceMillis <= asofMillis,
      s"graft: empty change window ($sinceMillis..$asofMillis]")
    val conf0 = spark.sessionState.newHadoopConf()
    require(GraftUtil.listDataFiles(srcDir, conf0).nonEmpty,
      s"graft: no table under $srcDir")
    val tgtPath = new org.apache.hadoop.fs.Path(targetDir)
    val tgtFs = GraftFs.get(tgtPath, conf0)
    GraftTableLock.withLock(tgtFs, tgtPath, conf0, "applyChanges") {
      // direct maintenance-lock acquisition: the nested deleteWhere reads
      // as inner and skips its roll-forward — complete any crashed swap on
      // the TARGET before planning against its twin-deduped listing
      GraftMaintenance.rollForwardCrashedSwaps(targetDir, conf0, tgtFs, tgtPath)
      applyWindowLocked(spark, srcDir, sinceMillis, asofMillis, targetDir,
        keyCol, transform, driverKeyMax, tgtFs, tgtPath, conf0)
    }
  }

  private def applyWindowLocked(spark: SparkSession, srcDir: String,
      sinceMillis: Long, asofMillis: Long, targetDir: String, keyCol: String,
      transform: DataFrame => DataFrame, driverKeyMax: Int,
      tgtFs: org.apache.hadoop.fs.FileSystem,
      tgtPath: org.apache.hadoop.fs.Path,
      conf0: org.apache.hadoop.conf.Configuration): (Long, Long) = {
    // deterministic per-(source, window, target) tag over QUALIFIED paths
    // (a retry spelling the same path differently must land on the same
    // tag); 10 digest bytes keep cross-window collisions negligible
    val windowTag = {
      val srcQ = GraftFs.get(new org.apache.hadoop.fs.Path(srcDir), conf0).makeQualified(
          new org.apache.hadoop.fs.Path(srcDir)).toString
      val tgtQ = tgtFs.makeQualified(tgtPath).toString
      "cdcw" + GraftManifest.md5Hex(
        s"$srcQ|$sinceMillis|$asofMillis|$tgtQ|$keyCol", 10)
    }
    val applied =
      GraftManifest.list(tgtFs, tgtPath).exists(_.endsWith("-" + windowTag)) ||
        GraftVersionLog.currentGeneration(GraftVersionLog.sync(tgtFs, tgtPath))
          .exists(_.endsWith("-" + windowTag))
    if (applied) return (0L, 0L) // whole window already applied: no-op
    val feedDir = s"$srcDir/$ChangesDir"
    val (feedRows, hasPreimages) = GraftMaintenance.phase("cdc-window-meta") {
      windowMeta(spark, feedDir, sinceMillis, asofMillis)
    }
    val deletes = () => windowed(spark, feedDir, sinceMillis, asofMillis)
      .select(keyCol).distinct()
    val nDeleteKeys: Long = feedRows match {
      case Some(0L) => 0L // nothing deleted in-window: no feed scan at all
      case Some(n) if n <= driverKeyMax =>
        // feed rows bound distinct keys, so the collect is bounded too
        val keys = GraftMaintenance.phase("cdc-key-collect") {
          deletes().collect().map(_.get(0)).toSeq
        }
        applySmallDelete(spark, targetDir, keyCol, keys)
      case Some(_) => applyLargeDelete(spark, targetDir, keyCol, deletes())
      case None =>
        // footer cap exceeded — a window this wide is merge-sized anyway
        applyLargeDelete(spark, targetDir, keyCol, deletes())
    }
    val insertWin = windowed(spark, srcDir, sinceMillis, asofMillis)
    val inserts = transform(insertWin)
    val toAppend =
      if (!hasPreimages) inserts
      else {
        // PRE-IMAGE RECONCILIATION: an update/merge pre-image means the
        // key's row CHANGED — the delete phase above removed the stale
        // derived row, so the key's CURRENT source row must re-enter
        // (unless the insert window already delivers it: a row committed
        // in-window and then updated in-window arrives through the
        // windowed read at its replacement-preserved commit time). Both
        // join sides are O(changed); the current-state scan OPTS INTO
        // runtime filtering (off by default — see GraftScan
        // filterAttributes) so the broadcast key set reaches its zone
        // maps and only the pages the keys can live in are read.
        val preKeys = windowed(spark, feedDir, sinceMillis, asofMillis)
          .filter(feedTypeExpr === TypeChangePreimage)
          .select(keyCol).distinct()
        val repaired = transform(
          spark.read.format("graft").option("runtimefilter", "true")
            .load(srcDir)
            .join(broadcast(preKeys), Seq(keyCol), "left_semi")
            .join(insertWin.select(keyCol), Seq(keyCol), "left_anti"))
        inserts.unionByName(repaired)
      }
    val nAppended = appendInserts(toAppend, targetDir, Some(windowTag))
    // a zero-row append publishes nothing, so the window tag must land
    // through a zero-entry marker manifest: without it, replaying an OLD
    // zero-append window after later windows re-appended overlapping keys
    // re-runs its deletes and permanently drops rows the later windows'
    // own tags block from being re-appended. Published strictly LAST —
    // a crash anywhere earlier leaves no tag and the full replay is safe
    // (deletes converge, nothing was appended that a re-delete could
    // destroy).
    if (!GraftManifest.list(tgtFs, tgtPath).exists(_.endsWith("-" + windowTag)))
      GraftManifest.publishMarker(tgtFs, tgtPath, windowTag)
    (nAppended, nDeleteKeys)
  }

  private def applySmallDelete(spark: SparkSession, targetDir: String,
      keyCol: String, keys: Seq[Any]): Long = {
    val targetEmpty = GraftUtil.listDataFiles(targetDir,
      spark.sessionState.newHadoopConf()).isEmpty
    if (keys.isEmpty || targetEmpty) 0L // deletes on an empty table: no-op
    else {
      GraftMaintenance.phase("cdc-keyed-delete") {
        GraftMaintenance.deleteWhere(spark, targetDir,
          col(keyCol).isInCollection(keys))
      }
      keys.size.toLong
    }
  }

  private def applyLargeDelete(spark: SparkSession, targetDir: String,
      keyCol: String, deletesDf: DataFrame): Long = {
    val targetEmpty = GraftUtil.listDataFiles(targetDir,
      spark.sessionState.newHadoopConf()).isEmpty
    if (targetEmpty) 0L
    else {
      // the distinct-key count rides the merge's own source
      // materialization as an observed metric — no separate count job
      // (the frame is distinct upstream, so count(*) IS the key count)
      val obs = Observation(
        s"cdc-del-${java.util.UUID.randomUUID().toString.take(8)}")
      GraftMaintenance.phase("cdc-merge-delete") {
        // the frame is .distinct() by construction -> the trusted variant
        // skips the cardinality job and derives the key envelope from the
        // scratch's footers (zero jobs between materialize and probes)
        GraftMaintenance.mergeApplyTrusted(spark, targetDir,
          deletesDf.observe(obs, count(lit(1)).as("n")),
          Seq(keyCol -> keyCol),
          matched = Seq(GraftMaintenance.MergeClause(None, None)), // DELETE
          notMatchedInsert = Seq.empty)
      }
      obs.get("n").asInstanceOf[Long]
    }
  }

  /** Append `inserts` to the target, counting the appended rows as an
    * observed metric of the write itself — one scan, not a count + a
    * write. A zero-row append publishes nothing (no files, no manifest,
    * no marker churn), so writing unconditionally is a true no-op when
    * the window carried no inserts. With a `tag`, an append whose tagged
    * manifest already landed is a REPLAY and publishes nothing (the rows
    * still scan — the observed count reports what the window holds, the
    * commit layer decides it already applied).
    */
  private def appendInserts(inserts: DataFrame, targetDir: String,
      tag: Option[String] = None): Long = {
    val obs = Observation(
      s"cdc-ins-${java.util.UUID.randomUUID().toString.take(8)}")
    GraftMaintenance.phase("cdc-insert-append") {
      val w = inserts.observe(obs, count(lit(1)).as("n"))
        .write.format("graft").mode("append")
      tag.fold(w)(t => w.option("manifesttag", t)).save(targetDir)
    }
    obs.get("n").asInstanceOf[Long]
  }
}
