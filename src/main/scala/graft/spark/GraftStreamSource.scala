package graft.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** File-based micro-batch streaming over a graft directory: each batch is
  * the set of `.graft` files that appeared since the last offset (files are
  * immutable once renamed into place — the writer's tmp+rename commit makes
  * this safe). This is the FileStreamSource pattern re-expressed for DSv2,
  * giving `spark.readStream.format("graft")` natively (SURVEY.md §2.9).
  *
  * The offset is a compact modification-time watermark, NOT the full file
  * list: `t` is the newest modTime included and `names` holds only the file
  * names inside the lateness window `[t - lateness, t]`. A file counts as
  * covered by an offset when its modTime is older than the window start
  * (assumed already processed) or its name is listed. Offset size is
  * therefore bounded by the arrival rate x lateness window, independent of
  * the directory's total history — the unbounded-offset fix for long-running
  * streams. In plain modTime mode, files whose modTime lags more than
  * `lateness` behind the newest file at capture time (e.g. a straggler task
  * whose rename lands very late) would be missed; `lateness` (hadoop conf
  * `graft.stream.lateness.ms`, default 5 min) bounds that window.
  *
  * When the directory carries a sink-side commit manifest (written by every
  * graft batch/stream write since the manifest landed — GraftManifest), the
  * source switches to MANIFEST offsets (`manifest=true`): the same bounded
  * watermark+window structure, but over manifest names whose timestamps are
  * assigned at COMMIT (after the data renames complete). A data file renamed
  * in arbitrarily late still lands in exactly one batch, because it only
  * becomes stream-visible through its commit's manifest; the window only has
  * to absorb the visibility skew of one tiny manifest rename. Unmanifested
  * files dropped into a manifest-bearing directory by external means are
  * ignored in this mode (same contract as Spark's FileStreamSink readers).
  *
  * Known limitation: the one-time PRE-MANIFEST backfill (history predating
  * the first manifest) is delivered whole in the first batch and is not
  * subject to `maxfilespertrigger` — the cap governs manifest admission.
  * A table with a very deep pre-manifest history should either start at
  * `startingposition=latest` or be upgraded via one manifest-covered
  * rewrite (compact) before streaming from earliest.
  */
final case class GraftStreamOffset(t: Long, names: Seq[String],
    manifest: Boolean = false, latenessMs: Long = -1L) extends Offset {
  /** membership probes run once per listed file per planning call */
  @transient lazy val nameSet: Set[String] = names.toSet
  override def json(): String = {
    def esc(f: String): String = {
      val sb = new StringBuilder("\"")
      f.foreach {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        // Spark's offset log is line-oriented: a control character in a
        // file name must never emit a literal newline into the checkpoint
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append("\"").toString
    }
    val ns = names.sorted.map(esc).mkString("[", ",", "]")
    val m = if (manifest) "\"m\":1," else ""
    val l = if (latenessMs >= 0) s"""\"l\":$latenessMs,""" else ""
    s"""{$m$l"t":$t,"names":$ns}"""
  }
}

object GraftStreamOffset {
  val Empty: GraftStreamOffset = GraftStreamOffset(Long.MinValue, Seq.empty)

  /** Sentinel `t` for offsets recovered from the legacy full-file-list
    * format: coverage is by name membership only (matching the legacy
    * semantics), never by the modTime window.
    */
  val LegacyT: Long = Long.MinValue + 1

  def fromJson(s: String): GraftStreamOffset = {
    val t = s.trim
    // legacy checkpoints (pre-watermark) serialized a bare ["a","b"] array:
    // recover them as name-membership-only coverage so restarts keep working
    if (t.startsWith("[")) return GraftStreamOffset(LegacyT, parseArray(t))
    // minimal parser for the {"t":N,"names":["a","b"]} objects we emit
    val tIdx = t.indexOf("\"t\":")
    val nIdx = t.indexOf("\"names\":")
    require(tIdx >= 0 && nIdx >= 0, s"graft: bad stream offset: $s")
    val tVal = t.substring(tIdx + 4, t.indexOf(',', tIdx)).trim.toLong
    val arr = t.substring(t.indexOf('[', nIdx), t.lastIndexOf(']') + 1)
    val lIdx = t.indexOf("\"l\":")
    // offsets written before the window size was persisted carry no "l";
    // their coverage falls back to the live conf (pre-existing behavior)
    val lat = if (lIdx < 0) -1L
      else t.substring(lIdx + 4, t.indexOf(',', lIdx)).trim.toLong
    GraftStreamOffset(tVal, parseArray(arr), manifest = t.contains("\"m\":1"),
      latenessMs = lat)
  }

  private def parseArray(arr: String): Seq[String] = {
    val inner = arr.stripPrefix("[").stripSuffix("]")
    val files = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inStr = false
    var esc = false
    var i = 0
    while (i < inner.length) {
      val c = inner.charAt(i)
      if (esc) {
        if (c == 'u' && i + 4 < inner.length) {
          sb.append(Integer.parseInt(inner.substring(i + 1, i + 5), 16).toChar)
          i += 4
        } else sb.append(c)
        esc = false
      }
      else if (c == '\\') esc = true
      else if (c == '"') { if (inStr) { files += sb.toString; sb.clear() }; inStr = !inStr }
      else if (inStr) sb.append(c)
      i += 1
    }
    files.toSeq
  }
}

final class GraftMicroBatchStream(path: String, conf: SerializableHadoopConf,
    projectedJson: String, manifestOpt: Option[Boolean] = None,
    maxFilesPerTrigger: Option[Int] = None,
    startLatest: Boolean = false) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private val tableDir = new org.apache.hadoop.fs.Path(path)
  private def fs = GraftFs.get(tableDir, conf.value)

  /** Checkpoints written in one mode keep that mode across restarts by
    * default: the restored offset's marker (seen via deserializeOffset /
    * planInputPartitions before any new offset is captured) pins the mode;
    * auto-detection on the directory applies only to fresh checkpoints.
    * An EXPLICIT `.option("manifest", true)` outranks the pin and upgrades a
    * modTime checkpoint in place — planInputPartitions diffs the manifest
    * end offset against the modTime start at file level, so nothing is
    * redelivered or dropped across the switch. The reverse (explicit
    * `manifest=false` against a manifest checkpoint) is rejected: modTime
    * offsets cannot express which manifested files were already processed
    * once their modTimes age out of the lateness window.
    */
  @volatile private var stickyMode: Option[Boolean] = None

  private def pinMode(off: GraftStreamOffset): Unit =
    if (off != GraftStreamOffset.Empty && stickyMode.isEmpty)
      stickyMode = Some(off.manifest)

  private def manifestMode: Boolean =
    manifestOpt.orElse(stickyMode)
      .getOrElse(GraftManifest.list(fs, tableDir).nonEmpty)

  private def lateness: Long =
    conf.value.getLong("graft.stream.lateness.ms", 5 * 60 * 1000L)

  /** (name, modTime, len) of every data file currently in the directory. */
  private def listNow(): Seq[(String, Long, Long)] =
    GraftUtil.listDataFiles(path, conf.value)
      .map(f => (f.getPath.toString, f.getModificationTime, f.getLen))

  /** Is (name, modTime) included by the offset `off`? Older than the
    * offset's lateness window = implicitly covered; inside the window only
    * if listed by name. The window size is the one PERSISTED in the offset
    * (falling back to the live conf for pre-persistence checkpoints):
    * evaluating an old offset under a resized conf window would silently
    * redeliver (window raised) or drop (window lowered) the files between
    * the two window starts.
    */
  private def covered(off: GraftStreamOffset, name: String, modTime: Long): Boolean = {
    val t = off.t
    if (t == Long.MinValue) return false
    val w = if (off.latenessMs >= 0) off.latenessMs else lateness
    // overflow-safe window start; legacy offsets (t = LegacyT) degrade to
    // pure name membership
    val windowStart = if (t < Long.MinValue + w) Long.MinValue else t - w
    modTime < windowStart || off.nameSet.contains(name) ||
      // a REPLACEMENT manifest carries an already-delivered commit under a
      // new name (heal re-publishes an expired commit's surviving coverage
      // at the original time). An offset that covered the original — or
      // any earlier replacement of it — inside the lateness window must
      // cover the replacement too, or the rewrite would redeliver every
      // kept row of the commit to a stream that just processed it.
      (off.manifest && GraftManifest.isReplacement(name) && {
        val tN = GraftManifest.nameT(name)
        val s0 = GraftManifest.baseSuffix(name)
        off.names.exists(m => GraftManifest.nameT(m) == tN &&
          GraftManifest.baseSuffix(m) == s0)
      })
  }

  /** `startingposition=latest` starts a FRESH checkpoint at the current
    * directory state (only files arriving after stream start are
    * processed); the default `earliest` replays the whole history (bounded
    * per batch by `maxfilespertrigger` when set). Restarts ignore this —
    * the checkpoint's own offset wins, as with every Spark source.
    */
  override def initialOffset(): Offset =
    if (startLatest) latestOffset() else GraftStreamOffset.Empty

  override def latestOffset(): Offset = {
    // one manifest listing serves BOTH auto-detection (only until a mode is
    // pinned) and the manifest-mode capture — no double directory walk
    val pre = manifestOpt.orElse(stickyMode)
    val manifestNames =
      if (pre.contains(false)) Seq.empty
      else GraftManifest.list(fs, tableDir)
    val mm = pre.getOrElse(manifestNames.nonEmpty)
    if (mm) {
      if (manifestNames.isEmpty) GraftStreamOffset.Empty
      else {
        val maxT = manifestNames.map(GraftManifest.nameT).max
        val off = GraftStreamOffset(maxT,
          manifestNames.filter(n => GraftManifest.nameT(n) >= maxT - lateness),
          manifest = true, latenessMs = lateness)
        pinMode(off)
        off
      }
    } else {
      val files = listNow()
      if (files.isEmpty) GraftStreamOffset.Empty
      else {
        val maxT = files.map(_._2).max
        val off = GraftStreamOffset(maxT,
          files.collect { case (n, mt, _) if mt >= maxT - lateness => n }.sorted,
          latenessMs = lateness)
        pinMode(off)
        off
      }
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val off = GraftStreamOffset.fromJson(json)
    // reject the unexpressible downgrade HERE, before any new offset is
    // captured and WAL-logged: failing later (in planInputPartitions) would
    // leave a mixed-mode offset pair in the log that even removing the
    // option cannot recover from
    if (off.manifest && manifestOpt.contains(false))
      throw new IllegalStateException(
        "graft: stream checkpoint was written with manifest offsets; " +
          "manifest=false cannot express its progress (files older than the " +
          "lateness window would be redelivered). Remove the option or keep " +
          "manifest=true.")
    pinMode(off) // a restored checkpoint pins the mode before any capture
    off
  }

  // ---- admission control: `.option("maxfilespertrigger", n)` bounds how
  // many files (manifests, in manifest mode) one micro-batch admits, so a
  // stream started over a deep backlog catches up in bounded batches
  // instead of processing the whole history as batch 1. The capped offset
  // keeps the coverage invariant: admission is a (time, name)-sorted PREFIX
  // of the uncovered set, so everything left out still reads as uncovered
  // (its timestamp is >= the new watermark) and lands in a later batch.

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // Trigger.AvailableNow and friends wrap the per-trigger cap in a
    // composite limit — honor the ReadMaxFiles component wherever it sits
    def maxFilesOf(l: ReadLimit): Option[Int] = l match {
      case mf: ReadMaxFiles => Some(mf.maxFiles())
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.flatMap(maxFilesOf(_)).headOption
      case _ => None
    }
    maxFilesOf(limit) match {
      case Some(n) => cappedLatest(start.asInstanceOf[GraftStreamOffset], n)
      case None =>
        // MONOTONICITY GUARD: the stream's position must never regress.
        // A row-level rewrite (deleteWhere/update/merge) can pass through a
        // window where EVERY manifest is expired (heal ran, the op's own
        // commit not yet published) — a trigger firing inside it would
        // otherwise capture the Empty offset, the engine would commit it,
        // and the NEXT batch would start from scratch and redeliver the
        // whole table to a checkpointed stream (caught by the DML x
        // streaming differential fuzz). Same guard for a shrunken manifest
        // list whose max time fell below the start's watermark.
        val s = start.asInstanceOf[GraftStreamOffset]
        val off = latestOffset().asInstanceOf[GraftStreamOffset]
        if (s != GraftStreamOffset.Empty &&
            (off == GraftStreamOffset.Empty ||
              (off.manifest == s.manifest && off.t < s.t))) s
        else off
    }
  }

  private def cappedLatest(s: GraftStreamOffset, n: Int): Offset = {
    val mm = manifestMode
    // (name, timestamp) universe: manifests in manifest mode, else files
    val universe: Seq[(String, Long)] =
      if (mm) GraftManifest.list(fs, tableDir).map(m => (m, GraftManifest.nameT(m)))
      else listNow().map { case (name, mt, _) => (name, mt) }
    if (universe.isEmpty) return s
    // an explicit manifest upgrade hands this a modTime-mode start: its
    // (file-path, file-modTime) coverage is meaningless against MANIFEST
    // names/times, so no manifest counts as covered — the cap then bounds
    // the upgrade batch too (planInputPartitions dedups at file level)
    val startCovers = s.manifest || !mm
    // timestamp-major order is the invariant: admitting a PREFIX of this
    // ordering guarantees every unadmitted entry's timestamp is >= the new
    // watermark, so it stays visibly uncovered for the next batch
    val uncovered = universe.filterNot { case (name, t) =>
        startCovers && covered(s, name, t) }
      .sortBy { case (name, t) => (t, name) }
    if (uncovered.isEmpty) return s
    val admitted = uncovered.take(math.max(n, 1))
    val tFinal = math.max(admitted.map(_._2).max, s.t)
    // new covered set = covered-by-start ∪ admitted; the offset lists every
    // covered name still inside the new lateness window
    val windowNames =
      (universe.filter { case (name, t) => startCovers && covered(s, name, t) } ++ admitted)
        .collect { case (name, t) if t >= tFinal - lateness => name }
        .distinct.sorted
    val off = GraftStreamOffset(tFinal, windowNames, manifest = mm,
      latenessMs = lateness)
    pinMode(off)
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    pinMode(s); pinMode(e)
    if (e == GraftStreamOffset.Empty) return Array.empty
    if (s.manifest && !e.manifest)
      throw new IllegalStateException(
        "graft: stream checkpoint was written with manifest offsets; " +
          "manifest=false cannot express its progress (files older than the " +
          "lateness window would be redelivered). Remove the option or keep " +
          "manifest=true.")
    if (e.manifest) {
      // batch = data files of every manifest covered by `end` but not by
      // `start`; each file belongs to exactly one manifest, so exactly-once
      // needs no file-level dedup. A modTime-mode `start` (explicit
      // checkpoint upgrade) can't cover manifests — its coverage is applied
      // per FILE below, against the data files' own modTimes.
      val upgrade = !s.manifest && s != GraftStreamOffset.Empty
      val firstBatch = s == GraftStreamOffset.Empty || upgrade
      val manifests = GraftManifest.list(fs, tableDir)
      // ONE read per manifest even on the first batch, where the same
      // entries feed both the batch contents and the backfill exclusion set
      lazy val entriesByManifest: Map[String, Seq[(String, Long)]] =
        manifests.map(n => n -> GraftManifest.read(fs, tableDir, n)).toMap
      def readM(n: String): Seq[(String, Long)] =
        if (firstBatch) entriesByManifest(n) else GraftManifest.read(fs, tableDir, n)
      val endManifests = manifests.filter(n => covered(e, n, GraftManifest.nameT(n)))
      // catch-up manifests (deleteWhere's survivor re-list) are COVERAGE,
      // not commits: a TRUE fresh stream needs their entries in its first
      // batch (the survivors sit above the backfill time bound), but any
      // stream WITH history — incremental batches, restarts, and upgraded
      // modTime checkpoints — already delivered those rows through the
      // original files, and re-delivering the re-list would duplicate
      // every kept row of a deleted-from table (exactly-once violation).
      val hasHistory = s != GraftStreamOffset.Empty
      val entries =
        (if (upgrade) endManifests
         else endManifests.filterNot(n => covered(s, n, GraftManifest.nameT(n))))
          .filterNot(n => hasHistory && GraftManifest.isCatchup(n))
          .flatMap(readM)
          .map { case (name, len) =>
            (fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, name)).toString, len)
          }
      // the directory listing is shared by the backfill and the upgrade
      // dedup below — at most one walk per planning call
      lazy val listing = listNow()
      // the first manifest batch backfills files no manifest covers AND
      // that predate the FIRST manifest's commit (history written before
      // the manifest-publishing writer landed) — batch and stream views of
      // an upgraded table must agree. The time bound is what makes the
      // backfill race-free: a concurrent writer's files are renamed in
      // BEFORE their manifest publishes, and without it those in-flight
      // files would enter this batch as "unmanifested" and then arrive
      // AGAIN through their manifest's window — a double delivery. It also
      // makes a crash-replayed first batch deterministic: nothing newer
      // than the first manifest can join the backfill on re-plan. Later
      // external unmanifested drops remain out of scope (same contract as
      // FileStreamSink readers).
      val backfill =
        if (!firstBatch) Seq.empty
        else {
          val manifested = manifests
            .flatMap(entriesByManifest)
            .map { case (name, _) =>
              fs.makeQualified(new org.apache.hadoop.fs.Path(tableDir, name)).toString
            }.toSet
          val firstT =
            if (manifests.isEmpty) Long.MaxValue
            else manifests.map(GraftManifest.nameT).min
          listing.collect {
            case (n, mt, len) if !manifested.contains(n) && mt < firstT => (n, len)
          }
        }
      val all = entries ++ backfill
      // upgrade batch: drop files the modTime checkpoint already processed.
      // A rewrite output delivered through a REPLACEMENT manifest carries
      // rows the checkpoint may have processed through the now-deleted
      // ORIGINAL file — its own modTime is fresh, so the plain check
      // misses it and every kept row of the rewritten commit would
      // redeliver. Derive the original path from the output name and test
      // ITS coverage, with the listing manifest's commit time standing in
      // for the original's modTime (renames precede their manifest
      // publish, so commit time upper-bounds the original's mtime and
      // `< windowStart` stays sound; the residual rename-to-publish skew
      // errs toward redelivery, never loss).
      val fresh =
        if (!upgrade) all
        else {
          val modTimes = listing.map { case (n, mt, _) => n -> mt }.toMap
          val commitT: Map[String, Long] = manifests
            .filterNot(GraftManifest.isCatchup)
            .flatMap { m =>
              val t = GraftManifest.nameT(m)
              entriesByManifest(m).map { case (name, _) =>
                fs.makeQualified(
                  new org.apache.hadoop.fs.Path(tableDir, name)).toString -> t
              }
            }.toMap
          val markerStrip = GraftUtil.markerStripRegex
          def originalCovered(q: String): Boolean = {
            val p = new org.apache.hadoop.fs.Path(q)
            var nm = p.getName
            var res = false
            var go = true
            while (go) {
              val stripped = markerStrip.replaceAllIn(nm, GraftUtil.Extension)
              if (stripped == nm) go = false
              else {
                val orig = fs.makeQualified(
                  new org.apache.hadoop.fs.Path(p.getParent, stripped)).toString
                if (covered(s, orig, commitT.getOrElse(q, Long.MaxValue))) {
                  res = true; go = false
                } else nm = stripped // chain: try the next ancestor
              }
            }
            res
          }
          all.filterNot { case (n, _) =>
            modTimes.get(n).exists(mt => covered(s, n, mt)) || originalCovered(n)
          }
        }
      fresh
        .map { case (name, len) => GraftInputPartition(name, len): InputPartition }
        .toArray
    } else {
      // batch = files covered by `end` but not by `start` (a file inside
      // end's window that end didn't list waits for the next batch)
      listNow()
        .filter { case (name, mt, _) => covered(e, name, mt) }
        .filterNot { case (name, mt, _) => covered(s, name, mt) }
        .map { case (name, _, len) => GraftInputPartition(name, len): InputPartition }
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(HadoopConfBroadcast(conf.value), projectedJson,
      // mixed-generation files under a RENAME need the mapping here too —
      // a stream planned before a rename keeps reading old-named files
      colAliases = GraftColumnMap.forRead(fs, tableDir).physToLogical,
      // deletion vectors current at batch-plan time: a file delivered in
      // THIS batch masks rows a DV already deleted (the batch view's
      // semantics); DVs published later never redeliver or retro-mask a
      // processed batch — same no-redelivery contract as rewrite deletes
      dvByIdent = GraftDv.list(fs, tableDir)
        .map { case (ident, (_, p)) => ident -> p })

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
