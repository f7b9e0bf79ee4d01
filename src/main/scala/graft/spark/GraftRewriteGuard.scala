package graft.spark

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Two-phase visibility markers that make a whole-table (N→M) rewrite —
  * compact / zorder / compactPartition — ATOMIC to concurrent readers.
  *
  * The per-file CoW swaps are reader-atomic through twin dedup
  * ([[GraftUtil.dedupTwins]]), but a compaction has no per-file twin
  * relationship: its output commits as a normal append, then the old
  * snapshot's files retire one delete at a time, and a reader listing in
  * between saw old+new — up to 2× the table. The markers close that
  * window with one atomic transition:
  *
  *  1. publish `_graft_rewrite_p1` (the rewrite's manifest tag) — readers
  *     HIDE the tagged manifest's files: the OLD snapshot serves, intact,
  *     because nothing retires while p1 stands;
  *  2. publish `_graft_rewrite_p2` (the retire list, table-relative) —
  *     readers still see the old view (p1 wins while present), and the
  *     p2-before-append order means a committed rewrite's heal can always
  *     recover its retire list;
  *  3. append the rewrite output under that manifest tag;
  *  4. delete p1 — THE FLIP: readers now hide the retire list instead,
  *     so the NEW snapshot serves even though the old files still exist;
  *  5. retire the old files (invisible already), delete p2.
  *
  * Readers pay four `exists` probes at plan time (both markers, before
  * and after the listing), and a manifest read only while a rewrite is
  * actually in flight. Concurrent appends are in neither the tagged
  * manifest nor the retire list — drip ingest stays visible through every
  * phase, exactly as compact's concurrency model promises. Maintenance
  * code never applies the adjustment (its scans pin exact file sets via
  * `snapshotfiles`); a crashed rewrite's markers heal
  * at the next maintenance-lock acquisition ([[heal]]): roll BACK when
  * the tagged manifest never committed (drop both markers — the old view
  * readers held all along is the state), roll FORWARD when it did
  * (flip if needed, finish the retire).
  */
private[spark] object GraftRewriteGuard {
  val P1 = "_graft_rewrite_p1"
  val P2 = "_graft_rewrite_p2"

  private def writeAtomic(fs: FileSystem, tableDir: Path, name: String,
      lines: Seq[String]): Unit = {
    val tmp = new Path(tableDir,
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(tableDir, name)
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new java.io.IOException(s"graft: failed to publish $dst")
  }

  private def readLines(fs: FileSystem, p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      // a marker can vanish between the probe and the open
      val in = try fs.open(p) catch { case _: java.io.FileNotFoundException => return None }
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList)
      finally in.close()
    }

  def publishP1(fs: FileSystem, tableDir: Path, tag: String): Unit =
    writeAtomic(fs, tableDir, P1, Seq(tag))

  def publishP2(fs: FileSystem, tableDir: Path, retire: Seq[String]): Unit =
    writeAtomic(fs, tableDir, P2, retire)

  /** The flip: delete p1 while p2 stands — one metadata op switches every
    * reader from the old snapshot to the new one. */
  def flip(fs: FileSystem, tableDir: Path): Unit =
    fs.delete(new Path(tableDir, P1), false)

  def clear(fs: FileSystem, tableDir: Path): Unit = {
    fs.delete(new Path(tableDir, P2), false)
  }

  private def relOf(fs: FileSystem, tableDir: Path, p: Path): String = {
    val base = fs.makeQualified(tableDir).toString
    val q = fs.makeQualified(p).toString
    if (q.startsWith(base + "/")) q.substring(base.length + 1) else p.getName
  }

  /** The data files a reader sees under `dir`: the listing, adjusted by
    * the visibility markers. p1 wins while present (old snapshot: hide the
    * in-flight rewrite's tagged manifest files); otherwise p2 hides the
    * retire list (new snapshot). No markers: the listing as is.
    *
    * The markers must describe the instant of the listing. Read only after
    * it, they can belong to a later phase: a rewrite that flips, retires
    * and drops p2 while the directory is walked leaves a listing with old
    * and new files and no marker to filter it. So the markers are read
    * before and after the listing, and the listing is taken again while
    * the two reads differ. */
  def listVisible(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val tableDir = new Path(dir)
    visible(GraftFs.get(tableDir, conf), tableDir)(GraftUtil.listDataFiles(dir, conf))
  }

  /** [[listVisible]] over any `list` of the table's data files. */
  private[spark] def visible(fs: FileSystem, tableDir: Path)(
      list: => Seq[FileStatus]): Seq[FileStatus] = {
    @annotation.tailrec
    def attempt(before: Markers, listings: Int): Seq[FileStatus] = {
      val listed = list
      val after = markers(fs, tableDir)
      if (after == before) adjust(fs, tableDir, listed, after)
      else if (listings == MaxListings)
        throw new java.io.IOException(s"graft: the rewrite markers of $tableDir " +
          s"changed during each of $MaxListings listings")
      else attempt(after, listings + 1)
    }
    attempt(markers(fs, tableDir), 1)
  }

  // a rewrite moves its markers through four states, two of them back to
  // back, so a listing that overlaps one rewrite settles by the third try
  private val MaxListings = 8

  /** p1's and p2's lines, None where absent. */
  private type Markers = (Option[Seq[String]], Option[Seq[String]])

  private def markers(fs: FileSystem, tableDir: Path): Markers =
    (readLines(fs, new Path(tableDir, P1)), readLines(fs, new Path(tableDir, P2)))

  private def adjust(fs: FileSystem, tableDir: Path, listed: Seq[FileStatus],
      marks: Markers): Seq[FileStatus] =
    marks match {
      case (Some(Seq(tag)), _) =>
        val hidden = GraftManifest.list(fs, tableDir)
          .filter(_.endsWith("-" + tag))
          .flatMap(m => GraftManifest.read(fs, tableDir, m).map(_._1)).toSet
        if (hidden.isEmpty) listed
        else listed.filterNot(f => hidden.contains(relOf(fs, tableDir, f.getPath)))
      case (Some(_), _) => listed // malformed p1: fail open to the raw view
      case (None, Some(retire)) if retire.nonEmpty =>
        val r = retire.toSet
        listed.filterNot(f => r.contains(relOf(fs, tableDir, f.getPath)))
      case _ => listed
    }

  /** Crash heal, under the maintenance lock (the running rewrite also
    * holds it, so observed markers are always a dead op's): roll back an
    * uncommitted rewrite, roll a committed one forward. Returns whether
    * anything was healed. `retire` performs the caller's retire protocol
    * (delete files + drop DVs + heal manifests) for a list of
    * table-relative paths. */
  def heal(fs: FileSystem, tableDir: Path,
      retire: Seq[String] => Unit): Boolean = {
    val p1 = readLines(fs, new Path(tableDir, P1))
    val p2 = new Path(tableDir, P2)
    p1 match {
      case Some(lines) =>
        val committed = lines.headOption.exists(tag =>
          GraftManifest.list(fs, tableDir).exists(_.endsWith("-" + tag)))
        if (!committed) {
          // the rewrite never committed its output: readers held the old
          // view all along — drop p2 FIRST (a p2-only instant would read
          // as the new view with the whole old snapshot hidden)
          fs.delete(p2, false)
          fs.delete(new Path(tableDir, P1), false)
        } else {
          // output committed: flip (if p2 never landed, the retire list is
          // unrecoverable — but then nothing was retired either, and
          // dropping p1 alone exposes old+new, so p2-first ordering in the
          // writer guarantees p2 exists whenever a committed p1 does)
          val retireList = readLines(fs, p2).getOrElse(Seq.empty)
          fs.delete(new Path(tableDir, P1), false)
          if (retireList.nonEmpty) retire(retireList)
          fs.delete(p2, false)
        }
        true
      case None =>
        readLines(fs, p2) match {
          case Some(retireList) =>
            // flip already happened: finish the retire
            if (retireList.nonEmpty) retire(retireList)
            fs.delete(p2, false)
            true
          case None => false
        }
    }
  }
}
