package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/** Merge-on-read DELETION VECTORS: an opt-in per-file bitmap of deleted row
  * ordinals, so a 1-row takedown in a 1 GB file masks one row instead of
  * rewriting a gigabyte ([[GraftMaintenance.deleteWhereDv]]). Sidecars live
  * under `<table>/_graft_dv/` as `<ident>.g<gen>-<uuid>.dv`:
  *
  *   - `ident` injectively names the data file (sanitized relative path +
  *     a 6-byte digest of the unsanitized one — two partition values that
  *     sanitize identically must never share a bitmap);
  *   - `gen` increments per publish; readers take the highest generation
  *     (a crash between publish and old-gen cleanup leaves both visible —
  *     the NEW one wins, and the next publish sweeps);
  *   - the bitmap is CUMULATIVE (each publish ORs into the previous), so
  *     one lookup serves a scan.
  *
  * Scan semantics: masking happens by file-physical ordinal — COLUMNAR
  * with per-type batch compaction for atomic projections ([[DvMask]]),
  * row-based iterator skip for nested ones (Spark forbids mixing columnar
  * and row partitions, and the decision is projection-uniform);
  * footer-only row counts subtract DV cardinalities;
  * footer-only COUNT(col)/MIN/MAX pushdowns decline (a masked row could
  * hold the min); COUNT(*) stays footer-exact by subtracting the mask
  * cardinality at plan time, and limit/top-N pushdowns survive by
  * inflating each file's page cover by its cardinality. Compaction and
  * the row-level rewrites fold DVs away: they read through the scan (mask
  * applied), and retiring a data file drops its sidecars.
  *
  * The existence probe is one `fs.exists` on the `_graft_dv` dir — a table
  * that never used DVs pays nothing else anywhere.
  *
  * Snapshot posture — TWO explicit postures, chosen per publish and
  * encoded in the sidecar name (`T`/`V` beside the publish millis):
  *
  *   - TAKEDOWN (the compliance default for [[GraftMaintenance
  *     .deleteWhereDv]]): the rows must be gone from EVERY read, including
  *     `asof`/VERSION AS OF time-travel reads. Publishing sweeps all older
  *     generations, so no snapshot can resurrect the rows; a pinned read
  *     older than the takedown applies the takedown mask anyway (history
  *     was erased — the documented collapse).
  *   - VERSIONED (merge-on-read UPDATE, and `takedown = false` deletes):
  *     older generations are RETAINED (vacuum sweeps them past retention),
  *     and an `asof` read resolves, per file, the newest generation whose
  *     publish time <= the pin — so "which dataset did this training run
  *     see" reproduces exactly: a later versioned delete/update never
  *     changes a pinned read's answer.
  *
  * Current (unpinned) reads always take the highest generation. Plan-time
  * statistics and the limit/top-N cover inflation use the CURRENT mask
  * even under a pin — the current cardinality bounds every older one
  * (cumulative), so covers stay sound supersets and stats stay estimates.
  */
object GraftDv {
  val DirName = "_graft_dv"

  /** Metadata column: the physical row ordinal within the data file —
    * what a DV masks on, exposed so the delete op (and any lineage user)
    * can name rows without content hashing. */
  val OrdinalCol = "_graft_ordinal"

  def dir(tableDir: Path): Path = new Path(tableDir, DirName)

  /** Injective per-data-file identity: sanitized partition segments + base
    * name, plus a digest of the raw relative path (sanitization is lossy). */
  def identOf(tableDir: Path, file: Path): String = {
    val segs = GraftUtil.partitionSegments(tableDir, file)
    val rel = (segs.map { case (k, v) => s"$k=$v" } :+ file.getName).mkString("/")
    val clean = rel.replace('/', '~').replaceAll("[^a-zA-Z0-9_.=~-]", "_")
    s"$clean-${GraftManifest.md5Hex(rel, 6)}"
  }

  /** A dir carrying any table-root marker IS the table root — the upward
    * `k=v` walks below must not climb past it. Guards tables whose own
    * directory NAME contains '=' (e.g. `.../run=5`): the pure name
    * heuristic would resolve their DV root one level too high, silently
    * dropping masks at read time.
    */
  private def isTableRoot(fs: FileSystem, d: Path): Boolean =
    fs.exists(new Path(d, DirName)) ||
      fs.exists(new Path(d, GraftManifest.DirName)) ||
      fs.exists(new Path(d, "_graft_table.json"))

  /** The table root of a data file: parents above any k=v partition dirs,
    * stopping early at the first dir that carries a table-root marker. */
  def tableRootOf(fs: FileSystem, file: Path): Path = {
    var d = file.getParent
    while (d.getParent != null && d.getName.contains('=') && !isTableRoot(fs, d))
      d = d.getParent
    d
  }

  /** Table root for a SCAN path, which may be the table dir, a partition
    * subdir, or a single data file (the per-file rewrite reads load one
    * file directly — its deletion vectors still live at the table root). */
  def rootOfScanPath(fs: FileSystem, p: Path): Path = {
    val isFile = try fs.getFileStatus(p).isFile catch { case _: Exception => false }
    var root = if (isFile) p.getParent else p
    while (root.getParent != null && root.getName.contains('=') && !isTableRoot(fs, root))
      root = root.getParent
    root
  }

  // current layout: ident.g00002-<millis13><T|V>-<uuid8>.dv (T = takedown,
  // V = versioned); the legacy r15 layout (no time/posture) parses as a
  // takedown at time 0 — it applied to every read, which is exactly what
  // (takedown, t=0) resolves to
  private val NamePat = raw"(.+)\.g(\d{5})-(\d{13})([TV])-[0-9a-f]{8}\.dv".r
  private val LegacyNamePat = raw"(.+)\.g(\d{5})-[0-9a-f]{8}\.dv".r

  /** One sidecar generation as parsed from its name. */
  final case class Entry(gen: Int, timeMs: Long, takedown: Boolean, path: String)

  private def parse(fs: FileSystem, p: Path): Option[(String, Entry)] =
    p.getName match {
      case NamePat(ident, gen, t, post) =>
        Some(ident -> Entry(gen.toInt, t.toLong, post == "T",
          fs.makeQualified(p).toString))
      case LegacyNamePat(ident, gen) =>
        Some(ident -> Entry(gen.toInt, 0L, takedown = true,
          fs.makeQualified(p).toString))
      case _ => None
    }

  /** Every sidecar generation: ident -> entries sorted by generation. */
  def listAll(fs: FileSystem, tableDir: Path): Map[String, Seq[Entry]] = {
    val d = dir(tableDir)
    if (!fs.exists(d)) return Map.empty
    fs.listStatus(d).toSeq.flatMap(f => parse(fs, f.getPath))
      .groupBy(_._1)
      .map { case (ident, vs) => ident -> vs.map(_._2).sortBy(e => (e.gen, e.path)) }
  }

  /** Current sidecars: ident -> (gen, qualified sidecar path). One listing;
    * highest generation per ident wins (name-lexicographic tiebreak). */
  def list(fs: FileSystem, tableDir: Path): Map[String, (Int, String)] =
    listAll(fs, tableDir).map { case (ident, es) =>
      ident -> ((es.last.gen, es.last.path))
    }

  /** Snapshot-pinned resolution: per ident, the generation an `asof` read
    * at `asofMs` must apply — the newest with publish time <= the pin,
    * overridden upward by the highest TAKEDOWN generation (its rows must
    * stay gone in every snapshot; its publish swept the history a more
    * precise answer would need). None pin = current (highest) generation.
    * Idents whose pinned resolution is "no mask yet" are absent.
    */
  def listAt(fs: FileSystem, tableDir: Path,
      asofMs: Option[Long]): Map[String, (Int, String)] = asofMs match {
    case None => list(fs, tableDir)
    case Some(a) =>
      listAll(fs, tableDir).flatMap { case (ident, es) =>
        val eligible = es.filter(_.timeMs <= a).lastOption
        val takedown = es.filter(_.takedown).lastOption
        val chosen = (eligible, takedown) match {
          case (Some(e), Some(t)) => Some(if (t.gen > e.gen) t else e)
          case (Some(e), None) => Some(e)
          case (None, some) => some // takedown floor or no mask
        }
        chosen.map(c => ident -> ((c.gen, c.path)))
      }
  }

  /** The ident a sidecar name encodes (None for non-sidecar entries). */
  def identOfSidecar(name: String): Option[String] = name match {
    case NamePat(ident, _, _, _) => Some(ident)
    case LegacyNamePat(ident, _) => Some(ident)
    case _ => None
  }

  def hasAny(fs: FileSystem, tableDir: Path): Boolean = {
    val d = dir(tableDir)
    fs.exists(d) && fs.listStatus(d).exists(_.getPath.getName.endsWith(".dv"))
  }

  // sidecar names embed a uuid and are never rewritten -> cache by path.
  // Bounded: DVs are transient (compaction folds them), 256 is generous.
  private val cache = new java.util.LinkedHashMap[String, RoaringBitmap](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, RoaringBitmap]): Boolean =
      size() > 256
  }

  private val Magic = 0x47445631 // "GDV1"

  def read(fs: FileSystem, path: String): RoaringBitmap = {
    cache.synchronized {
      val hit = cache.get(path)
      if (hit != null) return hit
    }
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(new Path(path)), 1 << 16))
    val rb = try {
      require(in.readInt() == Magic, s"graft: $path is not a deletion-vector sidecar")
      in.readLong() // cardinality (informational; bitmap is authoritative)
      val b = new RoaringBitmap()
      b.deserialize(in)
      b
    } finally in.close()
    cache.synchronized { cache.put(path, rb) }
    rb
  }

  def cardinality(fs: FileSystem, path: String): Long = read(fs, path).getLongCardinality

  /** Publish `bitmap` (already cumulative) as generation `gen`.
    *
    * `takedown = true` (compliance delete) sweeps every lower generation
    * of the ident AFTER the new one is visible — no snapshot can
    * resurrect the rows. `takedown = false` (versioned delete / MOR
    * update) RETAINS older generations so `asof` reads stay reproducible;
    * vacuum sweeps them past retention.
    */
  def publish(fs: FileSystem, tableDir: Path, ident: String, gen: Int,
      bitmap: RoaringBitmap, takedown: Boolean = true): Unit = {
    val d = dir(tableDir)
    fs.mkdirs(d)
    val post = if (takedown) "T" else "V"
    val name = f"$ident.g$gen%05d-${System.currentTimeMillis()}%013d$post" +
      s"-${java.util.UUID.randomUUID().toString.take(8)}.dv"
    val tmp = new Path(d, s".$name.tmp")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
    try {
      out.writeInt(Magic)
      out.writeLong(bitmap.getLongCardinality)
      bitmap.runOptimize()
      bitmap.serialize(out)
    } finally out.close()
    if (!fs.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(s"graft: failed to publish deletion vector $name")
    // takedown: retire every superseded generation (best effort — the
    // read rule's takedown floor covers a crashed sweep's stragglers, and
    // vacuum re-sweeps them)
    if (takedown) fs.listStatus(d).foreach { f =>
      parse(fs, f.getPath) match {
        case Some((i, e)) if i == ident && e.gen < gen => fs.delete(f.getPath, false)
        case _ => ()
      }
    }
  }

  /** RESTORE support: delete every VERSIONED generation published after
    * `asofMs`, so the current mask becomes exactly what [[listAt]] resolves
    * for that pin — post-restore unpinned reads reproduce the snapshot.
    * TAKEDOWN generations are never touched regardless of publish time:
    * a compliance delete's rows must stay gone even through a restore
    * (and its publish already swept the older history a more faithful
    * answer would need — the documented collapse). Returns the number of
    * sidecar generations removed.
    */
  def restoreTo(fs: FileSystem, tableDir: Path, asofMs: Long): Int = {
    val d = dir(tableDir)
    if (!fs.exists(d)) return 0
    var n = 0
    fs.listStatus(d).foreach { f =>
      parse(fs, f.getPath) match {
        case Some((_, e)) if !e.takedown && e.timeMs > asofMs =>
          if (fs.delete(f.getPath, false)) n += 1
        case _ => ()
      }
    }
    n
  }

  /** Drop every sidecar of a retired data file (rewrites/compaction). */
  def dropFor(fs: FileSystem, tableDir: Path, file: Path): Unit =
    dropForAll(fs, tableDir, Seq(file))

  /** [[dropFor]] over a whole retired file set with ONE sidecar-dir
    * listing — the per-file form lists `_graft_dv` each call, which goes
    * quadratic when an overwrite/restore retires thousands of files. */
  def dropForAll(fs: FileSystem, tableDir: Path, files: Seq[Path]): Unit = {
    if (files.isEmpty) return
    val d = dir(tableDir)
    if (!fs.exists(d)) return
    val idents = files.map(identOf(tableDir, _)).toSet
    fs.listStatus(d).foreach { f =>
      parse(fs, f.getPath) match {
        case Some((i, _)) if idents.contains(i) => fs.delete(f.getPath, false)
        case _ => ()
      }
    }
  }

  /** Total masked rows across `files` — the correction [[GraftScan.rowCount]]
    * applies. Zero-cost when no table involved carries a `_graft_dv` dir. */
  def maskedRows(files: Seq[org.apache.hadoop.fs.FileStatus],
      conf: org.apache.hadoop.conf.Configuration): Long = {
    if (files.isEmpty) return 0L
    // marker probes memoized by parent dir: sibling files share the walk
    val rootOfParent = scala.collection.mutable.HashMap[Path, Path]()
    def rootOf(p: Path): Path = rootOfParent.getOrElseUpdate(p.getParent,
      tableRootOf(GraftFs.get(p, conf), p))
    files.groupBy(f => rootOf(f.getPath)).map { case (root, fsOfRoot) =>
      val fsys = GraftFs.get(root, conf)
      if (!fsys.exists(dir(root))) 0L
      else {
        val dvs = list(fsys, root)
        if (dvs.isEmpty) 0L
        else fsOfRoot.map { f =>
          dvs.get(identOf(root, f.getPath))
            .map(d => cardinality(fsys, d._2)).getOrElse(0L)
        }.sum
      }
    }.sum
  }
}
