package graft.spark

import graft.format.{Codec, GraftFileReader, GraftStat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** SQL-facing introspection frames over the format's metadata utilities —
  * the `graft_pages` / `graft_ndv` table functions' bodies
  * ([[GraftExtensions]] registers the names). Pure-SQL users get the same
  * answers the library APIs ([[graft.format.GraftStat]], [[GraftNdv]])
  * give: per-page codec/size/null layout, and footer-synopsis distinct
  * counts priced at O(files).
  *
  * `pages` reads every leaf's value bytes to parse codec trees (the same
  * cost as GraftStat.describe — it is a debugging/ops tool, not a query
  * operator); `ndv` stays footer-only.
  */
object GraftIntrospect {

  def codecName(c: Byte): String = c match {
    case Codec.None => "none"
    case Codec.Lz4 => "lz4"
    case Codec.Zstd => "zstd"
    case Codec.Snappy => "snappy"
    case Codec.Rle => "rle"
    case Codec.Dict => "dict"
    case Codec.OneValue => "onevalue"
    case Codec.Freq => "freq"
    case Codec.Bitpack => "bitpack"
    case Codec.DeltaBitpack => "deltabitpack"
    case Codec.Patas => "patas"
    case Codec.Wide => "wide"
    case other => s"codec$other"
  }

  /** Dotted leaf names in the writer's depth-first leaf order — MUST mirror
    * [[GraftSchema.leafSpecs]] exactly (offsets/validity machinery leaves
    * get `#offsets` / `#valid` suffixes; they aren't addressable columns).
    */
  def leafNames(dt: DataType, nullable: Boolean, prefix: String): Seq[String] = dt match {
    case ArrayType(et, cn) =>
      s"$prefix.#offsets" +: leafNames(et, cn, s"$prefix.element")
    case MapType(kt, vt, vcn) =>
      s"$prefix.#offsets" +: (leafNames(kt, nullable = false, s"$prefix.key") ++
        leafNames(vt, vcn, s"$prefix.value"))
    case s: StructType =>
      val marker = if (nullable) Seq(s"$prefix.#valid") else Seq.empty
      marker ++ s.fields.flatMap(f => leafNames(f.dataType, f.nullable, s"$prefix.${f.name}"))
    case _ => Seq(prefix)
  }

  /** One live data file's footer, dotted leaf names and codec-tree
    * description ([[GraftStat.describe]]) — the walk behind [[pages]] and
    * the `stat` diagnostic.
    */
  final case class FileLayout(file: String, leafNames: Seq[String],
      footer: graft.format.Footer, leaves: Array[GraftStat.LeafInfo])

  def describeFiles(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileLayout] = {
    val files = GraftRewriteGuard.adjust(dir, conf,
      GraftUtil.listDataFiles(dir, conf))
    require(files.nonEmpty, s"graft: no data files under $dir")
    files.map { f =>
      val in = new HadoopSeekableInput(f.getPath.getFileSystem(conf), f.getPath, f.getLen)
      try {
        val footer = GraftFileReader.readFooter(in)
        val schema = DataType.fromJson(footer.schemaJson).asInstanceOf[StructType]
        val specs = schema.fields.flatMap(fd =>
          GraftSchema.leafSpecs(fd.dataType, fd.nullable)).toArray
        val names = schema.fields.toSeq.flatMap(fd =>
          leafNames(fd.dataType, fd.nullable, fd.name))
        FileLayout(f.getPath.getName, names, footer, GraftStat.describe(in, footer, specs))
      } finally in.close()
    }
  }

  /** One row per (file, leaf, page): physical layout introspection.
    * Columns: file, column (dotted leaf name), leaf, lane, page, codec,
    * compressed_len, raw_len, num_values, null_count.
    */
  def pages(spark: SparkSession, dir: String): DataFrame = {
    val rows = describeFiles(dir, spark.sessionState.newHadoopConf()).flatMap { fl =>
      fl.leaves.zipWithIndex.toSeq.flatMap { case (li, i) =>
        li.pages.zipWithIndex.toSeq.map { case (pg, pi) =>
          (fl.file, fl.leafNames(i), i, li.lane, pi, codecName(pg.codec),
            pg.compressedLen, pg.rawLen, pg.numValues, pg.nullCount)
        }
      }
    }
    import spark.implicits._
    rows.toDF("file", "column", "leaf", "lane", "page", "codec",
      "compressed_len", "raw_len", "num_values", "null_count")
  }

  /** One row per version-log entry: the table's COMMIT HISTORY (the
    * DESCRIBE HISTORY analog), driven by the append-only version log so
    * ordinals match `VERSION AS OF` exactly — expired commits appear as
    * holes with status 'expired', never silently renumbered.
    *
    * Columns: version (1-based ordinal; null for truncate sentinels),
    * commit_ms (the manifest's embedded millis), manifest (the SERVING
    * manifest: the commit's own, or its replacement after a row-level
    * rewrite healed it), status ('live' | 'replaced' | 'expired' |
    * 'truncate'), tag (the name suffix — stream epochs, merge tags,
    * restore markers identify themselves here), files / bytes (the
    * serving manifest's listing), rows (footer row-count sum of the
    * listed files that still exist; null when any is gone or the commit
    * expired — an honest "unknown", never a partial sum). Cost: O(files)
    * footer tail reads, the graft_ndv price.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = tableDir.getFileSystem(conf)
    val log = GraftVersionLog.sync(fs, tableDir)
    val manifests = GraftManifest.list(fs, tableDir)
    val manifestSet = manifests.toSet
    val replacementBy = manifests.filter(GraftManifest.isReplacement)
      .groupBy(m => (GraftManifest.nameT(m), GraftManifest.baseSuffix(m)))
      .map { case (k, ms) => k -> ms.max } // newest replacement serves
    def rowsOf(entries: Seq[(String, Long)]): Option[Long] = {
      if (entries.isEmpty) return Some(0L) // zero-entry marker commit
      val statuses = entries.map { case (name, _) =>
        try Some(fs.getFileStatus(new org.apache.hadoop.fs.Path(tableDir, name)))
        catch { case _: java.io.FileNotFoundException => None }
      }
      if (statuses.exists(_.isEmpty)) None
      else {
        // physical rows the commit's files hold (rowCount subtracts the
        // CURRENT dv masks — add them back: history reports what was
        // committed, not what a scan serves today)
        val files = statuses.flatten
        val c = GraftScan.rowCount(files, conf)
        if (c.isPresent) Some(c.getAsLong + GraftDv.maskedRows(files, conf))
        else None
      }
    }
    var ordinal = 0L
    val rows: Seq[(Option[Long], Option[Long], Option[String], String,
        String, Option[Long], Option[Long], Option[Long])] =
      log.map { entry =>
        if (entry.startsWith(GraftVersionLog.SentinelPrefix))
          (None, None, None, "truncate",
            entry.stripPrefix(GraftVersionLog.SentinelPrefix),
            None, None, None)
        else {
          ordinal += 1
          val t = GraftManifest.nameT(entry)
          val tag = entry.substring(entry.indexOf('-') + 1)
          val serving: Option[(String, String)] =
            if (manifestSet.contains(entry)) Some((entry, "live"))
            else replacementBy.get((t, GraftManifest.baseSuffix(entry)))
              .map(r => (r, "replaced"))
          serving match {
            case Some((m, status)) =>
              val entries = GraftManifest.read(fs, tableDir, m)
              (Some(ordinal), Some(t), Some(m), status, tag,
                Some(entries.size.toLong), Some(entries.map(_._2).sum),
                rowsOf(entries))
            case None =>
              (Some(ordinal), Some(t), None, "expired", tag,
                None, None, None)
          }
        }
      }
    import spark.implicits._
    rows.toDF("version", "commit_ms", "manifest", "status", "tag",
      "files", "bytes", "rows")
  }

  /** One row per deletion-vector sidecar GENERATION: ident (the masked
    * data file's injective name), gen, publish time, posture
    * ('takedown' | 'versioned'), bitmap cardinality, and whether this
    * generation is the CURRENT one (what an unpinned scan applies).
    * Retained older versioned generations — the `asof` reproducibility
    * history — appear with current = false. Cost: one sidecar-dir
    * listing + one bitmap read per generation.
    */
  def dv(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = tableDir.getFileSystem(conf)
    val all = GraftDv.listAll(fs, tableDir)
    val currentPath = GraftDv.list(fs, tableDir)
      .map { case (ident, (_, p)) => ident -> p }
    val rows = all.toSeq.sortBy(_._1).flatMap { case (ident, es) =>
      es.map { e =>
        (ident, e.gen, e.timeMs,
          if (e.takedown) "takedown" else "versioned",
          GraftDv.cardinality(fs, e.path),
          currentPath.get(ident).contains(e.path))
      }
    }
    import spark.implicits._
    rows.toDF("ident", "gen", "time_ms", "posture", "cardinality", "current")
  }

  /** One row per column: the footer KMV distinct-count estimate
    * ([[GraftNdv.estimate]] as a frame — col_name, k, n_hashes, kth_hash,
    * estimate). */
  def ndv(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    val stats = GraftNdv.estimate(spark, dir, cols)
    import spark.implicits._
    stats.map(st => (st.column, st.k, st.nHashes.toLong, st.kth, st.estimate))
      .toDF("col_name", "k", "n_hashes", "kth_hash", "estimate")
  }

  /** `graft_partitions(path)`: per-partition operational stats — files /
    * bytes / live rows (footer counts minus current dv masks; null when a
    * footer is unreadable) / dv-masked rows per hive or derived-transform
    * directory. The which-days-are-bloated / what-should-I-compact view,
    * priced at one footer tail read per file and zero data pages — at
    * 100 TB this is the report that decides WHERE the next
    * graft_compact_partition runs. Unpartitioned tables report one
    * '<all>' row; only data-bearing partitions appear (an ADD PARTITION
    * mkdir holds no files yet).
    */
  def partitions(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val files = GraftRewriteGuard.adjust(dir, conf,
      GraftUtil.listDataFiles(dir, conf))
    val groups = files.groupBy(f =>
      GraftUtil.partitionSegments(tableDir, f.getPath)
        .map { case (k, v) => s"$k=${if (v == null) "null" else v}" }
        .mkString("/"))
    import spark.implicits._
    groups.toSeq.sortBy(_._1).map { case (p, fsx) =>
      val rc = GraftScan.rowCount(fsx, conf)
      val masked = GraftDv.maskedRows(fsx, conf)
      (if (p.isEmpty) "<all>" else p,
        fsx.size.toLong, fsx.map(_.getLen).sum,
        if (rc.isPresent) Some(rc.getAsLong) else scala.None,
        masked)
    }.toDF("partition", "files", "bytes", "rows", "dv_masked")
  }
}
