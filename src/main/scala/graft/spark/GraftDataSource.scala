package graft.spark

import graft.format._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import java.util.OptionalLong

/** DataSource V2 provider for the graft columnar format ("graft", alias
  * "strawboat"). Spark capability mapping per SURVEY.md §2.1: the format
  * supplies scan/sink + column pruning + page skipping; everything relational
  * above the scan is stock Catalyst.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftUtil.pathOf(options)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    GraftUtil.inferSchema(path, conf)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "graft: 'path' option is required")
    new GraftTable(schema, path)
  }
}

/** `spark.read.format("strawboat")` alias — same engine, reference-familiar name. */
class StrawboatDataSource extends GraftDataSource {
  override def shortName(): String = "strawboat"
}

object GraftUtil {
  val Extension = ".graft"

  /** The tags the CoW rewrite machinery stamps on per-file outputs
    * (`rewriteMatchedFiles`: DELETE/UPDATE/MERGE survivors and the
    * analyze stats backfill). ONE definition — every marker-aware
    * consumer (the scan's twin dedup below, manifest heal + commit-time
    * inheritance, the stream's redelivery guard) must recognize the same
    * set, or a newly added tag silently breaks that consumer: the `anz`
    * tag initially missed three of them, so an analyze backfill expired
    * commit history without replacement and redelivered whole files to
    * upgraded stream checkpoints. The CDC feed-event typer keeps its own
    * narrower set on purpose (analyze writes no feed files). */
  val RewriteTags = "del|upd|mrg|anz"

  /** End-anchored `-<tag><hash8>.graft` suffix — strips ONE rewrite
    * marker off a data-file name (apply repeatedly to walk an ancestor
    * chain: `X-delA-delB` → `X-delA` → `X`). */
  def markerStripRegex: scala.util.matching.Regex =
    raw"-(?:$RewriteTags)[0-9a-f]{8}\Q$Extension\E$$".r

  /** Full-name pattern of a rewrite output (any file carrying a trailing
    * rewrite marker). */
  def survivorNamePattern: java.util.regex.Pattern =
    raw".*-(?:$RewriteTags)[0-9a-f]{8}\Q$Extension\E".r.pattern

  private val TwinNameRe = raw"(.*)-(?:$RewriteTags)[0-9a-f]{8}".r

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft: 'path' option is required")
    p
  }

  /** Bounded-parallel delete for the whole-table retire phases (compact,
    * truncate, restore, partition overwrite). Serial deletes make the
    * retire N metadata round-trips — on an object store that IS the
    * reader-visible old+new window after a compaction commits, and dead
    * wall time besides. Order is irrelevant (every path retires
    * unconditionally), so a small pool divides the window by its width;
    * failures propagate like the serial loop's did. */
  def deleteAll(fs: org.apache.hadoop.fs.FileSystem, paths: Seq[Path]): Unit = {
    if (paths.size <= 4) { paths.foreach(fs.delete(_, false)); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, paths.size))
    try {
      paths.map(p => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { fs.delete(p, false); () }
      })).foreach { f =>
        // rethrow the Callable's own exception, not the Future wrapper —
        // callers match on IOException exactly as with the serial loop
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** Originals shadowed by a published rewrite twin: for every file named
    * `<base>-<tag><hash8>.graft`, its NEAREST LIVE ancestor on the
    * marker-strip chain (`X-delA-updB` covers `X-delA`, and `X` when
    * `X-delA` is itself gone — mirroring the heal's ancestor walk; the
    * walk stops at the first live ancestor, which any deeper ancestor is
    * that file's own problem to shadow). The pair state occurs only
    * inside a CoW swap's publish window (output renamed in, original not
    * yet deleted) or after a crash in that window — and the swap's commit
    * point is the output's durable publish (a re-run just retires the
    * original), so the ANCESTOR is the logically-dead file of the pair. */
  def shadowedOriginals(files: Seq[FileStatus]): Set[Path] = {
    if (files.size < 2) return Set.empty
    val present = files.map(_.getPath).toSet
    files.iterator.flatMap { f =>
      val nm0 = f.getPath.getName
      var found: Option[Path] = None
      if (nm0.endsWith(Extension)) {
        var nm = nm0.dropRight(Extension.length)
        var go = true
        while (go) nm match {
          case TwinNameRe(base) =>
            val anc = new Path(f.getPath.getParent, base + Extension)
            if (present.contains(anc)) { found = Some(anc); go = false }
            else nm = base
          case _ => go = false
        }
      }
      found.iterator
    }.toSet
  }

  /** TWIN-WINS dedup: drop every original a published rewrite twin
    * shadows. This is what makes a CoW swap ATOMIC to readers at the
    * output's rename instant — before it a lister sees the original
    * (pre-op rows), after it the twin (post-op rows), never both files'
    * rows at once. It also keeps a crashed swap's orphan pair (which
    * persists until a maintenance op rolls it forward) from double-
    * counting in every read in the interim. */
  def dedupTwins(files: Seq[FileStatus]): Seq[FileStatus] = {
    val sh = shadowedOriginals(files)
    if (sh.isEmpty) files else files.filterNot(f => sh.contains(f.getPath))
  }

  /** Data-file listing as READERS should see it: twin-deduped (see
    * [[dedupTwins]]). The engine's own metadata dirs read explicitly as a
    * root (`_graft_*`, e.g. the CDC change feed) list RAW — feed files
    * legitimately chain markers (`F-del<a>.graft` and
    * `F-del<a>-del<b>.graft` are two different deletes' pre-images), so
    * the twin rule would misread one as shadowing the other. The check is
    * on the RESERVED `_graft_` prefix, not any underscore: a user table
    * legitimately rooted at `/wh/_staging` keeps reader atomicity.
    * Retire/cleanup passes that must see every physical file use
    * [[listDataFilesRaw]]. */
  def listDataFiles(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val all = listDataFilesRaw(dir, conf)
    if (new Path(dir).getName.startsWith("_graft_")) all else dedupTwins(all)
  }

  def listDataFilesRaw(dir: String, conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = GraftFs.get(p, conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    if (!st.isDirectory)
      return Seq(st).filter(f => f.getPath.getName.endsWith(Extension) &&
        !f.getPath.getName.startsWith("."))
    // recurse into hive-style partition subdirs (k=v/...); metadata dirs
    // (_graft_manifest etc.) and hidden entries are skipped
    val out = Seq.newBuilder[FileStatus]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { f =>
      val name = f.getPath.getName
      if (name.startsWith(".") || name.startsWith("_")) ()
      else if (f.isDirectory) { if (name.contains('=')) walk(f.getPath) }
      else if (f.isFile && name.endsWith(Extension)) out += f
    }
    walk(p)
    out.result().sortBy(_.getPath.toString)
  }

  /** Hive-style `k=v` partition-path segments of a data file relative to the
    * table root (empty for an unpartitioned layout). The walk stops at the
    * table root by scheme-insensitive path comparison — FileStatus paths are
    * fully qualified while the option path may not be, so Path equality
    * would never fire and a table root itself named `k=v` would fabricate a
    * segment.
    */
  def partitionSegments(tableDir: Path, file: Path): Seq[(String, String)] = {
    val rootPath = tableDir.toUri.getPath
    var segs = List.empty[(String, String)]
    var d = file.getParent
    while (d != null && d.toUri.getPath != rootPath && d.getName.contains('=')) {
      val n = d.getName
      val i = n.indexOf('=')
      segs = (n.substring(0, i), unescapePathValue(n.substring(i + 1))) :: segs
      d = d.getParent
    }
    segs
  }

  /** Deterministic path-safe rendering of a partition value (URL-style
    * escaping of separator/metacharacters; null -> the hive default token).
    * Values that would collide with the sentinel tokens are %-escaped so the
    * mapping stays injective.
    */
  /** The hive layout `files` carry, inferred from EVERY file — never the
    * first listed, whose identity depends on listing order. `strict`
    * rejects a mixed layout loudly (the catalog rule); lenient callers
    * (the MOR append paths, which only need "which columns partition")
    * union the observed keys. */
  def layoutOf(tableDir: Path, files: Seq[FileStatus],
      strict: Boolean = false): Seq[String] = {
    val layouts = files
      .map(f => partitionSegments(tableDir, f.getPath).map(_._1)).distinct
    layouts match {
      case Seq() => Seq.empty
      case Seq(one) => one
      case many if strict => throw new IllegalStateException(
        s"graft: table at $tableDir carries a MIXED partition layout (" +
          many.map(l => if (l.isEmpty) "<unpartitioned>" else l.mkString("/"))
            .mkString(", ") +
          ") — repair the directory (compact with an explicit partitionby) " +
          "before partition-aware operations")
      case many => many.flatten.distinct
    }
  }

  def escapePathValue(v: String): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__"
    else if (v == "__HIVE_DEFAULT_PARTITION__" || v == "__EMPTY__")
      "%5F" + v.substring(1) // literal sentinel: escape the first underscore
    else {
      // escape at the UTF-8 BYTE level: non-ASCII stays out of directory
      // names entirely, so a derived dir from arbitrary corpus text is
      // portable across filesystems and JVM path encodings (a raw emoji
      // dir fails outright when sun.jnu.encoding isn't UTF-8). All
      // previously-escaped chars were ASCII, so old layouts round-trip
      // byte-identically through both functions.
      val sb = new StringBuilder
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
        val c = (b & 0xff).toChar
        if (c == '/' || c == '\\' || c == '=' || c == '%' || c == ':' ||
            c == '#' || c < ' ' || c >= 0x7f) sb.append(f"%%${b & 0xff}%02X")
        else sb.append(c)
      }
      if (sb.isEmpty) "__EMPTY__" else sb.toString
    }

  def unescapePathValue(s: String): String =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else if (s == "__EMPTY__") ""
    else {
      // %XX runs decode as UTF-8 BYTES (the writer escapes at the byte
      // level); every other char copies through as a CHAR — a dir written
      // by an older writer that left non-ASCII raw must round-trip
      // unchanged, not be crushed through toByte into U+FFFD garbage
      // (which would silently prune the dir on every equality probe)
      val sb = new StringBuilder(s.length)
      val bytes = new java.io.ByteArrayOutputStream(8)
      def flush(): Unit = if (bytes.size > 0) {
        sb.append(new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
        bytes.reset()
      }
      def hex(c: Char): Boolean =
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
      var i = 0
      while (i < s.length) {
        // only a VALID %XX is an escape; a foreign dir's raw '%' (e.g.
        // 'k=95%off') copies through instead of crashing the listing or
        // silently decoding to a different value
        if (s.charAt(i) == '%' && i + 3 <= s.length &&
            hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
          bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } else { flush(); sb.append(s.charAt(i)); i += 1 }
      }
      flush()
      sb.toString
    }

  def inferSchema(dir: String, conf: org.apache.hadoop.conf.Configuration): StructType = {
    val files = listDataFiles(dir, conf)
    require(files.nonEmpty, s"graft: no $Extension files under $dir to infer schema from")
    val head = files.head
    val in = new HadoopSeekableInput(
      GraftFs.get(head.getPath, conf), head.getPath, head.getLen)
    val footerSchema = try {
      val footer = GraftFileReader.readFooter(in)
      DataType.fromJson(footer.schemaJson).asInstanceOf[StructType]
    } finally in.close()
    // metadata-only DROP/RENAME COLUMN (column-mapping sidecar): aliased
    // physical names surface under their logical name, dropped columns
    // disappear — files stay immutable, path and catalog readers agree
    val dirPath = new Path(dir)
    val fs = GraftFs.get(dirPath, conf)
    val mapping = GraftColumnMap.forRead(fs, dirPath)
    val mapped =
      if (mapping.isEmpty) footerSchema
      else mapping.applyToTableSchema(footerSchema)
    // declared TYPE WIDENINGS (ALTER COLUMN ... TYPE) apply to path reads
    // too: mixed-width generations read under one wide schema
    GraftCatalog.wideningsOverlay(fs, dirPath, mapped)
  }
}

final class GraftTable(private val tableSchema: StructType, private val path: String,
    private val tableAsofMs: Option[Long] = None,
    private val partitionCols: Seq[String] = Seq.empty,
    private val sortCols: Seq[String] = Seq.empty,
    private val clusterCols: Seq[String] = Seq.empty,
    private val checks: Seq[(String, String, Boolean)] = Seq.empty,
    /** true when loaded through GraftCatalog: Spark can then resolve v2
      * transform expressions (requiredDistribution) via the catalog's
      * FunctionCatalog; path relations carry no function catalog. */
    private val viaCatalog: Boolean = false,
    /** declared per-page bloom leaf paths / footer ndv synopsis columns
      * (TBLPROPERTIES 'graft.bloomfilter' / 'graft.ndvsketch'): every
      * write through this table applies them unless the write passes its
      * own same-named option. */
    private val bloomCols: Seq[String] = Seq.empty,
    private val ndvCols: Seq[String] = Seq.empty,
    /** element-leaf page predicates for this table's scans, set by
      * [[GraftElementPushdown]] — DSv2 cannot deliver them through
      * pushFilters. Pruning is advisory: Spark's residual Filter above the
      * scan still applies the predicate row-level. */
    private val elementPreds: Array[ZoneMapFilter.PagePred] = Array.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  override def name(): String = s"graft:$path"

  private[spark] def withElementPreds(ps: Array[ZoneMapFilter.PagePred]): GraftTable =
    new GraftTable(tableSchema, path, tableAsofMs, partitionCols, sortCols,
      clusterCols, checks, viaCatalog, bloomCols, ndvCols, ps)

  /** `_graft_ordinal`: the row's file-physical ordinal, synthesized by the
    * reader (page-group prefix sums + in-batch index). With
    * `input_file_name()` it names any row without content hashing — the
    * addressing deletion vectors mask on, and what
    * [[GraftMaintenance.deleteWhereDv]]'s probe selects. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftDv.OrdinalCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "file-physical row ordinal (deletion-vector addressing)"
    })

  // partitionCols carries SPEC strings (bare name = identity column,
  // `days(ts)` / `bucket(16,id)` = hidden-partitioning transforms); the
  // parsed form drives the directory names, the partition schema, and
  // the v2 Transform reporting below
  private lazy val partTransforms: Seq[PartTransform] =
    partitionCols.map(GraftPartTransform.parse)
  private lazy val partDirNames: Seq[String] = partTransforms.map(_.dirName)

  /** The hive directory layout as v2 transforms — what makes the SQL
    * planner route `INSERT OVERWRITE` under dynamic partition-overwrite
    * mode (and `df.writeTo(t).overwritePartitions()`) to a partition
    * replacement instead of a truncate. Declared by CREATE TABLE
    * PARTITIONED BY, else inferred from the files' layout by the catalog.
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partTransforms.map(GraftPartTransform.toV2).toArray

  // for the SQL UPDATE rewrite (GraftUpdateRewrite), which re-reads the
  // table through the maintenance pass by path
  private[spark] def tablePath: String = path
  private[spark] def asofMs: Option[Long] = tableAsofMs
  /** (name, predicateSql) of the ENFORCED checks — what the SQL DML
    * rewrites must validate pre-flight (they bypass the v2 write path
    * where Spark's own constraint enforcement lives). */
  private[spark] def enforcedCheckSpecs: Seq[(String, String)] =
    checks.filter(_._3).map(c => (c._1, c._2))

  /** SQL `DELETE FROM <catalog table> WHERE <pred>`, routed to
    * `GraftMaintenance.deleteWhere` — the file-scoped row-level purge pass
    * (one distributed probe job, survivor rewrites, untouched files keep
    * their identity). Only source-translatable predicates arrive here
    * (Spark rejects the rest before calling); `canDeleteWhere` further
    * limits to the filters we can rebuild as Columns, so a partial
    * translation can never delete MORE rows than the SQL asked.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    tableAsofMs.isEmpty && filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(tableAsofMs.isEmpty, "graft: cannot DELETE from a time-travel snapshot")
    val spark = SparkSession.active
    // DELETE/TRUNCATE on an empty table (no data files yet, or already
    // truncated) is a successful no-op in SQL — don't reach the purge
    // pass's nothing-to-delete guard
    if (GraftUtil.listDataFiles(path, spark.sessionState.newHadoopConf()).isEmpty) return
    val cols = filters.map(f => GraftTable.filterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"graft: cannot translate DELETE filter $f")))
    val pred = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the catalog table's schema may carry ALTER-added columns no data file
    // backs yet — thread it through so predicates on them resolve (the
    // purge pass would otherwise read the footer-only path schema).
    // Cache refresh is Spark's job: DeleteFromTableExec recaches the V2
    // relation through its refreshCache callback after this returns.
    // `graft.delete.mode=dv` (session conf) routes SQL DELETE through the
    // merge-on-read deletion-vector pass instead of copy-on-write
    // rewrites — the GDPR-cadence knob for tables where rewrite
    // amplification is the cost center (mask now, fold at compaction).
    val dvMode = spark.conf.getOption("graft.delete.mode").contains("dv")
    // `graft.dv.takedown=false` publishes VERSIONED masks: time-travel
    // reads older than the delete keep seeing the rows (reproducible
    // training sets); the default true is the compliance posture
    if (dvMode) GraftMaintenance.deleteWhereDv(spark, path, pred,
      schemaOverride = Some(tableSchema),
      takedown = spark.conf.getOption("graft.dv.takedown").forall(_.toBoolean))
    else GraftMaintenance.deleteWhere(spark, path, pred,
      schemaOverride = Some(tableSchema))
  }
  // ---- SQL partition management (SHOW PARTITIONS / ADD / DROP /
  // TRUNCATE PARTITION): the hive directory layout IS the partition
  // store, so listing walks dirs, ADD is a mkdir, and DROP/TRUNCATE are
  // whole-partition retirement through the dynamic-overwrite machinery —
  // O(partition files) filesystem ops, no probe scan. At 100 TB "drop
  // yesterday's bad load" must never be a table-wide rewrite.

  override def partitionSchema(): StructType =
    StructType(partTransforms.map(
      GraftPartTransform.partField(_, tableSchema)))

  /** LOGICAL partition value (null for the hive default partition) ->
    * the typed InternalRow field. */
  private def partValue(dt: org.apache.spark.sql.types.DataType,
      logical: String): Any =
    if (logical == null) null
    else dt match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(logical)
      case org.apache.spark.sql.types.LongType => logical.toLong
      case org.apache.spark.sql.types.IntegerType => logical.toInt
      case org.apache.spark.sql.types.ShortType => logical.toShort
      case org.apache.spark.sql.types.ByteType => logical.toByte
      case org.apache.spark.sql.types.BooleanType => logical.toBoolean
      case org.apache.spark.sql.types.DateType =>
        java.time.LocalDate.parse(logical).toEpochDay.toInt
      case other => throw new UnsupportedOperationException(
        s"graft: unsupported partition value type $other")
    }

  /** InternalRow field -> LOGICAL value string (null for a null field). */
  private def partLogical(ident: org.apache.spark.sql.catalyst.InternalRow,
      i: Int, dt: org.apache.spark.sql.types.DataType): String =
    if (ident.isNullAt(i)) null
    else dt match {
      case org.apache.spark.sql.types.DateType =>
        java.time.LocalDate.ofEpochDay(ident.getInt(i).toLong).toString
      case _ => String.valueOf(ident.get(i, dt))
    }

  /** All partition value-combos as LOGICAL values (dir tokens unescaped
    * through the write path's own rendering — a value like 'a/b' or a
    * null partition round-trips), walked from the layout (data-bearing
    * AND empty — an ADD PARTITION mkdir counts, hive parity). */
  private def partitionCombos(): Seq[Seq[String]] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = GraftFs.get(root, conf)
    if (partitionCols.isEmpty || !fs.exists(root)) return Seq.empty
    def walk(d: Path, depth: Int): Seq[Seq[String]] =
      if (depth == partDirNames.length) Seq(Seq.empty)
      else fs.listStatus(d).toSeq
        .filter(f => f.isDirectory &&
          f.getPath.getName.startsWith(partDirNames(depth) + "="))
        .flatMap { f =>
          val v = GraftUtil.unescapePathValue(
            f.getPath.getName.substring(partDirNames(depth).length + 1))
          walk(f.getPath, depth + 1).map(v +: _)
        }
    walk(root, 0)
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.length == ident.numFields,
      s"graft: ${names.length} partition names but ${ident.numFields} values")
    val ps = partitionSchema()
    val wanted: Seq[(Int, String)] = names.toSeq.zipWithIndex.map { case (n, j) =>
      val i = partDirNames.indexWhere(_.equalsIgnoreCase(n))
      require(i >= 0, s"graft: '$n' is not a partition column of $partDirNames")
      i -> partLogical(ident, j, ps.fields(i).dataType)
    }
    partitionCombos()
      .filter(combo => wanted.forall { case (i, v) => combo(i) == v })
      .map { combo =>
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          combo.zipWithIndex.map { case (logical, i) =>
            partValue(ps.fields(i).dataType, logical) })
      }.toArray
  }

  private def partitionDirOf(
      ident: org.apache.spark.sql.catalyst.InternalRow): Path = {
    val ps = partitionSchema()
    require(ident.numFields == ps.length,
      s"graft: partition spec must bind all of $partDirNames")
    partDirNames.indices.foldLeft(new Path(path)) { (d, i) =>
      // the WRITE path's own escaping: 'a/b', '', and null values name
      // the same directory the writer laid them out under
      new Path(d, s"${partDirNames(i)}=" + GraftUtil.escapePathValue(
        partLogical(ident, i, ps.fields(i).dataType)))
    }
  }

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit = {
    val spark = SparkSession.active
    val d = partitionDirOf(ident)
    val fs = GraftFs.get(d, spark.sessionState.newHadoopConf())
    if (fs.exists(d))
      throw new org.apache.spark.sql.catalyst.analysis.PartitionsAlreadyExistException(
        name(), ident, partitionSchema())
    fs.mkdirs(d)
  }

  /** DROP PARTITION: whole-file retirement of the partition's files
    * (manifests healed, dv sidecars dropped — the dynamic-overwrite
    * scaffold), then the dir goes IF nothing new landed: the retire is
    * snapshot-scoped, so a concurrent append committing into this
    * partition between the listing and the cleanup must survive — we
    * delete leftover staging junk, then remove the dir NON-recursively
    * (a dir holding a fresh live data file refuses the delete and keeps
    * the committed rows; never a recursive delete of files the snapshot
    * did not cover). Returns false when the partition never existed. */
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val d = partitionDirOf(ident)
    val fs = GraftFs.get(d, conf)
    if (!fs.exists(d)) return false
    retirePartitionFiles(spark, conf, d)
    val leftover = fs.listStatus(d)
    val (live, junk) = leftover.partition(f => f.isFile &&
      f.getPath.getName.endsWith(GraftUtil.Extension) &&
      !f.getPath.getName.startsWith("."))
    if (live.isEmpty) {
      junk.foreach(j => fs.delete(j.getPath, true)) // staging tmps only
      fs.delete(d, false)
    }
    true
  }

  /** TRUNCATE TABLE ... PARTITION (...): same retirement, dir kept. */
  override def truncatePartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val d = partitionDirOf(ident)
    val fs = GraftFs.get(d, conf)
    if (!fs.exists(d))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    retirePartitionFiles(spark, conf, d)
    true
  }

  private def retirePartitionFiles(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, d: Path): Unit = {
    val fs = GraftFs.get(d, conf)
    val prefix = fs.makeQualified(d).toString + "/"
    val victims = GraftUtil.listDataFiles(path, conf)
      .map(f => f.getPath.toString).filter(_.startsWith(prefix)).toSet
    if (victims.nonEmpty)
      GraftMaintenance.overwriteRetire(spark, path, victims,
        changelog = false,
        opHash = GraftManifest.md5Hex(s"droppart:$prefix", 4))
  }

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft: partitions carry no metadata store (the directory IS the partition)")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** Surface the declared layout to DESCRIBE TABLE EXTENDED / SHOW
    * TBLPROPERTIES — read-only introspection of what the sidecar holds
    * (the write path reads the sidecar itself, never these). */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (sortCols.nonEmpty) m.put("graft.sortby", sortCols.mkString(","))
    if (clusterCols.nonEmpty) m.put("graft.clusterby", clusterCols.mkString(","))
    if (bloomCols.nonEmpty) m.put("graft.bloomfilter", bloomCols.mkString(","))
    if (ndvCols.nonEmpty) m.put("graft.ndvsketch", ndvCols.mkString(","))
    m
  }

  /** Declared CHECK constraints (sidecar-persisted). Reporting them is
    * what makes Spark's ResolveTableConstraints enforce ENFORCED checks
    * on every write through this connector — a violating INSERT/MERGE
    * row fails the statement at execution. Status: ENFORCED checks are
    * VALID (ADD CONSTRAINT validated existing rows and every write since
    * was checked); NOT ENFORCED checks are UNVALIDATED — writes skip
    * them, so the data can legally violate them, and an optimizer that
    * trusted a VALID label for pruning could return wrong rows. */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.map { case (n, sql, enforced) =>
      val status =
        if (enforced) org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID
        else org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.UNVALIDATED
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(enforced)
        .validationStatus(status)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    val s = new java.util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.OVERWRITE_BY_FILTER)
    s.add(TableCapability.OVERWRITE_DYNAMIC)
    s.add(TableCapability.MICRO_BATCH_READ)
    s.add(TableCapability.STREAMING_WRITE)
    s
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableSchema, path,
      SparkSession.active.sessionState.newHadoopConf(),
      options.getBoolean("runtimefilter", false),
      Option(options.get("manifest")).map(_.toBoolean),
      Option(options.get("maxfilespertrigger")).map(_.toInt),
      Option(options.get("asof")).map(_.toLong).orElse(tableAsofMs),
      Option(options.get("since")).map(_.toLong),
      options.getOrDefault("startingposition", "earliest") match {
        case "earliest" => false
        case "latest" => true
        case other => throw new IllegalArgumentException(
          s"graft: startingposition must be earliest|latest, got '$other'")
      },
      // newline-separated EXACT data-file paths: the scan plans these
      // files and no others, and fails loudly if any is gone — the
      // maintenance rewrites' snapshot-isolation read (a dir listing at
      // plan time would admit files committed after the caller's
      // snapshot; compact's retire set and its scan must be ONE set)
      Option(options.get("snapshotfiles"))
        .map(_.split('\n').filter(_.nonEmpty).toSet),
      elementPreds)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(tableAsofMs.isEmpty, "graft: cannot write to a time-travel snapshot")
    new GraftWriteBuilder(info, path, tablePartitionBy = partitionCols,
      tableSortBy = sortCols, tableClusterBy = clusterCols,
      viaCatalog = viaCatalog, tableBloomFilter = bloomCols,
      tableNdvSketch = ndvCols)
  }

  // Structural equality by (path, schema): Spark's cache manager and
  // ReuseExchange compare canonicalized plans, and DataSourceV2Relation
  // equality includes the Table object — with reference equality, two
  // `read.load(dir)` calls over the same directory would never `sameResult`,
  // so `df.cache()` hits, cached-view reuse, and self-join exchange reuse
  // all silently miss (measured: a cached intermediate recomputed on every
  // reuse in the bench). Element predicates count too: a tree transform
  // keeps the old node when the new one compares equal, so a relation
  // carrying them must differ from the one without.
  private def elementKey: Seq[String] = elementPreds.map(ZoneMapFilter.render).toSeq
  override def equals(other: Any): Boolean = other match {
    case o: GraftTable => path == o.path && tableSchema == o.tableSchema &&
      tableAsofMs == o.tableAsofMs && elementKey == o.elementKey
    case _ => false
  }
  override def hashCode(): Int = (path, tableSchema, tableAsofMs, elementKey).hashCode()
}

object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  /** DSv2 source Filter -> Column, for routing SQL DELETE predicates into
    * the maintenance pass. Returns None for anything not representable
    * (canDeleteWhere then rejects the whole statement — deleting on a
    * HALF-translated predicate would purge rows the SQL never matched).
    * Attribute strings are dotted paths (struct access); backquoted
    * segments are declined rather than mis-parsed.
    */
  private[spark] def filterToColumn(f: Filter): Option[Column] = {
    def attr(a: String): Option[Column] =
      if (a.contains('`')) None else Some(col(a))
    f match {
      case EqualTo(a, v) => attr(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => attr(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => attr(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => attr(a).map(_ >= lit(v))
      case LessThan(a, v) => attr(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => attr(a).map(_ <= lit(v))
      case In(a, vs) => attr(a).map(_.isin(vs.toIndexedSeq.map(lit(_)): _*))
      case IsNull(a) => attr(a).map(_.isNull)
      case IsNotNull(a) => attr(a).map(_.isNotNull)
      case StringStartsWith(a, v) => attr(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => attr(a).map(_.endsWith(v))
      case StringContains(a, v) => attr(a).map(_.contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

final class GraftScanBuilder(tableSchema: StructType, path: String,
    conf: org.apache.hadoop.conf.Configuration,
    runtimeFilter: Boolean = false,
    manifestOpt: Option[Boolean] = None,
    maxFilesOpt: Option[Int] = None,
    asofOpt: Option[Long] = None,
    sinceOpt: Option[Long] = None,
    startLatest: Boolean = false,
    snapshotFiles: Option[Set[String]] = None,
    elementPreds: Array[ZoneMapFilter.PagePred] = Array.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var projected: StructType = tableSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pruneFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pagePreds: Array[ZoneMapFilter.PagePred] = Array.empty
  private var hadFilters = false
  // deletion vectors mask rows the footers still count: COUNT(col) and
  // MIN/MAX are unsound over a DV'd table and decline until compaction
  // folds the DVs away; COUNT(*) subtracts cardinalities, and limit/top-N
  // inflate their page covers instead (see planInputPartitions). One
  // exists() probe per plan.
  private lazy val hasDvs: Boolean = {
    val p = new Path(path)
    val root = GraftDv.rootOfScanPath(GraftFs.get(p, conf), p)
    GraftDv.hasAny(GraftFs.get(root, conf), root)
  }
  private var aggPlan: Option[(Seq[GraftAggPushdown.AggSpec], StructType)] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Int, Boolean)] = None // (limit, descending)
  // metadata-only RENAME COLUMN support: physical(lower) -> logical names
  // from the table's column-mapping sidecar, applied to every FILE footer
  // schema before name resolution (one tiny driver-side read per plan)
  private val colAliases: Map[String, String] = {
    val p = new Path(path)
    GraftColumnMap.forRead(GraftFs.get(p, conf), p).physToLogical
  }

  /** Partial limit pushdown: the scan plans only enough leading page groups
    * to cover `limit` rows (footer row counts), so `table.limit(20)` on a
    * 100 TB directory touches one file's first pages instead of planning
    * every split. Spark keeps its own Limit (isPartiallyPushed = true
    * default), so correctness never depends on the cap. Spark only offers
    * the limit when no residual filters exist — and every filter we accept
    * stays residual — so a planned page can't lose rows to row-level
    * filtering; zone-map preds are likewise empty here.
    */
  override def pushLimit(limit: Int): Boolean = {
    if (limit >= 0) pushedLimit = Some(limit)
    pushedLimit.isDefined
  }

  /** Partial TOP-N pushdown over the `_graft_sort` marker: when the query's
    * ORDER BY is an ascending-nulls-first prefix of the marker columns,
    * every file is internally sorted on them — so the GLOBAL top-n is
    * contained in each file's first n rows (a row past position n in its
    * own file already has n smaller rows ahead of it). The scan therefore
    * plans only the leading page groups covering n rows PER FILE: `ORDER BY
    * k LIMIT 10` on a 100 TB sorted directory reads ~one page per file
    * instead of the corpus. Partial (isPartiallyPushed): Spark keeps its
    * own TopN, so correctness never depends on the superset math above.
    * Spark only offers TopN when no filters survived pushdown — and every
    * filter we accept stays residual, so the planned pages can't lose rows
    * to row-level filtering.
    *
    * DESCENDING ("latest N") is accepted too: candidates are each file's
    * TRAILING pages covering n rows (nulls-last desc is exactly the
    * layout reversed) plus its LEADING pages covering n rows — the front
    * is where an asc-nulls-first layout keeps its nulls, which a
    * single-column desc-nulls-first answer draws from whenever non-null
    * rows run short. Mixed asc/desc orders, and NULLS FIRST on any
    * column of a MULTI-column descending order (those nulls sit at a
    * group's head mid-file, outside both planned ends), are declined.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (limit < 0 || orders.isEmpty) return false
    val p = new Path(path)
    val marker = GraftSortMarker.read(GraftFs.get(p, conf), p).getOrElse(return false)
    val asc = orders.head.direction == SortDirection.ASCENDING
    val names = orders.toSeq.map { o =>
      if ((o.direction == SortDirection.ASCENDING) != asc) return false
      // ascending must be nulls-first (exactly the storage layout).
      // descending: NULLS_LAST on every column is the exact reversal of
      // the layout, so trailing pages are the per-file top-n. A NULLS
      // FIRST column under desc is sound ONLY single-column (its nulls
      // sit at file fronts, covered by the leading ranges); on a
      // SECONDARY column the null rows of a (first-col) group sit at the
      // group's head — mid-file, outside both planned ends — so the
      // superset would silently miss the true answer: decline.
      if (asc && o.nullOrdering != NullOrdering.NULLS_FIRST) return false
      if (!asc && o.nullOrdering != NullOrdering.NULLS_LAST &&
        orders.length > 1) return false
      o.expression match {
        case n: org.apache.spark.sql.connector.expressions.NamedReference
            if n.fieldNames.length == 1 => n.fieldNames.head
        case _ => return false
      }
    }
    if (names != marker.take(names.length)) return false
    pushedTopN = Some((limit, !asc))
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** Column pruning (reference analogue: independent per-column byte
    * ranges, SURVEY.md §2.2). Struct sub-fields prune to their leaf ranges
    * too: the projected type keeps only the requested children (in file
    * order), and the reader never fetches the dropped children's leaves.
    * Array/map element pruning is not attempted (full field read).
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val byName = requiredSchema.fields.map(f => f.name -> f).toMap
    val data = tableSchema.fields.collect {
      case f if byName.contains(f.name) =>
        f.copy(dataType = GraftSchema.prunedType(f.dataType, byName(f.name).dataType))
    }
    // metadata columns (the synthesized _graft_ordinal) are not in the
    // table schema but MUST survive pruning — the reader fills them
    val meta = requiredSchema.fields.filter(f =>
      f.name == GraftDv.OrdinalCol && !tableSchema.fieldNames.contains(f.name))
    projected = StructType(data ++ meta)
  }

  /** Zone-map page pruning: accepts min/max-decidable predicates for page
    * skipping, but returns every filter as residual so Spark still applies
    * them row-level (pruning is sound, not exact).
    */
  /** Shared filter-compile entry (the former v1 pushFilters, now fed by
    * the V2 lane below and by tests): compiles zone-map page predicates
    * and records the full set for partition-directory pruning. */
  private[spark] def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    val (usable, preds) = ZoneMapFilter.compile(tableSchema, filters)
    hadFilters = filters.nonEmpty
    pushed = usable
    // partition-DIRECTORY pruning is sound for every filter shape
    // (PartitionPrune defaults to keep) — filters zone maps cannot use
    // (IsNull, predicates on transform source columns) still prune dirs
    pruneFilters = filters
    pagePreds = preds
    filters
  }

  private[spark] def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // ---- V2 Predicate pushdown (SupportsPushDownV2Filters) -------------
  //
  // The ONLY filter lane (the v1 SupportsPushDownFilters trait is gone —
  // Spark prefers v1 when both are present, which would leave this lane
  // dormant): every pushed Predicate translates to its v1 Filter
  // (PredicateUtils.toV1 — comparisons, IN, IS NULL, AND/OR/NOT,
  // starts/ends/contains; the complete v1 vocabulary, so nothing the old
  // lane carried is lost) and feeds the SAME compile pipeline — zone
  // maps, partition-directory pruning and the exchange-reuse key behave
  // exactly as before. Predicates v1 cannot express stay residual (Spark
  // applies them row-level above the scan) — sound, and the hook where
  // expression-shaped predicate mappings (e.g. date_trunc ranges) can
  // land later without touching the planning contract.
  private var pushedV2
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val paired: Array[(org.apache.spark.sql.connector.expressions.filter.Predicate,
        Seq[org.apache.spark.sql.sources.Filter])] =
      predicates.map { p =>
        org.apache.spark.sql.GraftCatalystBridge.predicateToV1(p) match {
          case Some(f) => p -> Seq(f)
          // expression-shaped predicate v1 can't carry: derive SOUND
          // implied base-column filters (a weaker condition every
          // matching row satisfies) — they prune pages/dirs; the
          // original predicate re-applies row-level above the scan
          case scala.None => p -> GraftPredicateImplication.implied(p, tableSchema)
        }
      }
    pushFilters(paired.flatMap(_._2))
    // hadFilters guards the footer-only aggregate lane; a predicate that
    // neither translates to v1 nor implies a base-column filter still
    // means "this scan is filtered", so derive it from the V2 set, not
    // from the translated subset (pushFilters keeps the filters.nonEmpty
    // fallback for the test-only direct entry)
    hadFilters = hadFilters || predicates.nonEmpty
    val usable = pushed.toSet
    pushedV2 = paired.collect {
      case (p, fs) if fs.nonEmpty && fs.exists(usable.contains) => p }
    predicates // pruning is advisory: every predicate re-applies row-level
  }

  override def pushedPredicates()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = pushedV2

  /** Footer-only COUNT/MIN/MAX (partial pushdown; Spark merges per-file
    * rows). Only when no filters exist — we never fully consume filters, so
    * Spark shouldn't offer aggregates otherwise, but guard anyway.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  private var groupPlan: Option[(Int, Seq[(String, Long, Seq[String])], StructType)] = None

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // an asof snapshot / since window restricts the file set; the
    // footer-only agg scan lists the live directory, so it must not
    // answer snapshot or incremental reads
    if (hadFilters || asofOpt.isDefined || sinceOpt.isDefined ||
      snapshotFiles.isDefined) return false
    // deletion vectors: COUNT(*) stays footer-exact (the agg scan subtracts
    // each file's masked cardinality at plan time); COUNT(col) and MIN/MAX
    // cannot (a masked row's null-ness or extremum is unknowable from
    // stats) — any non-CountStar spec declines the whole pushdown
    if (hasDvs && agg.aggregateExpressions().exists(!_.isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar]))
      return false
    def defaulted(field: String): Boolean =
      tableSchema.fields.find(_.name.equalsIgnoreCase(field.split('.').head))
        .exists(_.metadata.contains(GraftSchema.DefaultKey))
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames().length == 1 => f.fieldNames()(0)
      case _ => return false
    }
    GraftAggPushdown.compile(tableSchema, agg) match {
      case None => false
      // a column carrying an ADD COLUMN DEFAULT may be served as the
      // default by files that predate it — their footers know nothing of
      // those values, so COUNT(col)/MIN/MAX must decline (COUNT(*) is
      // row-count-only and stays)
      case Some((specs, _)) if specs.exists {
          case GraftAggPushdown.CountCol(f) => defaulted(f)
          case GraftAggPushdown.MinCol(f, _) => defaulted(f)
          case GraftAggPushdown.MaxCol(f, _) => defaulted(f)
          case _ => false
        } => false
      case Some((specs, aggOnlySchema)) if groupCols.isEmpty =>
        aggPlan = Some((specs, aggOnlySchema)); true
      case Some((specs, aggOnlySchema)) =>
        // partition-grouped pushdown: every group column must be a hive
        // partition key of EVERY file — decidable from the file PATHS alone
        // (one listing, zero footer reads), because a partition column is
        // constant within its file. Each file then contributes one partial
        // row (partition values + footer aggregates) and Spark's final
        // aggregate merges per group.
        val groupFields = groupCols.map(c => tableSchema.fields.find(_.name == c))
        if (groupFields.exists(f =>
          f.isEmpty || !GraftAggPushdown.pathParseable(f.get.dataType))) return false
        val tableDir = new Path(path)
        val files = GraftRewriteGuard.listVisible(path, conf)
        if (files.isEmpty) return false
        val grouped = files.map { f =>
          val m = GraftUtil.partitionSegments(tableDir, f.getPath).toMap
          val vals = groupCols.map(m.get)
          // a file missing the key, or holding a null partition value, bails
          // out (null partition values are rare; keep the fallback simple).
          // partitionSegments already unescaped the hive null token to Scala
          // null, so null — not the literal sentinel — is what arrives here.
          if (vals.exists(v => v.isEmpty || v.get == null))
            return false
          (f.getPath.toString, f.getLen, vals.map(_.get))
        }
        val fullSchema = StructType(
          groupFields.map(_.get) ++ aggOnlySchema.fields)
        aggPlan = Some((specs, fullSchema))
        groupPlan = Some((groupCols.length, grouped, fullSchema))
        true
    }
  }

  override def build(): Scan = aggPlan match {
    case Some((specs, aggSchema)) =>
      groupPlan match {
        case Some((n, files, _)) =>
          new GraftAggScan(path, conf, specs, aggSchema, n, files, colAliases)
        case None =>
          new GraftAggScan(path, conf, specs, aggSchema, colAliases = colAliases)
      }
    case None =>
      new GraftScan(tableSchema, projected, path, conf, pagePreds, runtimeFilter, manifestOpt,
        (pushed ++ pruneFilters.diff(pushed)), pushedLimit, elementPreds,
        maxFilesOpt = maxFilesOpt, asofOpt = asofOpt,
        sinceOpt = sinceOpt, startLatest = startLatest, topn = pushedTopN,
        colAliases = colAliases, snapshotFiles = snapshotFiles)
  }
}

final class GraftScan(private val tableSchema: StructType, private val projected: StructType,
    private val path: String,
    conf: org.apache.hadoop.conf.Configuration,
    initialPagePreds: Array[ZoneMapFilter.PagePred] = Array.empty,
    private val runtimeFilter: Boolean = false,
    private val manifestOpt: Option[Boolean] = None,
    private val pushedRaw: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    private val limit: Option[Int] = None,
    private val elementPreds: Array[ZoneMapFilter.PagePred] = Array.empty,
    private val maxFilesOpt: Option[Int] = None,
    private val asofOpt: Option[Long] = None,
    private val sinceOpt: Option[Long] = None,
    private val startLatest: Boolean = false,
    private val topn: Option[(Int, Boolean)] = None,
    private val colAliases: Map[String, String] = Map.empty,
    private val snapshotFiles: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // declared hidden-partitioning transforms (sidecar, read ONCE per scan
  // — spjDeclaredTx shares it): source column (lowercased) ->
  // (transform, source type). Predicates on the source column then prune
  // the derived dirs — identity layouts stay on the direct name-match
  // path and this map is empty for them
  private lazy val partTx
      : Map[String, (PartTransform, org.apache.spark.sql.types.DataType)] =
    spjDeclaredTx
      .filterNot(_.isIdentity)
      .flatMap { pt =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(pt.src))
          .map(f => pt.src.toLowerCase -> (pt, f.dataType))
      }.toMap

  // hive-style partition-directory pruning: a file under k=v/ subdirs is
  // dropped when a pushed filter is decidably false on those values — whole
  // directories of footers are never touched. Undecidable filters keep the
  // file (Spark re-applies everything row-level; partition columns are also
  // stored in the data, so this is purely an IO optimization).
  @volatile private var runtimeRaw: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // cached per runtime-filter generation: statistics/limit planning force
  // the listing BEFORE DPP filters arrive, so a plain lazy val would pin
  // the un-pruned file set — planInputPartitions must see the post-runtime
  // one (an extra listing, never extra footer reads)
  @volatile private var cachedFiles: (Int, Seq[FileStatus]) = null
  private def files: Seq[FileStatus] = {
    val stamp = runtimeRaw.length
    val c = cachedFiles
    if (c != null && c._1 == stamp) c._2
    else { val v = computeFiles(); cachedFiles = (stamp, v); v }
  }

  private def computeFiles(): Seq[FileStatus] = {
    // snapshot-exact scan: plan EXACTLY the caller's pinned file set. A
    // pinned file missing from the listing is a hard error — the callers
    // (maintenance rewrites) retire this same set afterwards, and a scan
    // that silently read fewer files would publish a rewrite with rows
    // missing. Appends landing after the pin are intentionally invisible.
    val listed = snapshotFiles match {
      // an in-flight whole-table rewrite's visibility markers apply to
      // READERS only (a pinned maintenance scan reads its exact snapshot
      // regardless): old view before the flip, new view after, never both
      case None => GraftRewriteGuard.listVisible(path, conf)
      case Some(pin) =>
        val kept = GraftUtil.listDataFiles(path, conf).filter(f => pin.contains(f.getPath.toString))
        require(kept.size == pin.size,
          s"graft: snapshotfiles scan pinned ${pin.size} files but only " +
            s"${kept.size} are present under $path — a pinned file was " +
            "retired between the snapshot and this scan")
        kept
    }
    // `asof` snapshot: keep only files whose publishing manifest committed
    // at or before the requested time; files NO manifest lists are
    // pre-manifest history, visible in every snapshot. Compaction retires
    // old manifests with their files, so snapshots older than the last
    // compaction are not reconstructable (documented).
    // `since` incremental window: keep only files whose publishing
    // manifest committed strictly after the cutoff — the change-scan a
    // daily pipeline runs ("process what arrived since my last run").
    // Files NO manifest lists are pre-manifest history: visible in every
    // `asof` snapshot, but always OUTSIDE a `since` window (they predate
    // manifests by construction). Combined, (since, asof] is a closed
    // commit window.
    val all =
      if (asofOpt.isEmpty && sinceOpt.isEmpty) listed
      else {
        val tableDir = new Path(path)
        val fs = GraftFs.get(tableDir, conf)
        // catch-up manifests (survivor re-lists of pre-manifest history)
        // are NOT commits: their files stay pre-manifest history here, or
        // a delete would push its survivors into every later `since`
        // window as phantom inserts. Replacement manifests ARE commits at
        // the replaced commit's time, and an IN-FLIGHT rewrite's survivor
        // outputs inherit their retired original's commit time through
        // the marker-strip ancestor chain — all of it one shared
        // definition ([[GraftManifest.effectiveTimes]]) between this
        // scan, the CDC consumer, and restore: two readings of "what is
        // in a window" would eventually disagree.
        val eff = GraftManifest.effectiveTimes(fs, tableDir, listed)
        listed.filter { f =>
          val t = eff.get(f.getPath.toString)
          asofOpt.forall(a => t.forall(_ <= a)) &&
            sinceOpt.forall(s => t.exists(_ > s))
        }
      }
    val pruneRaw = pushedRaw ++ runtimeRaw
    if (pruneRaw.isEmpty) all
    else {
      val tableDir = new Path(path)
      val kept = all.filter { f =>
        val segs = GraftUtil.partitionSegments(tableDir, f.getPath)
        segs.isEmpty || {
          val m = segs.toMap
          pruneRaw.forall(PartitionPrune.mayMatch(_, m, partTx))
        }
      }
      GraftMetrics.filesPruned.addAndGet(all.size - kept.size)
      kept
    }
  }

  // compile-time zone-map predicates (pushed-filter + element), later
  // extended by runtime filters (Spark re-plans partitions and creates the
  // reader factory after filter(), so both pick up the merged set)
  private var pagePreds: Array[ZoneMapFilter.PagePred] = initialPagePreds ++ elementPreds

  /** Runtime filtering (the DSv2 analogue of dynamic partition pruning):
    * Spark hands us join-key IN-sets at execution time; they merge into the
    * zone-map predicates so selective joins skip fact page IO.
    *
    * Gated behind `.option("runtimefilter", true)`, DEFAULT OFF: advertising
    * attributes makes Spark plan a pruning subquery/exchange for EVERY
    * eligible join, and at typical join cardinalities the delivered filter
    * degrades to literal `true` (over the in-set size threshold) — measured
    * as a net bench loss (~2s / 13% at sf0.1) with zero pages pruned. Enable
    * it for selective dim-filtered joins on sorted/clustered fact keys, where
    * the IN-set envelope genuinely skips page IO (see ZoneMapSpec).
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // under a pushed limit (or top-n prefix plan), a runtime filter could
    // prune pages BELOW the boundary and change which rows feed a parent
    // join — keep the features mutually exclusive
    if (!runtimeFilter || limit.isDefined || topn.isDefined) Array.empty
    else projected.fields // must be a subset of the scan output, not the full table
      .filter(f => ZoneMapFilter.prunable(f.dataType)) // only zone-map-bearing lanes can act on the IN-set
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // runtime filters also join the partition-DIRECTORY pruning set: a
    // broadcast-join key set on a partition column then skips whole k=v
    // dirs before any footer IO (classic DPP), best-effort — if `files`
    // was already forced (e.g. by statistics), page-level pruning below
    // still applies the same predicates
    runtimeRaw = runtimeRaw ++ filters
    val (_, preds) = ZoneMapFilter.compile(tableSchema, filters)
    if (preds.nonEmpty) {
      pagePreds = pagePreds ++ preds
      // Spark instantiates the reader factory during planning (for
      // supportsColumnar), BEFORE runtime filters arrive — refresh the
      // cached instance so executors receive the merged predicate set
      // (task serialization happens after this call)
      if (factory != null) factory.pagePreds = pagePreds
    }
  }

  override def readSchema(): StructType = projected
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a snapshot pin makes no sense for an unbounded source — fail loudly
    // rather than silently streaming the live directory
    require(asofOpt.isEmpty,
      "graft: 'asof' is a batch-read snapshot option; a stream cannot be " +
        "pinned to a past state (use startingposition/maxfilespertrigger)")
    require(sinceOpt.isEmpty,
      "graft: 'since' is a batch-read incremental option; a stream tracks " +
        "progress through its own checkpoint (use startingposition)")
    new GraftMicroBatchStream(path, new SerializableHadoopConf(conf), projected.json, manifestOpt,
      maxFilesOpt, startLatest)
  }
  override def description(): String =
    s"graft scan of $path (${projected.fieldNames.mkString(",")})" +
      (if (pagePreds.nonEmpty) s" zonemap[${pagePreds.flatMap(_.fields).distinct.mkString(",")}]" else "") +
      (if (elementPreds.nonEmpty) s" element[${elementPreds.map(ZoneMapFilter.render).mkString(",")}]" else "") +
      limit.map(l => s" limit=$l").getOrElse("") +
      topn.map { case (n, desc) => s" topn=$n${if (desc) " desc" else ""}" }.getOrElse("")

  /** Storage-partitioned-join layout: when every file lives under the SAME
    * hive partition column list (path-parseable types) and
    * `spark.sql.sources.v2.bucketing.enabled` is on, the scan plans ONE
    * input partition per distinct partition value and reports
    * `KeyGroupedPartitioning` over those columns — a join of two tables
    * partitioned on the same key, or a GROUP BY on the partition key,
    * then runs with NO shuffle on this side (at 100 TB the shuffle of a
    * fact-fact co-partitioned join is usually THE dominant cost; laying
    * the table out by the join key once removes it from every later run).
    * Declined under runtime filtering (the file set — and with it the key
    * count — would change after planning) and under limit pushdown (the
    * leading-pages plan is not key-complete). Trade-off: parallelism
    * becomes the distinct-key count, which is what the operator opted
    * into by partitioning the table; with bucketing off, the normal
    * page-range splits apply unchanged.
    */
  /** One SPJ layout dimension: the v2 transform expression the
    * partitioning reports, plus the dir-string -> key-value parser. */
  private case class SpjDim(
      transform: org.apache.spark.sql.connector.expressions.Expression,
      keyOf: String => Any)

  private def spjGroups: Option[(Seq[SpjDim],
      Seq[(Seq[String], Seq[FileStatus])])] = {
    if (!org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled) return None
    if (runtimeFilter || limit.isDefined || topn.isDefined) return None
    val fs = files
    if (fs.isEmpty) return None
    val tableDir = new Path(path)
    val segsPerFile = fs.map(f => GraftUtil.partitionSegments(tableDir, f.getPath))
    val layout = segsPerFile.head.map(_._1)
    if (layout.isEmpty || !segsPerFile.forall(_.map(_._1) == layout)) return None
    def identityDim(c: String): Option[SpjDim] =
      tableSchema.fields.find(_.name == c).collect {
        case f if GraftAggPushdown.pathParseable(f.dataType) =>
          SpjDim(org.apache.spark.sql.connector.expressions.Expressions.identity(c),
            v => GraftAggPushdown.pathValue(f.dataType, v))
      }
    val declared = spjDeclaredTx
    val dims: Seq[SpjDim] =
      if (declared.nonEmpty && declared.map(_.dirName) == layout)
        // DECLARED layout, transforms included: the partitioning reports
        // the real transform expressions (bucket(16, id), days(ts), ...)
        // and the catalog\'s FunctionCatalog resolves them — two tables
        // bucketed identically on the join key then join with NO shuffle
        // on either side (the SPJ path extended past identity dims)
        declared.map { pt =>
          if (pt.isIdentity) identityDim(pt.src).getOrElse(return None)
          else {
            val srcType = tableSchema.fields
              .find(_.name.equalsIgnoreCase(pt.src)).map(_.dataType)
              .getOrElse(return None)
            pt.kind match {
              case "bucket" =>
                SpjDim(GraftPartTransform.toV2(pt), v => v.toInt)
              case "truncate" => srcType match {
                case org.apache.spark.sql.types.StringType =>
                  SpjDim(GraftPartTransform.toV2(pt),
                    v => org.apache.spark.unsafe.types.UTF8String.fromString(v))
                case _ =>
                  SpjDim(GraftPartTransform.toV2(pt), v => v.toLong)
              }
              case _ => // years/months/days/hours render as strings
                SpjDim(GraftPartTransform.toV2(pt),
                  v => org.apache.spark.unsafe.types.UTF8String.fromString(v))
            }
          }
        }
      else layout.map(c => identityDim(c).getOrElse(return None))
    val grouped = fs.zip(segsPerFile)
      .groupBy(_._2.map(_._2)).toSeq
      .map { case (vals, members) => (vals, members.map(_._1)) }
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
    Some((dims, grouped))
  }

  // the declared layout specs (ordered) for SPJ transform reporting —
  // one tiny sidecar read per plan
  private lazy val spjDeclaredTx: Seq[PartTransform] = {
    val p = new Path(path)
    GraftCatalog.declaredPartSpecsOf(GraftFs.get(p, conf), p)
      .map(GraftPartTransform.parse)
  }

  /** Per-split ordering off the `_graft_sort` table marker: every split is
    * a page range of ONE internally-sorted file, so the marker's column
    * order holds within each InputPartition and Spark plans away the local
    * sorts downstream operators would otherwise insert (sort-merge join
    * sides, sort-based aggregation) — a re-sort of an already-sorted 100 TB
    * fact table is the shuffle-adjacent CPU this deletes. Declined when
    * storage-partitioned (keyed) planning is active (those partitions
    * concatenate multiple files — no cross-file order) and truncated to the
    * projected-prefix of the marker (ordering on a pruned column cannot be
    * referenced). Ascending nulls-first, matching the write path's
    * enforced requiredOrdering.
    */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    // keyed (storage-partitioned) splits concatenate a partition value's
    // files — no cross-file order — UNLESS each group is a single file,
    // the bucketed-sorted-table layout where SPJ + marker give a join
    // with neither shuffle NOR sort
    spjGroups match {
      case Some((_, groups)) if !groups.forall(_._2.size <= 1) =>
        return Array.empty[SortOrder]
      case _ => ()
    }
    val fs = GraftFs.get(new Path(path), conf)
    GraftSortMarker.read(fs, new Path(path)) match {
      case Some(cols) =>
        val avail = projected.fieldNames.toSet
        cols.takeWhile(avail.contains)
          .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
          .toArray
      case None => Array.empty[SortOrder]
    }
  }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some((dims, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          dims.map(_.transform).toArray, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    spjGroups.foreach { case (dims, groups) =>
      return groups.map { case (vals, members) =>
        val key = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          dims.zip(vals).map { case (d, v) =>
            if (v == null) null else d.keyOf(v)
          }.toArray[Any])
        GraftKeyedPartition(
          members.map(f => (f.getPath.toString, f.getLen)).toArray, key)
      }.toArray[InputPartition]
    }
    // deletion vectors under a limit/top-N cover: inflate each file's
    // target by its masked cardinality — the first (n + masked) physical
    // rows hold at least n LIVE rows, and masking preserves order, so the
    // superset stays sound at the cost of ~one extra page when masks exist
    lazy val dvCards: Map[String, Long] =
      if (topn.isEmpty && limit.isEmpty) Map.empty
      else {
        val p0 = new Path(path)
        val root = GraftDv.rootOfScanPath(GraftFs.get(p0, conf), p0)
        val fsys = GraftFs.get(root, conf)
        val dvs = GraftDv.list(fsys, root)
        if (dvs.isEmpty) Map.empty
        else files.flatMap { f =>
          dvs.get(GraftDv.identOf(root, f.getPath))
            .map(d => f.getPath.toString -> GraftDv.cardinality(fsys, d._2))
        }.toMap
      }
    topn.foreach { case (n, desc) =>
      // per-FILE page ranges covering n rows from the relevant END: each
      // file is internally sorted on the query's ORDER BY prefix (pushTopN
      // checked the marker), so an ascending top-n is contained in every
      // file's first n rows, a descending one in its last n rows (plus the
      // first n, where an asc-nulls-first layout keeps the nulls a desc
      // answer may need as padding). ~One or two pages per file; Spark's
      // retained TopN does the exact ranking over the superset.
      val parts = Array.newBuilder[InputPartition]
      files.foreach { f =>
        val pageRows = GraftScan.pageRowCounts(f, conf)
        val masked = dvCards.getOrElse(f.getPath.toString, 0L)
        if (pageRows.isEmpty) parts += GraftInputPartition(f.getPath.toString, f.getLen)
        else {
          var remaining = math.max(n, 1).toLong + masked
          var hi = 0
          while (hi < pageRows.length && remaining > 0) {
            remaining -= pageRows(hi); hi += 1
          }
          if (hi >= pageRows.length)
            parts += GraftInputPartition(f.getPath.toString, f.getLen)
          else if (!desc)
            parts += GraftInputPartition(f.getPath.toString, f.getLen, 0, hi)
          else {
            var trailing = math.max(n, 1).toLong + masked
            var lo = pageRows.length
            while (lo > 0 && trailing > 0) { lo -= 1; trailing -= pageRows(lo) }
            if (lo <= hi) // leading + trailing overlap: whole file
              parts += GraftInputPartition(f.getPath.toString, f.getLen)
            else {
              parts += GraftInputPartition(f.getPath.toString, f.getLen, 0, hi)
              parts += GraftInputPartition(f.getPath.toString, f.getLen, lo, pageRows.length)
            }
          }
        }
      }
      return parts.result()
    }
    limit.foreach { lim =>
      // plan only the leading page groups whose footer row counts cover the
      // limit; Spark's retained Limit takes the exact first `lim` rows.
      // Masked rows never count toward the cover (live >= covered - masked).
      val parts = Array.newBuilder[InputPartition]
      var remaining = math.max(lim, 1).toLong // limit 0: still emit one page so schema paths stay exercised
      val it = files.iterator
      while (remaining > 0 && it.hasNext) {
        val f = it.next()
        val pageRows = GraftScan.pageRowCounts(f, conf)
        val masked = dvCards.getOrElse(f.getPath.toString, 0L)
        if (pageRows.isEmpty) parts += GraftInputPartition(f.getPath.toString, f.getLen)
        else {
          var cover = remaining + masked
          var hi = 0
          var covered = 0L
          while (hi < pageRows.length && cover > 0) {
            cover -= pageRows(hi); covered += pageRows(hi); hi += 1
          }
          remaining -= math.max(0L, covered - masked)
          parts += (if (hi >= pageRows.length) GraftInputPartition(f.getPath.toString, f.getLen)
            else GraftInputPartition(f.getPath.toString, f.getLen, 0, hi))
        }
      }
      return parts.result()
    }
    // parquet-style sizing: min(maxPartitionBytes, max(openCost, total/parallelism))
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val maxBytes = sqlConf.filesMaxPartitionBytes
    val openCost = sqlConf.filesOpenCostInBytes
    val parallelism = math.max(SparkSession.active.sparkContext.defaultParallelism, 1)
    val totalBytes = files.map(f => f.getLen + openCost).sum
    val targetBytes = math.max(math.min(maxBytes, math.max(openCost, totalBytes / parallelism)), 1L)

    val parts = Array.newBuilder[InputPartition]
    files.foreach { f =>
      val path = f.getPath.toString
      val nPages =
        if (files.length > 256) 1 // keep planning cheap on huge file lists
        else GraftScan.numRowPages(f, conf)
      val nSplits = math.max(1, math.min(nPages.toLong, (f.getLen + targetBytes - 1) / targetBytes).toInt)
      if (nSplits <= 1) parts += GraftInputPartition(path, f.getLen)
      else {
        var k = 0
        while (k < nSplits) {
          val lo = (k.toLong * nPages / nSplits).toInt
          val hi = ((k + 1).toLong * nPages / nSplits).toInt
          if (hi > lo) parts += GraftInputPartition(path, f.getLen, lo, hi)
          k += 1
        }
      }
    }
    parts.result()
  }

  private var factory: GraftReaderFactory = null

  override def createReaderFactory(): PartitionReaderFactory = {
    if (factory == null) {
      // deletion vectors, resolved once at plan time (one exists() probe
      // for DV-free tables). Non-empty masks deleted ordinals in every
      // reader — columnar with per-type batch compaction for atomic
      // projections, row-based iterator skip for nested ones. The scan path may be a single
      // file (the rewrite passes read one file directly) — the sidecars
      // still live at the TABLE root.
      // `asof` pins the per-file generation (the newest published at or
      // before the pin, takedowns floored in) so time-travel reads
      // reproduce the dataset a training run actually saw
      val p0 = new Path(path)
      val dvRoot = GraftDv.rootOfScanPath(GraftFs.get(p0, conf), p0)
      val dvs = GraftDv.listAt(GraftFs.get(dvRoot, conf), dvRoot, asofOpt)
        .map { case (ident, (_, p)) => ident -> p }
      factory = new GraftReaderFactory(HadoopConfBroadcast(conf), projected.json, pagePreds,
        colAliases, dvs)
    }
    factory
  }

  // Structural equality over the static scan configuration (everything that
  // determines output rows at plan time), so BatchScanExec's `sameResult`
  // can reuse exchanges/subqueries across identical scans. The mutable
  // runtime-filter state is deliberately excluded: BatchScanExec equality
  // already includes the runtimeFilters expressions, so two equal GraftScans
  // under different runtime filters are still distinguished at the exec level.
  // element preds compare via their canonical rendering (CmpBin holds a raw
  // byte array whose case-class equality is referential); they are part of
  // the scan's OUTPUT-determining state, so they must distinguish scans —
  // a pruned scan substituted for an unpruned one by exchange reuse would
  // drop rows the missing residual Filter never restores
  private def elementKey: Seq[String] = elementPreds.map(ZoneMapFilter.render).toSeq
  // pushed filters compare via canonical rendering too: a binary-literal
  // EqualTo holds an Array[Byte] whose case-class equality is referential
  private def pushedKey: Seq[String] = pushedRaw.map(ZoneMapFilter.renderFilter).toSeq
  override def equals(other: Any): Boolean = other match {
    case o: GraftScan =>
      path == o.path && tableSchema == o.tableSchema && projected == o.projected &&
        runtimeFilter == o.runtimeFilter && manifestOpt == o.manifestOpt &&
        limit == o.limit && topn == o.topn && pushedKey == o.pushedKey &&
        elementKey == o.elementKey && asofOpt == o.asofOpt && sinceOpt == o.sinceOpt &&
        colAliases == o.colAliases && snapshotFiles == o.snapshotFiles
    case _ => false
  }
  override def hashCode(): Int =
    (path, projected, limit, topn, runtimeFilter, pushedKey, elementKey, asofOpt,
      sinceOpt, snapshotFiles).hashCode()

  override def estimateStatistics(): Statistics = new Statistics {
    // sizeInBytes drives the broadcast-join decision. Parquet's V1 path
    // estimates (total file bytes) x (projected width fraction); matching
    // that scale is what lets the SAME query data produce the SAME static
    // broadcast plans — and a statically-broadcast fact side avoids the
    // shuffle entirely, where AQE's later SHJ->BHJ conversion still pays
    // the full map-side shuffle write (measured 2.5x on q5: parquet
    // broadcast the 4-column lineitem projection at plan time while our
    // inflated rows-x-unencoded-width estimate forced lineitem+orders
    // shuffles AQE could not undo). Graft footers do strictly better than
    // parquet's width-ratio heuristic: the exact on-disk bytes of only the
    // PROJECTED fields' leaves, summed per file (cached 64KiB footer reads,
    // same cache the row-count estimate uses). Falls back to the width
    // ratio over raw file bytes for very large file lists.
    override def sizeInBytes(): OptionalLong = {
      val fileBytes = math.max(files.map(_.getLen).sum, 1L)
      val names = projected.fieldNames
      val exact = GraftScan.projectedLeafBytes(files, names, conf)
      if (exact.isPresent) OptionalLong.of(math.max(exact.getAsLong, 1L))
      else {
        val full = math.max(tableSchema.fields.map(_.dataType.defaultSize.toLong + 8L).sum, 1L)
        val proj = projected.fields.map(_.dataType.defaultSize.toLong + 8L).sum
        OptionalLong.of(math.max(fileBytes * proj / full, 1L))
      }
    }
    override def numRows(): OptionalLong = GraftScan.rowCount(files, conf)

    // v004 footer KMV synopses surfaced as DSv2 column statistics: with
    // CBO on, Catalyst's join planning sees real per-column ndv instead
    // of guessing — at no scan cost (same cached footer reads as above).
    // Columns any file lacks a synopsis for report no ndv. Beside the
    // ndv, the footer min/max/nullCount bounds the format already pays
    // for flow through (numeric/date/timestamp lanes): CBO's
    // filter-selectivity estimation then prices range predicates off
    // real ranges, which is what flips a join build side correctly.
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val ndvs = GraftScan.columnNdv(files, projected.fieldNames, conf)
      val bounds = GraftScan.columnBounds(files, projected.fieldNames, conf)
      (ndvs.keySet ++ bounds.keySet).foreach { n =>
        val ndv = ndvs.get(n)
        val b = bounds.get(n)
        out.put(org.apache.spark.sql.connector.expressions.Expressions.column(n),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): OptionalLong =
              ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              b.flatMap(_._1).map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              b.flatMap(_._2).map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
            override def nullCount(): OptionalLong =
              b.map(x => OptionalLong.of(x._3)).getOrElse(OptionalLong.empty())
          })
      }
      out
    }
  }
}

object GraftScan {
  private val rowCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val pageCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private val pageRowsCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
  // per-file (top-level field name -> on-disk bytes of its leaves), one
  // cached footer read per file — feeds the projected-size statistics.
  // Crudely bounded: a long-lived driver planning over many tables must
  // not accumulate one Map per file forever.
  private val fieldBytesCache = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
  // per-file (rows, field -> (min, max, nullCount)) for the CBO column
  // statistics — mtime in the key like the ndv cache (stale bounds would
  // steer costing off a replaced file's ranges)
  private val boundsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Map[String, (Option[Any], Option[Any], Long)])]()
  private def boundCache[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V]): Unit =
    if (m.size() > 8192) m.clear()

  /** Exact on-disk bytes of the named top-level fields' leaf pages across
    * `files` (empty when the file list is too large to plan footer reads).
    * Fields a file doesn't carry contribute 0 there (additive evolution).
    */
  def projectedLeafBytes(files: Seq[FileStatus], fieldNames: Array[String],
      conf: org.apache.hadoop.conf.Configuration): OptionalLong = {
    if (files.isEmpty || files.length > 256) return OptionalLong.empty()
    var total = 0L
    files.foreach { f =>
      val key = f.getPath.toString + "#" + f.getLen
      var m = fieldBytesCache.get(key)
      if (m == null) {
        val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
        try {
          val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
          val schema = GraftFooterCache.schemaOf(footer.schemaJson)
          val (offsets, _) = GraftSchema.fieldLeafOffsets(schema)
          m = schema.fields.zipWithIndex.map { case (fld, i) =>
            val lo = offsets(i)
            val hi = if (i + 1 < offsets.length) offsets(i + 1) else footer.leaves.length
            fld.name -> (lo until hi).map(footer.leaves(_).totalBytes).sum
          }.toMap
          boundCache(fieldBytesCache)
          fieldBytesCache.put(key, m)
        } finally in.close()
      }
      fieldNames.foreach(n => total += m.getOrElse(n, 0L))
    }
    OptionalLong.of(total)
  }

  // per-file (top-level field name -> (k, kmv sketch)) off the footer —
  // feeds the column-statistics ndv estimates; same bounding as the other
  // footer-derived caches
  private val kmvCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (Int, Array[Long])]]()

  /** Merged per-column ndv estimates from the v004 footer KMV synopses.
    * A column appears only when EVERY file carries a synopsis for it (a
    * partial merge would undercount). Empty for oversized file lists —
    * same planning-cost guard as projectedLeafBytes.
    */
  def columnNdv(files: Seq[FileStatus], fieldNames: Array[String],
      conf: org.apache.hadoop.conf.Configuration): Map[String, Long] = {
    if (files.isEmpty || files.length > 256 || fieldNames.isEmpty) return Map.empty
    val perFile: Seq[Map[String, (Int, Array[Long])]] = files.map { f =>
      // modificationTime in the key: ndv steers CBO join planning, so an
      // in-place overwrite that happens to produce a same-length file must
      // invalidate, not serve the stale sketch
      val key = f.getPath.toString + "#" + f.getLen + "@" + f.getModificationTime
      var m = kmvCache.get(key)
      if (m == null) {
        val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
        try {
          val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
          val schema = GraftFooterCache.schemaOf(footer.schemaJson)
          val (offsets, _) = GraftSchema.fieldLeafOffsets(schema)
          m = schema.fields.zipWithIndex.flatMap { case (fld, i) =>
            val cm = footer.leaves(offsets(i))
            if (cm.kmv == null) scala.None else Some(fld.name -> (cm.kmvK, cm.kmv))
          }.toMap
          boundCache(kmvCache)
          kmvCache.put(key, m)
        } finally in.close()
      }
      m
    }
    fieldNames.iterator.flatMap { n =>
      val sketches = perFile.map(_.get(n))
      if (sketches.exists(_.isEmpty)) scala.None
      else {
        val k = sketches.map(_.get._1).min
        val merged = graft.format.KmvUtil.merge(sketches.map(_.get._2), k)
        Some(n -> math.max(math.round(graft.format.KmvUtil.estimate(merged, k)), 1L))
      }
    }.toMap
  }

  /** Footer min/max/nullCount per TOP-LEVEL numeric/date/timestamp column
    * across `files` — the column bounds the format already pays for,
    * surfaced to CBO beside the ndv synopses (filter-selectivity
    * estimation can then use real ranges instead of guessing). One cached
    * footer read per file (same cache discipline as [[columnNdv]]).
    * Estimates, not answers: deletion vectors make the bounds a stale
    * SUPERSET and the null counts an overcount — fine for costing, which
    * is all DSv2 column statistics feed. Values are boxed in the
    * catalyst-internal representation CBO's EstimationUtils reads
    * (Int days for DATE, Long micros for TIMESTAMP).
    */
  def columnBounds(files: Seq[FileStatus], fieldNames: Array[String],
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, (Option[Any], Option[Any], Long)] = {
    import org.apache.spark.sql.types._
    if (files.isEmpty || files.length > 256 || fieldNames.isEmpty) return Map.empty
    def boundsOf(dt: DataType, pages: Array[graft.format.PageMeta], isMin: Boolean): Option[Any] = {
      val stats = pages.filter(_.statsKind != 0)
      if (stats.isEmpty) return scala.None
      dt match {
        case FloatType | DoubleType =>
          val vals = stats.map { pm =>
            if (isMin) java.lang.Double.longBitsToDouble(pm.minLong)
            else if (pm.statsKind == 3) Double.NaN
            else java.lang.Double.longBitsToDouble(pm.maxLong)
          }
          val v = vals.reduce { (a, b) =>
            val c = java.lang.Double.compare(a, b)
            if (isMin) { if (c <= 0) a else b } else { if (c >= 0) a else b }
          }
          Some(if (dt == FloatType) java.lang.Float.valueOf(v.toFloat)
            else java.lang.Double.valueOf(v))
        case _ =>
          val longs = stats.map(pm => if (isMin) pm.minLong else pm.maxLong)
          val v = if (isMin) longs.min else longs.max
          dt match {
            case ByteType => Some(java.lang.Byte.valueOf(v.toByte))
            case ShortType => Some(java.lang.Short.valueOf(v.toShort))
            case IntegerType | DateType => Some(java.lang.Integer.valueOf(v.toInt))
            case LongType | TimestampType | TimestampNTZType =>
              Some(java.lang.Long.valueOf(v))
            case _ => scala.None
          }
      }
    }
    def pick(a: Option[Any], b: Option[Any], isMin: Boolean): Option[Any] =
      (a, b) match {
        case (Some(x: Number), Some(y: Number)) =>
          val c = (x, y) match {
            case _ if x.isInstanceOf[java.lang.Float] || x.isInstanceOf[java.lang.Double] ||
                y.isInstanceOf[java.lang.Float] || y.isInstanceOf[java.lang.Double] =>
              java.lang.Double.compare(x.doubleValue(), y.doubleValue())
            case _ => java.lang.Long.compare(x.longValue(), y.longValue())
          }
          if (isMin) { if (c <= 0) Some(x) else Some(y) }
          else { if (c >= 0) Some(x) else Some(y) }
        case (some @ Some(_), scala.None) => some
        case (_, o) => o
      }
    try {
      val wanted = fieldNames.toSet
      // (field -> (min, max, nulls)) folded across files
      var acc = Map.empty[String, (Option[Any], Option[Any], Long)]
      files.foreach { f =>
        val key = f.getPath.toString + "#" + f.getLen + "@" + f.getModificationTime
        var cached = boundsCache.get(key)
        if (cached == null) {
          val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
          try {
            val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
            val schema = GraftFooterCache.schemaOf(footer.schemaJson)
            val (offsets, _) = GraftSchema.fieldLeafOffsets(schema)
            val fileRows = if (footer.leaves.isEmpty) 0L else footer.leaves(0).totalValues
            val m = schema.fields.zipWithIndex.flatMap { case (fld, i) =>
              if (!GraftSchema.isAtomic(fld.dataType)) scala.None
              else {
                val pages = footer.leaves(offsets(i)).pages
                val nonNull = pages.iterator.filter(_.statsKind != 0)
                  .map(pm => pm.numValues.toLong - math.max(pm.nullCount, 0)).sum
                Some(fld.name -> (boundsOf(fld.dataType, pages, isMin = true),
                  boundsOf(fld.dataType, pages, isMin = false),
                  fileRows - nonNull))
              }
            }.toMap
            cached = (fileRows, m)
            boundCache(boundsCache)
            boundsCache.put(key, cached)
          } finally in.close()
        }
        val (fileRows, m) = cached
        wanted.foreach { n =>
          val cur = acc.getOrElse(n, (scala.None, scala.None, 0L))
          m.get(n) match {
            case Some((mn, mx, nulls)) =>
              acc = acc.updated(n, (pick(cur._1, mn, isMin = true),
                pick(cur._2, mx, isMin = false), cur._3 + nulls))
            case scala.None =>
              // a file lacking the column (additive evolution) is
              // all-null there: every row counts as a null
              acc = acc.updated(n, (cur._1, cur._2, cur._3 + fileRows))
          }
        }
      }
      acc
    } catch { case _: Exception => Map.empty }
  }

  /** Per-row-page-group row counts of a file (leaf 0 is row-aligned). One
    * cached 64KiB footer read; used by the limit-pushdown planner.
    */
  def pageRowCounts(f: FileStatus, conf: org.apache.hadoop.conf.Configuration): Array[Int] = {
    val key = f.getPath.toString + "#" + f.getLen
    val cached = pageRowsCache.get(key)
    if (cached != null) return cached
    val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
    try {
      val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
      val arr =
        if (footer.leaves.isEmpty) Array.empty[Int]
        else footer.leaves(0).pages.map(_.numValues)
      boundCache(pageRowsCache)
      pageRowsCache.put(key, arr)
      arr
    } finally in.close()
  }

  /** Row-page-group count of a file (one 64KiB footer read, cached). */
  def numRowPages(f: FileStatus, conf: org.apache.hadoop.conf.Configuration): Int = {
    val key = f.getPath.toString + "#" + f.getLen
    val cached = pageCountCache.get(key)
    if (cached != null) return cached.intValue()
    val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
    try {
      val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
      val n = if (footer.leaves.isEmpty) 1 else footer.leaves(0).pages.length
      boundCache(pageCountCache)
      pageCountCache.put(key, n)
      n
    } finally in.close()
  }

  /** Exact row count from footers (first leaf is row-aligned), minus any
    * deletion-vector-masked rows. One 64KiB tail read per file, cached by
    * (path, len); skipped for very large file lists to keep planning cheap.
    */
  def rowCount(files: Seq[FileStatus], conf: org.apache.hadoop.conf.Configuration): OptionalLong = {
    if (files.isEmpty || files.length > 256) return OptionalLong.empty()
    var total = -GraftDv.maskedRows(files, conf)
    files.foreach { f =>
      val key = f.getPath.toString + "#" + f.getLen
      val cached = rowCountCache.get(key)
      if (cached != null) total += cached
      else {
        val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
        try {
          val footer = GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen)
          val n = if (footer.leaves.isEmpty) 0L else footer.leaves(0).totalValues
          boundCache(rowCountCache)
          rowCountCache.put(key, n)
          total += n
        } finally in.close()
      }
    }
    OptionalLong.of(total)
  }
}

/** pageLo/pageHi bound the row-page-group range this split covers
  * ([pageLo, pageHi), -1/-1 = whole file). Splitting files by page range is
  * what lets a 1M-row graft file fan out across executors like parquet's
  * maxPartitionBytes splits — one partition per FILE caps parallelism at
  * the file count, which is the wrong granularity at 100 TB.
  */
/** One storage partition = ALL files of one hive partition value (the
  * storage-partitioned-join unit). `partitionKey` carries the catalyst-typed
  * partition values in layout-column order.
  */
final case class GraftKeyedPartition(files: Array[(String, Long)],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

final case class GraftInputPartition(filePath: String, fileLen: Long,
    pageLo: Int = -1, pageHi: Int = -1) extends InputPartition

/** Publishes the current task's file identity so `input_file_name()` /
  * `input_file_block_start/length` work over graft scans, as they do over
  * parquet. Spark only wires this for FileFormat sources (FileScanRDD);
  * DSv2 readers must set it themselves, and the holder is `private[spark]`,
  * so the call goes through one cached reflective Method — invoked once per
  * partition reader, never per row.
  */
private[graft] object InputFileHolder {
  private val setM: java.lang.reflect.Method =
    try {
      val c = Class.forName("org.apache.spark.rdd.InputFileBlockHolder")
      c.getMethod("set", classOf[String], java.lang.Long.TYPE, java.lang.Long.TYPE)
    } catch { case _: Throwable => null }
  def set(path: String, start: Long, len: Long): Unit =
    if (setM != null)
      try setM.invoke(null, path, java.lang.Long.valueOf(start), java.lang.Long.valueOf(len))
      catch { case _: Throwable => () }
}

final class GraftReaderFactory(conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    projectedJson: String,
    @volatile var pagePreds: Array[ZoneMapFilter.PagePred] = Array.empty,
    colAliases: Map[String, String] = Map.empty,
    /** ident -> qualified sidecar path of the table's deletion vectors,
      * listed at plan time. Non-empty forces the WHOLE scan row-based
      * (Spark rejects mixed columnar/row partitions), with masked rows
      * dropped by file-physical ordinal. */
    dvByIdent: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {

  // deletion-vector masking keeps the COLUMNAR path when every projected
  // column is atomic (vector compaction by per-type row copy — the common
  // analytic projection); nested projections fall back to the row path.
  // The decision depends only on (dv presence, projected schema), so it is
  // uniform across partitions — Spark forbids mixing.
  private lazy val columnarMaskable: Boolean = {
    val schema = GraftFooterCache.schemaOf(projectedJson)
    schema.fields.forall(f => DvMask.supported(f.dataType))
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    dvByIdent.isEmpty || columnarMaskable

  // the table root, derived EXACTLY from any sidecar path (all sidecars
  // were listed from one `<root>/_graft_dv/` at plan time) — no per-file
  // upward walk, and immune to table dirs whose own name contains '='
  private lazy val dvRoot: Path =
    new Path(dvByIdent.values.head).getParent.getParent

  private def dvFor(filePath: String): Option[org.roaringbitmap.RoaringBitmap] = {
    if (dvByIdent.isEmpty) return None
    val p = new Path(filePath)
    dvByIdent.get(GraftDv.identOf(dvRoot, p))
      .map(s => GraftDv.read(GraftFs.get(p, conf.value.value), s))
  }

  private def fileColumnarReader(f: String, len: Long,
      lo: Int, hi: Int): PartitionReader[ColumnarBatch] = {
    val inner = new GraftColumnarReader(f, len, conf.value.value,
      GraftFooterCache.schemaOf(projectedJson), pagePreds, lo, hi, colAliases)
    dvFor(f) match {
      case None => inner
      case Some(dv) =>
        new DvMaskedColumnarReader(inner, dv,
          GraftFooterCache.schemaOf(projectedJson))
    }
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    partition match {
      case kp: GraftKeyedPartition =>
        // storage partition: every file of one partition value, read in
        // sequence through per-file readers (file identity republished per
        // file for input_file_name())
        new PartitionReader[ColumnarBatch] {
          private var i = 0
          private var cur: PartitionReader[ColumnarBatch] = null
          override def next(): Boolean = {
            while (true) {
              if (cur != null && cur.next()) return true
              if (cur != null) { cur.close(); cur = null }
              if (i >= kp.files.length) return false
              val (f, len) = kp.files(i); i += 1
              InputFileHolder.set(f, 0L, len)
              cur = fileColumnarReader(f, len, -1, -1)
            }
            false
          }
          override def get(): ColumnarBatch = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ =>
        val p = partition.asInstanceOf[GraftInputPartition]
        // publish the file identity for input_file_name()/input_file_block_*:
        // DSv2 sources don't get this from Spark automatically (FileScanRDD
        // sets it only for FileFormat sources), and a table maintenance pass
        // (deleteWhere's one-job match probe) depends on it to map matched
        // rows back to their files
        InputFileHolder.set(p.filePath, 0L, p.fileLen)
        fileColumnarReader(p.filePath, p.fileLen, p.pageLo, p.pageHi)
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case kp: GraftKeyedPartition =>
        new PartitionReader[InternalRow] {
          private var i = 0
          private var cur: PartitionReader[InternalRow] = null
          override def next(): Boolean = {
            while (true) {
              if (cur != null && cur.next()) return true
              if (cur != null) { cur.close(); cur = null }
              if (i >= kp.files.length) return false
              val (f, len) = kp.files(i); i += 1
              InputFileHolder.set(f, 0L, len)
              cur = fileRowReader(f, len, -1, -1)
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case _ =>
        val p = partition.asInstanceOf[GraftInputPartition]
        InputFileHolder.set(p.filePath, 0L, p.fileLen)
        fileRowReader(p.filePath, p.fileLen, p.pageLo, p.pageHi)
    }
  }

  private def fileRowReader(f: String, len: Long,
      lo: Int, hi: Int): PartitionReader[InternalRow] = {
    val inner = new GraftColumnarReader(f, len, conf.value.value,
      GraftFooterCache.schemaOf(projectedJson), pagePreds, lo, hi, colAliases)
    dvFor(f) match {
      case None =>
        new PartitionReader[InternalRow] {
          private var rows: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()
          override def next(): Boolean = {
            while (!rows.hasNext) {
              if (!inner.next()) return false
              rows = inner.get().rowIterator()
            }
            true
          }
          override def get(): InternalRow = rows.next()
          override def close(): Unit = inner.close()
        }
      case Some(dv) =>
        // drop masked rows by FILE-PHYSICAL ordinal: the batch's page start
        // plus the row's index within the batch — split- and skip-proof
        new PartitionReader[InternalRow] {
          private var rows: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()
          private var base = 0L
          private var idx = 0
          private var cur: InternalRow = null
          override def next(): Boolean = {
            while (true) {
              while (rows.hasNext) {
                val r = rows.next()
                val ord = base + idx
                idx += 1
                if (ord > Int.MaxValue || !dv.contains(ord.toInt)) {
                  cur = r
                  return true
                }
              }
              if (!inner.next()) return false
              base = inner.currentPageStartRow
              idx = 0
              rows = inner.get().rowIterator()
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
    }
  }
}

/** Per-file columnar reader: one ColumnarBatch per page group; only the
  * projected leaves' byte ranges are ever fetched.
  */
/** Counters observable from tests (single-JVM local mode). */
/** Decides whether a pushed filter can possibly match a file given its
  * partition-path values (string-rendered). Sound: anything undecidable
  * keeps the file.
  */
object PartitionPrune {
  import org.apache.spark.sql.sources._

  private def render(v: Any): String = if (v == null) null else v.toString

  /** Can a file in partition dir `part` contain a row matching `f`?
    * `tx` maps a SOURCE column (lowercased) to its declared transform +
    * source type: predicates on `ts` prune a `ts_day=...` layout by
    * deriving the literal through the SAME function the writer used —
    * equality/IN always, ranges for every monotonic transform (all but
    * bucket). Null dirs hold only null source values (null derives to the
    * hive default token), so IS [NOT] NULL prunes exactly. Everything
    * undecidable stays conservative (keep the dir).
    */
  def mayMatch(f: Filter, part: Map[String, String],
      tx: Map[String, (PartTransform, org.apache.spark.sql.types.DataType)] =
        Map.empty): Boolean = {
    // (dir value, transform, source type) for a filter attribute: direct
    // hive identity (dir name == column name) or a declared transform
    def dimOf(a: String)
        : Option[(String, Option[(PartTransform, org.apache.spark.sql.types.DataType)])] =
      if (part.contains(a)) Some((part(a), None))
      else tx.get(a.toLowerCase) match {
        case Some((pt, dt)) if part.contains(pt.dirName) =>
          Some((part(pt.dirName), Some((pt, dt))))
        case _ => None
      }
    def derived(pt: PartTransform, dt: org.apache.spark.sql.types.DataType,
        v: Any): Option[String] =
      GraftPartTransform.toInternal(dt, v)
        .map(iv => GraftPartTransform.deriveLogical(pt, dt, iv))
    // `col#month` / `col#day` marker attrs (GraftPredicateImplication's
    // calendar-field lane): resolve against a declared time transform and
    // test the filter against the dir's possible field values. A REAL
    // column/dir of that exact name wins (dimOf is consulted first).
    def fieldMay(a: String, test: Set[Int] => Boolean): Boolean = {
      val i = a.lastIndexOf('#')
      if (i <= 0 || i == a.length - 1) return true
      val (col, fld) = (a.substring(0, i), a.substring(i + 1))
      tx.get(col.toLowerCase) match {
        case Some((pt, dt)) if part.contains(pt.dirName) =>
          val pv = part(pt.dirName)
          // null dir: EXTRACT of a null source is null — no comparison
          // against it is ever true, so the dir cannot match
          if (pv == null) false
          else {
            val cands =
              if (fld.equalsIgnoreCase("hour"))
                GraftPartTransform.hourCandidates(pt, dt, pv)
              else GraftPartTransform.fieldCandidates(pt, dt, pv, fld)
            cands match {
              case Some(cs) => test(cs)
              case scala.None => true
            }
          }
        case _ => true
      }
    }
    def intLit(v: Any): Option[Int] = v match {
      case n: java.lang.Number => Some(n.intValue)
      case _ => scala.None
    }
    def eqMay(a: String, v: Any): Boolean = dimOf(a) match {
      case Some((pv, None)) => pv != null && pv == render(v)
      case Some((pv, Some((pt, dt)))) =>
        pv != null && derived(pt, dt, v).forall(_ == pv)
      case None =>
        if (!a.contains('#')) true
        else fieldMay(a, cands => intLit(v).forall(cands.contains))
    }
    def rangeMay(a: String, v: Any, keepIfCmp: Int => Boolean): Boolean =
      dimOf(a) match {
        case Some((pv, Some((pt, dt)))) if GraftPartTransform.monotonic(pt) =>
          if (pv == null) false // all-null dir: no row satisfies a range
          else derived(pt, dt, v).forall(dv =>
            GraftPartTransform.cmpDerived(pt, dt, pv, dv).forall(keepIfCmp))
        case None if a.contains('#') =>
          fieldMay(a, cands => intLit(v).forall(iv =>
            cands.exists(c => keepIfCmp(Integer.compare(c, iv)))))
        case _ => true // identity dirs have no typed order here: keep
      }
    f match {
      case EqualTo(a, v) => eqMay(a, v)
      case EqualNullSafe(a, v) if v != null => eqMay(a, v)
      case In(a, vs) if vs != null => dimOf(a) match {
        case Some((pv, None)) => pv != null && vs.exists(v => render(v) == pv)
        case Some((pv, Some((pt, dt)))) =>
          pv != null && vs.exists(v => derived(pt, dt, v).forall(_ == pv))
        case None =>
          if (!a.contains('#')) true
          else fieldMay(a, cands =>
            vs.exists(v => intLit(v).forall(cands.contains)))
      }
      case StringStartsWith(a, prefix) if prefix != null => dimOf(a) match {
        // identity dir: the dir value IS the row value
        case Some((pv, None)) => pv != null && pv.startsWith(prefix)
        // truncate(w, s) dir: rows starting with `prefix` live in dirs
        // that are either an exact w-wide cut of the prefix (long
        // prefix) or a dir the prefix itself starts with (short prefix).
        // Surrogate pairs opt out: the dir was cut by CODE POINT and a
        // UTF-16 substring could split a pair — keep the dir instead.
        case Some((pv, Some((pt, _)))) if pt.kind == "truncate" &&
            !prefix.exists(Character.isSurrogate) =>
          pv != null && (
            if (prefix.length >= pt.arg) pv == prefix.substring(0, pt.arg)
            else pv.startsWith(prefix))
        case _ => true
      }
      // row > lit needs derive(row) >= derive(lit) by monotonicity
      case GreaterThan(a, v) => rangeMay(a, v, _ >= 0)
      case GreaterThanOrEqual(a, v) => rangeMay(a, v, _ >= 0)
      case LessThan(a, v) => rangeMay(a, v, _ <= 0)
      case LessThanOrEqual(a, v) => rangeMay(a, v, _ <= 0)
      case IsNull(a) => dimOf(a) match {
        case Some((pv, _)) => pv == null
        case None => true
      }
      case IsNotNull(a) => dimOf(a) match {
        case Some((pv, _)) => pv != null
        case None => true
      }
      case And(l, r) => mayMatch(l, part, tx) && mayMatch(r, part, tx)
      case Or(l, r) => mayMatch(l, part, tx) || mayMatch(r, part, tx)
      case _ => true
    }
  }
}

/** Executor-side footer/schema cache. Every SPLIT of a graft file needs the
  * footer (page metas) and the parsed file schema; without a cache a file
  * split 16 ways pays the 64 KiB tail read + meta parse + schema-JSON parse
  * 16 times per scan — and the schema parse repeats once per TASK across
  * the whole table even though every file of a table shares one schema
  * string. Both caches are bounded LRU (footers by entry count, schemas are
  * naturally tiny), keyed by (path, length) — an overwritten file changes
  * its length in the task's InputPartition, so stale entries can't serve a
  * replaced file of identical length+path from the same JVM's prior scan
  * (the staged-rename commit never rewrites a data file in place).
  */
object GraftFooterCache {
  // weight-bounded LRU: footers of bloom-bearing tables embed per-page
  // bloom arrays (up to MBs per file), so an entry-count bound alone could
  // pin gigabytes — evict by approximate retained bytes instead
  private val MaxFooterBytes = 128L * 1024 * 1024
  private def weigh(f: Footer): Long = {
    var w = f.schemaJson.length.toLong + 64
    f.leaves.foreach { cm =>
      w += 32
      cm.pages.foreach { pm =>
        w += 64
        if (pm.minBin != null) w += pm.minBin.length
        if (pm.maxBin != null) w += pm.maxBin.length
        if (pm.bloom != null) w += pm.bloom.length
      }
    }
    w
  }
  private var footerBytes = 0L
  private val footers = new java.util.LinkedHashMap[String, Footer](64, 0.75f, true)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def footerOf(input: HadoopSeekableInput, path: String, len: Long): Footer = {
    val key = path + "#" + len
    footers.synchronized {
      val cached = footers.get(key)
      if (cached != null) return cached
    }
    val f = GraftFileReader.readFooter(input)
    footers.synchronized {
      if (!footers.containsKey(key)) {
        footers.put(key, f)
        footerBytes += weigh(f)
      }
      // loop-evict eldest until under the byte budget (a single huge
      // bloom-bearing footer may exceed several small ones)
      val it = footers.entrySet().iterator()
      while (footerBytes > MaxFooterBytes && footers.size() > 1 && it.hasNext) {
        val e = it.next()
        if (!e.getKey.equals(key)) {
          footerBytes -= weigh(e.getValue)
          it.remove()
        }
      }
    }
    f
  }

  def schemaOf(json: String): StructType = {
    val cached = schemas.get(json)
    if (cached != null) return cached
    if (schemas.size() > 256) schemas.clear() // a JVM sees few distinct schemas
    val st = DataType.fromJson(json).asInstanceOf[StructType]
    schemas.put(json, st)
    st
  }
}

object GraftMetrics {
  val pageGroupsSkipped = new java.util.concurrent.atomic.AtomicLong()
  val pageGroupsRead = new java.util.concurrent.atomic.AtomicLong()
  /** Files dropped by partition-directory pruning (test observability). */
  val filesPruned = new java.util.concurrent.atomic.AtomicLong()
  /** Bytes fetched through HadoopSeekableInput (data + footers); test-only
    * observability for pruning assertions (local mode — same JVM).
    */
  val bytesRead = new java.util.concurrent.atomic.AtomicLong()
  /** Leaf ranged reads completed by the async prefetch pool (test-only). */
  val leavesPrefetched = new java.util.concurrent.atomic.AtomicLong()
}

object GraftColumnarReader {
  /** Fill `rows` entries of `vector` with one constant — the ADD COLUMN
    * DEFAULT served for files that predate the column. */
  def fillConstant(vector: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      dt: org.apache.spark.sql.types.DataType, value: Any, rows: Int): Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => vector.putBytes(0, rows, value.asInstanceOf[Byte])
      case ShortType => vector.putShorts(0, rows, value.asInstanceOf[Short])
      case IntegerType | DateType => vector.putInts(0, rows, value.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        vector.putLongs(0, rows, value.asInstanceOf[Long])
      case FloatType => vector.putFloats(0, rows, value.asInstanceOf[Float])
      case DoubleType => vector.putDoubles(0, rows, value.asInstanceOf[Double])
      case BooleanType => vector.putBooleans(0, rows, value.asInstanceOf[Boolean])
      case StringType =>
        val b = value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        var i = 0
        while (i < rows) { vector.putByteArray(i, b); i += 1 }
      case d: DecimalType =>
        val dec = value.asInstanceOf[Decimal]
        var i = 0
        while (i < rows) { vector.putDecimal(i, dec, d.precision); i += 1 }
      case other => throw new IllegalArgumentException(
        s"graft: no constant fill for default of type $other")
    }
  }
}

final class GraftColumnarReader(filePath: String, fileLen: Long,
    conf: org.apache.hadoop.conf.Configuration, projected: StructType,
    pagePreds: Array[ZoneMapFilter.PagePred] = Array.empty,
    pageLo: Int = -1, pageHi: Int = -1,
    colAliases: Map[String, String] = Map.empty)
    extends PartitionReader[ColumnarBatch] {

  private val hPath = new Path(filePath)
  private val input = new HadoopSeekableInput(GraftFs.get(hPath, conf), hPath, fileLen)
  private val footer = GraftFooterCache.footerOf(input, filePath, fileLen)
  // column-mapping RENAMEs re-label the footer schema to logical names
  // (name strings only — leaf order and indices untouched), so every
  // name-based resolution below (projection, zone-map preds, drift check)
  // sees one namespace across mixed-generation files
  private val fileSchema = GraftColumnMap.renameSchema(
    GraftFooterCache.schemaOf(footer.schemaJson), colAliases)
  private val (fieldOffsets, totalLeaves) = GraftSchema.fieldLeafOffsets(fileSchema)
  require(totalLeaves == footer.leaves.length,
    s"graft: schema/leaf mismatch in $filePath (${footer.leaves.length} leaves, schema wants $totalLeaves)")

  // projected field -> (file field index, base leaf index, filler). The
  // projected type may be a struct-pruned subset of the file's; the filler
  // then reads only the kept children's leaves within the file layout.
  // A projected NULLABLE column the file doesn't carry at all is served as
  // nulls (additive schema evolution: files written before the column was
  // added stay readable) — marked with fi = -1 and no filler.
  private val plan: Array[(Int, Int, FieldFiller)] = projected.fields.map { pf =>
    val fi =
      // the _graft_ordinal METADATA column is synthesized (physical row
      // ordinal within the file), unless the file genuinely carries a
      // column of that name — data wins, matching Spark's hiding rule
      if (pf.name == GraftDv.OrdinalCol &&
          !fileSchema.fieldNames.contains(pf.name)) -2
      else fileSchema.fieldNames.indexOf(pf.name)
    if (fi == -2) (-2, -1, null: FieldFiller)
    else if (fi < 0) {
      require(pf.nullable,
        s"graft: $filePath lacks non-nullable column '${pf.name}' (additive " +
          "schema evolution can only null-fill nullable columns)")
      (-1, -1, null: FieldFiller)
    } else {
      // (ADD COLUMN DEFAULT values for the fi < 0 case fill through
      // evolutionDefaults below — resolved from the field metadata)
      val ff = fileSchema.fields(fi)
      // schema drift across a directory (table schema inferred from the first
      // footer) must fail loudly, not decode garbage through mismatched
      // lanes — EXCEPT a declared widening (ALTER COLUMN ... TYPE), where
      // older narrow files decode through a widening cast at fill time
      require(GraftSchema.isPrunedSubset(ff.dataType, pf.dataType) ||
          GraftSchema.widens(ff.dataType, pf.dataType),
        s"graft: schema drift in $filePath: field '${pf.name}' is ${ff.dataType} " +
          s"but the table schema expects ${pf.dataType}")
      (fi, fieldOffsets(fi), FieldFiller.forProjected(ff, pf))
    }
  }

  // ADD COLUMN DEFAULT values for evolution columns this file predates,
  // decoded once per reader from the field metadata's internal rendering
  private val evolutionDefaults: Array[Any] = projected.fields.zipWithIndex.map {
    case (pf, i) =>
      if (plan(i)._1 == -1 && pf.metadata.contains(GraftSchema.DefaultKey))
        GraftSchema.defaultValueOf(
          pf.metadata.getString(GraftSchema.DefaultKey), pf.dataType)
      else null
  }

  // every top-level field's first leaf is row-aligned (see ColumnTree docs),
  // so the FILE's leaf 0 supplies the page grid regardless of projection
  // (plan(0) may be a null-filled evolution column with no leaves)
  private val rowPages: Array[PageMeta] =
    if (footer.leaves.isEmpty) Array.empty
    else footer.leaves(0).pages
  private def rowPagesLen: Int = rowPages.length

  // zone-map pruning: decide needed page groups BEFORE any data IO, so
  // pruned byte ranges are never fetched. Pred fields resolve to leaves via
  // the shared (possibly dotted struct-path) walk; fields this file doesn't
  // carry are dropped (pruning is advisory).
  private val predFieldPages: Map[String, Array[PageMeta]] =
    pagePreds.flatMap(_.fields).distinct.flatMap { name =>
      GraftSchema.leafIndexOfPath(fileSchema, name).map(li => name -> footer.leaves(li).pages)
    }.toMap
  // composites are decomposed per-file: AND branches on columns this file
  // carries still prune even when a sibling branch references a missing field
  private val activePreds: Array[ZoneMapFilter.PagePred] =
    pagePreds.flatMap(ZoneMapFilter.restrict(_, predFieldPages.contains))

  // this split's page-group range (whole file when unset)
  private val rangeLo = if (pageLo < 0) 0 else pageLo
  private val rangeHi = if (pageHi < 0) rowPagesLen else math.min(pageHi, rowPagesLen)

  private val neededMask: Array[Boolean] = {
    val m = new Array[Boolean](rowPagesLen)
    var p = rangeLo
    while (p < rangeHi) {
      val metaAt: String => PageMeta = name => predFieldPages(name)(p)
      var skip = false
      var i = 0
      while (!skip && i < activePreds.length) {
        if (activePreds(i).canSkip(metaAt)) skip = true
        i += 1
      }
      m(p) = !skip
      p += 1
    }
    m
  }

  private val wholeFile = rangeLo == 0 && rangeHi == rowPagesLen

  private val leafReaders = new Array[LeafReader](totalLeaves)
  private val leafSpecsAll: Array[(Int, Boolean)] =
    fileSchema.fields.flatMap(f => GraftSchema.leafSpecs(f.dataType, f.nullable)).toArray
  plan.foreach { case (fi, base, filler) =>
    if (fi >= 0)
    // only the filler's needed leaves get readers: a pruned-away struct
    // child's byte ranges are never fetched
    filler.neededLeaves.foreach { rel =>
      val i = base + rel
      val (lane, nullable) = leafSpecsAll(i)
      // the IO mask (false outside this split's range) keeps ranged fetches
      // to only this split's contiguous page runs
      leafReaders(i) = new LeafReader(input, footer.leaves(i), lane, nullable,
        if (activePreds.isEmpty && wholeFile) null else neededMask)
    }
  }

  private val maxRows = if (rowPages.isEmpty) 0 else rowPages.map(_.numValues).max
  private val vectors: Array[OnHeapColumnVector] =
    if (projected.isEmpty) Array.empty
    else OnHeapColumnVector.allocateColumns(math.max(maxRows, 1), projected)
  private val batch = new ColumnarBatch(vectors.map(_.asInstanceOf[ColumnVector]))
  private val pageVecs = new Array[Vec](totalLeaves)

  // fast path: top-level atomic columns decode page bytes straight into the
  // Spark vector (no Vec materialization, reused decompression buffer)
  private val scratch = new ScratchBuf()
  private val direct: Array[DirectFill] = plan.map { case (fi, base, filler) =>
    if (fi >= 0 && filler.isInstanceOf[AtomicFiller]) {
      val (lane, nullable) = leafSpecsAll(base)
      val df = new DirectFill(fileSchema.fields(fi).dataType, lane, nullable)
      if (df.supported) df else null
    } else null
  }

  // async leaf prefetch: issue every projected leaf's ranged read on the
  // shared pool NOW, so the fetches overlap each other (and the first
  // batch's decode joins them through the lazy-val init lock). One leaf
  // needs no overlap; `graft.read.prefetch.threads=0` (settable as
  // spark.hadoop.graft.read.prefetch.threads) disables for A/B tests.
  // Failures are swallowed here — the decode path retries the fetch and
  // surfaces the real error with full context.
  private val prefetchFutures: Seq[java.util.concurrent.Future[_]] = {
    val enabled = conf.getInt("graft.read.prefetch.threads", 1) > 0
    val active = leafReaders.filter(_ != null)
    if (!enabled || active.length < 2) Nil
    else active.toSeq.map { lr =>
      GraftPrefetch.submit(() => {
        try { lr.prefetch(); GraftMetrics.leavesPrefetched.incrementAndGet() }
        catch { case _: Throwable => () }
      })
    }
  }

  // physical row ordinal of each page group's first row — the base for
  // the synthesized _graft_ordinal column and for deletion-vector masking
  // (both are file-physical positions, independent of splits and skips)
  private val pageStartRows: Array[Long] = {
    val a = new Array[Long](rowPagesLen + 1)
    var i = 0
    while (i < rowPagesLen) { a(i + 1) = a(i) + rowPages(i).numValues; i += 1 }
    a
  }

  /** File-physical ordinal of the current batch's first row. */
  private[spark] def currentPageStartRow: Long = pageStartRows(page)

  private var page = rangeLo - 1

  @annotation.tailrec
  private def advance(): Boolean = {
    page += 1
    if (page >= rangeHi) return false
    if (!neededMask(page)) { GraftMetrics.pageGroupsSkipped.incrementAndGet(); advance() }
    else true
  }

  override def next(): Boolean = {
    if (!advance()) return false
    GraftMetrics.pageGroupsRead.incrementAndGet()
    val rows = rowPages(page).numValues
    var v = 0
    while (v < vectors.length) { vectors(v).reset(); v += 1 }
    var f = 0
    while (f < plan.length) {
      val (fi, base, filler) = plan(f)
      if (fi == -2) { // synthesized _graft_ordinal: file-physical row ids
        val start = pageStartRows(page)
        var i = 0
        while (i < rows) { vectors(f).putLong(i, start + i); i += 1 }
      } else if (fi < 0) {
        // evolution column absent in this file: its declared DEFAULT if
        // one exists (ADD COLUMN ... DEFAULT — old rows carry it), nulls
        // otherwise
        if (evolutionDefaults(f) != null)
          GraftColumnarReader.fillConstant(vectors(f),
            projected.fields(f).dataType, evolutionDefaults(f), rows)
        else vectors(f).putNulls(0, rows)
      } else if (direct(f) != null) {
        val lr = leafReaders(base)
        direct(f).fill(vectors(f), lr.pageBytes, lr.pageStart(page), rows, scratch)
      } else {
        val nl = filler.neededLeaves
        var k = 0
        while (k < nl.length) {
          val i = base + nl(k)
          pageVecs(i) = leafReaders(i).readPage(page)
          k += 1
        }
        filler.fill(vectors(f), pageVecs, base, rows)
      }
      f += 1
    }
    batch.setNumRows(rows)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    // the stream must not close under an in-flight prefetch: dequeue tasks
    // that haven't started (cancel(false)), await the ones that have (each
    // is one bounded ranged read) — an early close (LIMIT) never stalls on
    // other readers' queued work
    prefetchFutures.foreach { f =>
      f.cancel(false)
      if (!f.isCancelled) {
        try f.get(30, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: Throwable => () }
      }
    }
    input.close()
  }
}
