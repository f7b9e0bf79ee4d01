package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-backed `TableCatalog`: the pure-SQL front door to graft tables.
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.spark.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft-warehouse
  *
  *   CREATE TABLE graft.db.events (id BIGINT, ts TIMESTAMP) ;
  *   INSERT INTO graft.db.events SELECT ... ;
  *   SELECT * FROM graft.db.events ;
  * }}}
  *
  * An identifier `ns1.ns2.t` maps to `<warehouse>/ns1/ns2/t`; the data
  * inside is an ordinary graft directory (everything `.format("graft")`
  * wrote or will read — the catalog adds NAMES, not a new storage format,
  * so path users and SQL users share tables freely). An empty table's
  * schema lives in a `_graft_table.json` sidecar until the first insert;
  * once data files exist the footer schema is authoritative (same
  * inference as the path reader, drift rejected there), extended by any
  * `ALTER TABLE ... ADD COLUMN` columns the sidecar declares that no data
  * file carries yet (scans serve nulls for those until a write lands).
  *
  * Scale note: metadata operations are pure filesystem ops on the table
  * dir — no central metastore round-trips; list/exists price as one
  * directory listing. Partitioned layouts come from CREATE TABLE ...
  * PARTITIONED BY (identity columns, recorded in the sidecar and applied
  * to every INSERT) or from the data path's `.option("partitionby", ...)`
  * writes.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ---- FunctionCatalog: the partition-transform functions -------------
  // What lets the planner RESOLVE the bucket/days/... transforms the scan
  // reports in KeyGroupedPartitioning — the storage-partitioned-join path
  // for transform-bucketed tables (see GraftFunctions). Exposed under
  // every namespace (the resolver asks with the transform's bare name).
  override def listFunctions(namespace: Array[String])
      : Array[org.apache.spark.sql.connector.catalog.Identifier] =
    GraftFunctions.names.map(n =>
      org.apache.spark.sql.connector.catalog.Identifier
        .of(namespace, n)).toArray

  override def loadFunction(ident: org.apache.spark.sql.connector.catalog.Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.unbound(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  private var catalogName: String = _
  private var warehouse: Path = _

  private def conf = SparkSession.active.sessionState.newHadoopConf()
  private def fs = GraftFs.get(warehouse, conf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null,
      s"graft: catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  // ADD COLUMN ... DEFAULT is accepted (metadata-only; the reader serves
  // the default for files predating the column, Spark's own resolution
  // fills INSERTs that omit it). CHECK table constraints are accepted
  // (persisted in the sidecar; Spark's own ResolveTableConstraints
  // enforces ENFORCED checks on every write through this connector).
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** Path-traversal guard: catalog identifier segments become filesystem
    * path components, so a backquoted segment containing a separator or a
    * dot-link (`..`) would resolve OUTSIDE the warehouse root — and
    * dropTable recursively deletes the resolved path. Every resolution goes
    * through here; hostile segments are rejected before any
    * mkdir/rename/delete can touch the escaped path.
    */
  private def segmentValid(seg: String): Boolean =
    seg != null && seg.nonEmpty && seg != "." && seg != ".." &&
      !seg.exists(c => c == '/' || c == '\\' || c == '\u0000')

  private def resolved(segments: Seq[String]): Path = {
    segments.foreach(seg => require(segmentValid(seg),
      s"graft: invalid catalog identifier segment '$seg' — segments must be " +
        "non-empty and must not be '.'/'..' or contain path separators"))
    segments.foldLeft(warehouse)(new Path(_, _))
  }

  private def tableDir(ident: Identifier): Path =
    resolved((ident.namespace() :+ ident.name()).toSeq)

  private def sidecar(dir: Path): Path = new Path(dir, "_graft_table.json")

  private def hasData(dir: Path): Boolean =
    GraftUtil.listDataFiles(dir.toString, conf).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = resolved(namespace.toSeq)
    if (!fs.exists(nsDir)) throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    fs.listStatus(nsDir).filter(_.isDirectory)
      // dot-prefixed dirs are catalog internals (staged CTAS dirs,
      // replaced-generation trash), never tables
      .filter(d => !d.getPath.getName.startsWith("."))
      .filter(d => hasData(d.getPath) || sidecarExists(d.getPath))
      .map(d => Identifier.of(namespace, d.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = {
    healSwap(ident) // finish a crashed REPLACE swap before resolving
    val dir = tableDir(ident)
    fs.exists(dir) && (hasData(dir) || sidecarExists(dir))
  }

  /** Newest `._graft_table.json.tmp-*` under `dir`, if any — the publish
    * path of an ALTER that crashed between deleting the old sidecar and
    * renaming the new one in. Consulting it (and promoting it on read)
    * makes that window recoverable instead of a vanished table.
    */
  private def sidecarTmp(dir: Path): Option[Path] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith("._graft_table.json.tmp-"))
      .sortBy(-_.getModificationTime)
      .headOption.map(_.getPath)

  private def sidecarExists(dir: Path): Boolean =
    fs.exists(sidecar(dir)) || sidecarTmp(dir).nonEmpty

  /** (declared schema, declared partition columns). Two sidecar formats:
    * legacy = a bare StructType json (unpartitioned tables keep writing
    * it, so downgrades stay safe); v2 = an envelope
    * `{"graftTable":2,"partitionCols":[...],"schema":<struct json>}`
    * written when CREATE TABLE declares PARTITIONED BY.
    */
  private def sidecarJson(dir: Path): String = {
    val p =
      if (fs.exists(sidecar(dir))) sidecar(dir)
      else sidecarTmp(dir) match {
        case Some(tmp) =>
          // crash recovery: finish the interrupted publish (best effort —
          // a concurrent reader may have won the rename; re-check)
          if (fs.rename(tmp, sidecar(dir)) || fs.exists(sidecar(dir))) sidecar(dir)
          else tmp
        case None => sidecar(dir) // open() raises the usual not-found
      }
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def sidecarContent(
      dir: Path): (StructType, Seq[String], Seq[String], Seq[String]) =
    GraftCatalog.parseSidecar(sidecarJson(dir))

  /** Declared CHECK constraints (empty when no sidecar / legacy body). */
  private def checksOf(dir: Path): Seq[GraftCatalog.CheckSpec] =
    if (sidecarExists(dir)) GraftCatalog.parseChecks(sidecarJson(dir))
    else Seq.empty

  private def sidecarSchema(dir: Path): StructType = sidecarContent(dir)._1

  /** The table's current schema: the footer schema of the data files,
    * extended by sidecar columns no file carries yet (ALTER TABLE ADD
    * COLUMN records them there; the scan serves nulls until a write backs
    * them with data). A sidecar column whose name a data file also carries
    * defers to the footer — once data exists it is authoritative, matching
    * the path reader. A TYPE conflict between the two is declared-schema
    * drift and rejected rather than silently resolved.
    */
  private def currentSchema(dir: Path): StructType =
    if (!hasData(dir)) sidecarSchema(dir)
    else {
      val footer = GraftUtil.inferSchema(dir.toString, conf)
      if (!sidecarExists(dir)) footer
      else {
        val declared = sidecarSchema(dir)
        val merged = footer.fields.map { df =>
          declared.fields.find(_.name.equalsIgnoreCase(df.name)) match {
            case Some(f) =>
              // nullability-INSENSITIVE comparison, nested included: a
              // legal INSERT records the query output's tighter
              // containsNull/struct-field nullability in the footer (e.g.
              // array(id) is ARRAY<BIGINT> containsNull=false against a
              // declared containsNull=true) — that is not type drift, and
              // a strict == here would brick every later read of the table.
              // A declared WIDENING of the footer type is the other legal
              // divergence (ALTER COLUMN ... TYPE): the declared type wins,
              // old files decode through the fill-time widening cast.
              require(GraftCatalog.sameTypeIgnoreNullability(df.dataType, f.dataType) ||
                  GraftSchema.widens(df.dataType, f.dataType),
                s"graft: declared column '${f.name}' has type ${f.dataType.sql} in " +
                  s"the table sidecar but ${df.dataType.sql} in the data files — " +
                  "ALTER TABLE cannot change the type of an existing column " +
                  "except by widening")
              val widened =
                if (GraftSchema.widens(df.dataType, f.dataType))
                  df.copy(dataType = f.dataType)
                else df
              // a column the sidecar declares nullable stays nullable even
              // if the newest file happened to write it non-null throughout:
              // OLDER files may predate the column entirely and the reader
              // null-fills only nullable evolution columns
              val base = if (f.nullable && !widened.nullable) widened.copy(nullable = true)
                else widened
              // sidecar metadata (CREATE/ALTER comments) survives the
              // footer taking over the TYPE — footers carry no metadata,
              // so without this every comment on a data-backed column
              // would silently vanish on the next read
              if (f.metadata == org.apache.spark.sql.types.Metadata.empty) base
              else base.copy(metadata = f.metadata)
            case None => df
          }
        }
        val extras = declared.fields.filterNot(f =>
          footer.fields.exists(_.name.equalsIgnoreCase(f.name)))
        StructType(merged ++ extras)
      }
    }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    // ONE sidecar read serves parts/sort/cluster/checks (loadTable runs
    // on every SQL statement naming the table — each extra read is a
    // remote round-trip on an object store)
    val (declaredParts, declaredSort, declaredCluster, checks, bloomCols, ndvCols) =
      if (sidecarExists(dir)) {
        val json = sidecarJson(dir)
        val c = GraftCatalog.parseSidecar(json)
        val (b, n) = GraftCatalog.parseWriteProps(json)
        (c._2, c._3, c._4, GraftCatalog.parseChecks(json), b, n)
      } else (Seq.empty[String], Seq.empty[String], Seq.empty[String],
        Seq.empty[GraftCatalog.CheckSpec], Seq.empty[String], Seq.empty[String])
    val partCols =
      if (declaredParts.nonEmpty) declaredParts
      else GraftUtil.layoutOf(dir,
        GraftUtil.listDataFiles(dir.toString, conf), strict = true)
    new GraftTable(currentSchema(dir), dir.toString,
      partitionCols = partCols,
      sortCols = declaredSort, clusterCols = declaredCluster,
      checks = checks, viaCatalog = true, bloomCols = bloomCols,
      ndvCols = ndvCols)
  }

  /** SQL time travel: `SELECT ... FROM cat.db.t TIMESTAMP AS OF <ts>` —
    * Spark hands the timestamp in MICROseconds; it pins the manifest
    * history exactly like the path reader's `.option("asof", millis)`
    * (files no manifest lists are pre-manifest history, visible in every
    * snapshot; snapshots older than the last compaction are not
    * reconstructable — same documented contract).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    val dir = tableDir(ident)
    // snapshot reads keep the DATA-FILE schema, not the current declared
    // one: an ALTER-added column no file backs did not exist at any pinned
    // time, and surfacing it in a TIMESTAMP AS OF read would be a schema
    // anachronism (columns backed by files inside the snapshot still
    // appear — they are in the footers)
    val schema =
      if (hasData(dir)) GraftUtil.inferSchema(dir.toString, conf)
      else sidecarSchema(dir)
    new GraftTable(schema, dir.toString, Some(timestampMicros / 1000L))
  }

  /** SQL time travel by ordinal: `VERSION AS OF n` pins the state after
    * the n-th COMMIT (1-based, chronological order of first observation;
    * catch-up re-lists are coverage, not commits, and don't count).
    * Ordinals are STABLE: they resolve through the table's append-only
    * version log ([[GraftVersionLog]]), not an index into the surviving
    * manifest list, so expiring a mid-history manifest leaves a hole — the
    * same `VERSION AS OF 5` always means the same commit; an expired
    * version errors as expired rather than silently renumbering its
    * successors. Served by the same snapshot machinery as TIMESTAMP AS OF,
    * with the same retention contract: versions whose manifests were
    * expired or compacted away are not reconstructable.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    val n = try version.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft: VERSION AS OF takes a commit ordinal (1-based), got '$version'")
    }
    val dir = tableDir(ident)
    val log = GraftVersionLog.commits(GraftVersionLog.sync(fs, dir))
    require(n >= 1 && n <= log.size,
      s"graft: version $n is out of range — the table has ${log.size} " +
        "registered commits (use TIMESTAMP AS OF for time-based pinning)")
    val commit = log((n - 1).toInt)
    require(GraftManifest.list(fs, dir).contains(commit),
      s"graft: version $n has been expired (its commit manifest was retired " +
        "by retention, a row-level rewrite, or compaction) and is no longer " +
        "reconstructable; later version ordinals are unaffected")
    val asOfMs = GraftManifest.nameT(commit)
    val schema =
      if (hasData(dir)) GraftUtil.inferSchema(dir.toString, conf)
      else sidecarSchema(dir)
    new GraftTable(schema, dir.toString, Some(asOfMs))
  }

  /** `CREATE TABLE ... PARTITIONED BY (col, ...)`: identity transforms
    * only — each names a top-level column of boolean/integral/string type
    * (the hive-layout rule the path writer enforces). The declaration is
    * recorded in the sidecar; every INSERT then lays out hive-style
    * `col=value/` subdirs automatically (the table injects `partitionby`
    * into its writes), and `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (or
    * `df.writeTo(t).overwritePartitions()`) replaces exactly the
    * partitions present in the incoming data.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Seq.empty)

  /** CREATE TABLE with declared constraints arrives through the TableInfo
    * overload — the default delegation chain would silently DROP the
    * constraints on the way to the StructType variant. */
  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTableImpl(ident,
      columnsToSchema(info.columns()),
      info.partitions(), info.properties(),
      info.constraints().toSeq.map(GraftCatalog.toCheckSpec))

  /** Column[] -> StructType (the conversion CatalogV2Util keeps private):
    * name/type/nullability, comment, and DEFAULT metadata under the
    * standard CURRENT_DEFAULT/EXISTS_DEFAULT keys — identical shape to
    * what Spark hands the plain StructType createTable. Generated and
    * identity columns are rejected (nothing evaluates them here). */
  private def columnsToSchema(cols: Array[Column]): StructType =
    StructType(cols.toSeq.map { c =>
      require(c.generationExpression() == null,
        s"graft: generated column '${c.name()}' is not supported")
      require(c.identityColumnSpec() == null,
        s"graft: identity column '${c.name()}' is not supported")
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      if (c.metadataInJSON() != null)
        mb.withMetadata(
          org.apache.spark.sql.types.Metadata.fromJson(c.metadataInJSON()))
      if (c.comment() != null) mb.putString("comment", c.comment())
      Option(c.defaultValue()).foreach { dv =>
        Option(dv.getSql).foreach { sql =>
          mb.putString("CURRENT_DEFAULT", sql)
          mb.putString("EXISTS_DEFAULT", sql)
        }
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    })

  private def createTableImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      checks: Seq[GraftCatalog.CheckSpec]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val dir = tableDir(ident)
    val (partCols, sortCols, clusterCols, bloomCols, ndvCols) =
      initTableDir(dir, schema, partitions, properties, checks)
    new GraftTable(schema, dir.toString, partitionCols = partCols,
      sortCols = sortCols, clusterCols = clusterCols, checks = checks,
      viaCatalog = true, bloomCols = bloomCols, ndvCols = ndvCols)
  }

  /** Validate the declared layout (partition transforms + sortby/clusterby
    * TBLPROPERTIES) and write a fresh schema sidecar into `dir` — shared
    * by CREATE TABLE and the staged CREATE/REPLACE paths, which differ
    * only in WHERE the directory lives when the sidecar is written. */
  private def initTableDir(dir: Path, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      checks: Seq[GraftCatalog.CheckSpec] = Seq.empty)
      : (Seq[String], Seq[String], Seq[String], Seq[String], Seq[String]) = {
    // PARTITIONED BY accepts identity columns AND hidden-partitioning
    // transforms (days/months/years/hours/bucket/truncate): the sidecar
    // persists canonical SPEC strings (`days(ts)`, `bucket(16,id)`; a
    // bare name stays an identity column, which is what every
    // pre-transform sidecar already holds), the writer derives the dir
    // values, and the scan compiles source-column predicates into
    // derived-value ranges — see [[GraftPartTransform]]
    val partCols = partitions.toSeq.map { t =>
      val spec = GraftPartTransform.fromV2(t)
      val pt = GraftPartTransform.parse(spec)
      GraftPartTransform.validate(pt, schema)
      pt.spec
    }
    require(partCols.map(GraftPartTransform.parse(_).dirName.toLowerCase)
        .distinct.length == partCols.length,
      s"graft: duplicate partition dimensions in ${partCols.mkString(", ")}")
    // DECLARED LAYOUT INTENT: TBLPROPERTIES ('graft.sortby'='a,b') /
    // ('graft.clusterby'='x') persist in the sidecar so EVERY insert —
    // including pure-SQL INSERT INTO, which cannot pass write options —
    // sorts/clusters its output. Without this, one unsorted append
    // silently cleared the whole-table sort marker and with it every
    // top-N/ordering pushdown the layout was created for.
    def declaredCols(prop: String): Seq[String] =
      Option(properties.get(prop)).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty)
    val sortCols = declaredCols("graft.sortby")
    val clusterCols = declaredCols("graft.clusterby")
    (sortCols ++ clusterCols).foreach(c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"graft: declared layout column '$c' is not in the table schema"))
    // DECLARED PER-PAGE STATS: ('graft.bloomfilter'='lang,tokens.element')
    // / ('graft.ndvsketch'='doc_id') opt the table into per-page blooms /
    // footer KMV synopses on every insert — the SQL-only surface of the
    // same-named write options (a SQL user has no .option() to call)
    val bloomCols = declaredCols("graft.bloomfilter")
    val ndvCols = declaredCols("graft.ndvsketch")
    GraftCatalog.validateWriteProps(schema, bloomCols, ndvCols)
    fs.mkdirs(dir)
    val out = fs.create(sidecar(dir), true)
    try out.write(GraftCatalog.renderSidecar(schema, partCols, sortCols,
      clusterCols, checks, bloomCols, ndvCols).getBytes("UTF-8"))
    finally out.close()
    (partCols, sortCols, clusterCols, bloomCols, ndvCols)
  }

  // ---- atomic CREATE/REPLACE TABLE AS SELECT (StagingTableCatalog) ----
  //
  // Without this, Spark plans REPLACE TABLE AS SELECT as drop-then-create:
  // the old table is DESTROYED before the query runs, so a failed query
  // leaves no table at all, and readers see a hole for the whole query
  // duration. Staged, the query writes into a hidden dot-prefixed sibling
  // dir (`.t.staged-<uuid>`) through the ordinary write path; only
  // commitStagedChanges swaps it in — two directory renames guarded by a
  // SWAP-INTENT marker (`.t.swap`) that doubles as the crash log: any
  // later catalog resolution that finds the marker FINISHES the swap
  // (the staged content is complete by commit time, so rolling forward is
  // always correct), making the two-rename window self-healing instead of
  // a vanished table. A failed query calls abortStagedChanges, which just
  // deletes the staging dir — the old table was never touched.
  //
  // REPLACE is a new table GENERATION: the old directory (its manifests,
  // version log, dv sidecars) is discarded wholesale, like DROP + CREATE
  // — version history does not carry across a replace (the old
  // generation's ordinals die with it), which is the honest reading of
  // "replace" on a directory store. In-flight maintenance on the replaced
  // generation fails loudly mid-op, exactly as it would across a DROP.

  private def swapIntent(ident: Identifier): Path =
    new Path(tableDir(ident).getParent, s".${ident.name()}.swap")

  /** Finish a crashed swap if `ident` has a pending intent marker. Hooked
    * into tableExists (the funnel every resolution passes through) — one
    * fs.exists per catalog op when no marker is present. */
  private def healSwap(ident: Identifier): Unit = {
    val intent = swapIntent(ident)
    if (!fs.exists(intent)) return
    val parent = tableDir(ident).getParent
    GraftTableLock.withLock(fs, parent, conf, s"replace:${ident.name()}") {
      if (!fs.exists(intent)) return // the committer finished while we waited
      val in = fs.open(intent)
      val Array(stagedName, trashName) =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .split("\n")
        finally in.close()
      val staged = new Path(parent, stagedName)
      val trash = new Path(parent, trashName)
      val dst = tableDir(ident)
      if (fs.exists(staged)) { // roll FORWARD: staged content is complete
        if (fs.exists(dst)) require(fs.rename(dst, trash),
          s"graft: swap heal failed to retire $dst")
        require(fs.rename(staged, dst),
          s"graft: swap heal failed to promote $staged")
        fs.delete(intent, false)
        fs.delete(trash, true)
      } else if (!fs.exists(dst) && fs.exists(trash)) {
        // Staged dir gone (a failed promote rename followed by abort) and
        // the table dir absent: the retired old generation in trash is the
        // ONLY surviving copy — roll BACK by restoring it, never delete it.
        require(fs.rename(trash, dst),
          s"graft: swap heal failed to restore $trash")
        fs.delete(intent, false)
      } else {
        // Either already promoted (dst exists) or nothing left to save;
        // clear the marker, and only then is the trash really trash.
        fs.delete(intent, false)
        if (fs.exists(dst)) fs.delete(trash, true)
      }
    }
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    stage(ident, schema, partitions, properties)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    stage(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties)

  // the TableInfo overloads carry declared CONSTRAINTS — the default
  // delegation chain drops them on the way to the StructType variants
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    stage(ident, columnsToSchema(info.columns()),
      info.partitions(), info.properties(),
      info.constraints().toSeq.map(GraftCatalog.toCheckSpec))
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    stage(ident, columnsToSchema(info.columns()),
      info.partitions(), info.properties(),
      info.constraints().toSeq.map(GraftCatalog.toCheckSpec))
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, columnsToSchema(info.columns()),
      info.partitions(), info.properties(),
      info.constraints().toSeq.map(GraftCatalog.toCheckSpec))

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String],
      checks: Seq[GraftCatalog.CheckSpec] = Seq.empty): StagedTable = {
    val finalDir = tableDir(ident)
    val stagingDir = new Path(finalDir.getParent,
      s".${ident.name()}.staged-${java.util.UUID.randomUUID().toString.take(8)}")
    val (partCols, sortCols, clusterCols, bloomCols, ndvCols) =
      initTableDir(stagingDir, schema, partitions, properties, checks)
    val inner = new GraftTable(schema, stagingDir.toString,
      partitionCols = partCols, sortCols = sortCols, clusterCols = clusterCols,
      checks = checks, viaCatalog = true, bloomCols = bloomCols,
      ndvCols = ndvCols)
    new GraftStagedTable(ident, inner, stagingDir, finalDir)
  }

  private final class GraftStagedTable(ident: Identifier, inner: GraftTable,
      stagingDir: Path, finalDir: Path)
      extends StagedTable with SupportsWrite {
    override def name(): String = s"graft:$finalDir (staged)"
    override def schema(): StructType = inner.schema()
    override def constraints():
        Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      inner.constraints()
    override def partitioning(): Array[Transform] = inner.partitioning()
    override def capabilities(): java.util.Set[TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)

    override def commitStagedChanges(): Unit = {
      val parent = finalDir.getParent
      val trash = new Path(parent,
        s".${ident.name()}.replaced-${java.util.UUID.randomUUID().toString.take(8)}")
      GraftTableLock.withLock(fs, parent, conf, s"replace:${ident.name()}") {
        val intent = swapIntent(ident)
        val tmp = new Path(parent, s"${intent.getName}.tmp")
        val out = fs.create(tmp, true)
        try out.write(s"${stagingDir.getName}\n${trash.getName}"
          .getBytes("UTF-8"))
        finally out.close()
        require(fs.rename(tmp, intent),
          s"graft: failed to publish swap intent $intent")
        if (fs.exists(finalDir)) require(fs.rename(finalDir, trash),
          s"graft: replace failed to retire $finalDir")
        require(fs.rename(stagingDir, finalDir),
          s"graft: replace failed to promote $stagingDir")
        fs.delete(intent, false)
        fs.delete(trash, true)
      }
    }

    override def abortStagedChanges(): Unit = {
      // Once the swap intent is published, the staged dir is OWNED by the
      // swap protocol: its content was complete at commit time, and a
      // crashed promote rename makes it (or the trash) the only surviving
      // copy. Deleting it here would let a later healSwap discard the
      // trash too — total loss. Heal instead (rolls the swap forward).
      if (fs.exists(swapIntent(ident))) healSwap(ident)
      else fs.delete(stagingDir, true)
    }
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` / `DROP COLUMN` / `RENAME COLUMN` /
    * `ALTER COLUMN ... COMMENT`: ALL pure metadata — data files never
    * rewrite.
    *
    *   - ADD records the column in the schema sidecar; scans serve nulls
    *     until a write backs it (the reader's evolution null-fill path).
    *   - DROP / RENAME go through the column-mapping sidecar
    *     ([[GraftColumnMap]]): a rename re-labels old files' physical
    *     name to the new logical one at read time; a drop tombs the
    *     column's physical names so they never resolve again. Name reuse
    *     of dropped/renamed physical names is barred (the field-id-free
    *     soundness rule); hive-partition path columns are immovable
    *     (their name is the directory layout).
    *
    * Only nullable, top-level, appended columns are addable; everything
    * else is rejected with the reason. Scale note: an ALTER writes one or
    * two small sidecar files — no data rewrite, no metastore, O(1)
    * regardless of table size.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.namespace().mkString("."), ident.name())
    val dir = tableDir(ident)
    // ---- table constraints (ADD/DROP CONSTRAINT): sidecar metadata.
    // ADD validates the existing rows FIRST (an enforced CHECK that the
    // table already violates must fail the ALTER, not every later read);
    // Spark's own ResolveTableConstraints enforces the declared checks on
    // every subsequent write through this connector.
    val isStatsProp: TableChange => Boolean = {
      case sp: TableChange.SetProperty =>
        sp.property == "graft.bloomfilter" || sp.property == "graft.ndvsketch"
      case rp: TableChange.RemoveProperty =>
        rp.property == "graft.bloomfilter" || rp.property == "graft.ndvsketch"
      case _ => false
    }
    val (statsPropChanges, rest) = changes.partition(isStatsProp)
    val (constraintChanges, schemaChanges) = rest.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    var checks: Seq[GraftCatalog.CheckSpec] = checksOf(dir)
    constraintChanges.foreach {
      case add: TableChange.AddConstraint =>
        val spec = GraftCatalog.toCheckSpec(add.constraint())
        require(!checks.exists(_._1.equalsIgnoreCase(spec._1)),
          s"graft: constraint '${spec._1}' already exists")
        if (spec._3 && hasData(dir)) {
          val spark = SparkSession.active
          val violations = spark.read.format("graft")
            .schema(currentSchema(dir)).load(dir.toString)
            .filter(s"NOT (${spec._2})").limit(1).count()
          require(violations == 0,
            s"graft: cannot add CHECK constraint '${spec._1}' — existing rows " +
              s"violate (${spec._2})")
        }
        checks = checks :+ spec
      case drop: TableChange.DropConstraint =>
        val present = checks.exists(_._1.equalsIgnoreCase(drop.name()))
        require(present || drop.ifExists(),
          s"graft: constraint '${drop.name()}' does not exist")
        checks = checks.filterNot(_._1.equalsIgnoreCase(drop.name()))
      case _ => ()
    }
    // DROP/RENAME COLUMN are metadata-only through the column-mapping
    // sidecar (GraftColumnMap): files stay immutable, the mapping re-labels
    // or tombs their physical names. Mutated through the fold below.
    var mapping = GraftColumnMap.read(fs, dir)
    var mappingChanged = false
    val renamePairs = scala.collection.mutable.Map.empty[String, String] // oldLower -> new
    val droppedNow = scala.collection.mutable.Set.empty[String] // lower
    lazy val partCols: Seq[String] = (GraftUtil.listDataFiles(dir.toString, conf)
      .flatMap(f => GraftUtil.partitionSegments(dir, f.getPath).map(_._1)) ++
      // DECLARED partition columns are immovable even before any data file
      // backs them — the declaration is the directory layout to come.
      // Transform specs protect their SOURCE column (dropping/renaming/
      // widening `ts` under a days(ts) layout would orphan the derivation;
      // widening a bucket source would change the hash)
      (if (sidecarExists(dir))
        sidecarContent(dir)._2.map(GraftPartTransform.parse(_).src)
      else Seq.empty)).distinct
    // does ANY data file's footer carry one of these physical names? A
    // never-backed column (ALTER ADD, never written — or every generation
    // rewritten since a rename) need not be tombed: no bytes exist to
    // resurrect, so a typo'd ADD can be dropped and re-added freely.
    // Capped footer sweep (cached 64KiB tail reads); above the cap the
    // answer is conservatively "yes" — the tomb is always SOUND.
    def anyFileCarries(namesLower: Set[String]): Boolean = {
      val files = GraftUtil.listDataFiles(dir.toString, conf)
      if (files.size > 256) return true
      files.exists { f =>
        val in = new HadoopSeekableInput(GraftFs.get(f.getPath, conf), f.getPath, f.getLen)
        try GraftFooterCache.schemaOf(
            GraftFooterCache.footerOf(in, f.getPath.toString, f.getLen).schemaJson)
          .fieldNames.exists(n => namesLower.contains(n.toLowerCase))
        finally in.close()
      }
    }
    def aliasEntryOf(logical: String): Option[(String, Seq[String])] =
      mapping.aliases.find(_._1.equalsIgnoreCase(logical))
    // the name-reuse bar that keeps name-based per-file resolution sound
    // without field-ids: a name that may still label bytes in some file
    // (dropped, or the physical source of a rename) can never come back
    def requireUnoccupied(name: String, what: String): Unit = {
      require(!mapping.occupiedLower.contains(name.toLowerCase),
        s"graft: cannot $what '$name' — that name still labels data of a " +
          "previously dropped or renamed column inside immutable files, and " +
          "reusing it would resurrect those bytes. Pick a different name, or " +
          "migrate via CREATE TABLE ... AS SELECT to rewrite the files")
      // DERIVED transform dir names are reserved too: a column named
      // `ts_day` beside a days(ts) layout would make the scan's
      // dir-pruning misread the derived dir values as the column's own
      // (CREATE validates this; ALTER must as well)
      lazy val derivedDirs = (if (sidecarExists(dir))
        sidecarContent(dir)._2.map(GraftPartTransform.parse)
      else Seq.empty).filterNot(_.isIdentity).map(_.dirName.toLowerCase)
      require(!derivedDirs.contains(name.toLowerCase),
        s"graft: cannot $what '$name' — it collides with a derived " +
          "partition directory name of the table's transform layout")
    }
    val updated = schemaChanges.foldLeft(currentSchema(dir)) { (sch, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            "graft: ALTER TABLE ADD COLUMN supports top-level columns only — " +
              s"'${add.fieldNames().mkString(".")}' adds a nested field inside an " +
              "existing column, which would require rewriting immutable data files")
          val colName = add.fieldNames()(0)
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(colName)),
            s"graft: column '$colName' already exists")
          requireUnoccupied(colName, "re-add column")
          require(add.isNullable,
            s"graft: added column '$colName' must be nullable — existing rows " +
              "have no values for it")
          require(add.position() == null,
            "graft: ADD COLUMN ... FIRST/AFTER is not supported — new columns " +
              "append (file leaves are position-stable)")
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
          if (add.comment() != null) mb.putString("comment", add.comment())
          // ADD COLUMN ... DEFAULT: metadata-only. The reader serves the
          // default at fill time for files predating the column (extend of
          // the evolution null-fill); the standard CURRENT/EXISTS_DEFAULT
          // keys make Spark's own INSERT-side resolution work; the internal
          // rendering (GraftSchema.DefaultKey) is what executors decode
          // without a session. Constant literals only — the analyzer has
          // already folded expressions like CURRENT_DATE to a value.
          Option(add.defaultValue()).foreach { dv =>
            val lit = dv.getValue()
            require(lit != null,
              s"graft: DEFAULT for column '$colName' must fold to a constant")
            require(GraftSchema.defaultSupported(add.dataType()),
              s"graft: DEFAULT on type ${add.dataType().sql} is not supported — " +
                "atomic types with a lossless literal rendering only")
            // the declared value must already be of the column's type
            // (Spark casts at analysis); a null default is just the
            // nullable evolution column, record nothing
            if (lit.value() != null) {
              val rendered = GraftSchema.defaultRender(
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToCatalyst(lit.value()), add.dataType())
              // round-trip check at DECLARE time, not first read
              GraftSchema.defaultValueOf(rendered, add.dataType())
              mb.putString(GraftSchema.DefaultKey, rendered)
              val sql = Option(dv.getSql).getOrElse(
                org.apache.spark.sql.catalyst.expressions.Literal(
                  GraftSchema.defaultValueOf(rendered, add.dataType()),
                  add.dataType()).sql)
              mb.putString("CURRENT_DEFAULT", sql)
              mb.putString("EXISTS_DEFAULT", sql)
            }
          }
          sch.add(org.apache.spark.sql.types.StructField(
            colName, add.dataType(), nullable = true, mb.build()))
        case upd: TableChange.UpdateColumnType =>
          // metadata-only TYPE WIDENING: the sidecar declares the wider
          // type; files stay immutable (old ones decode through a widening
          // cast at fill time — GraftSchema.widens documents the sound
          // set: integral up-widening, float->double, same-scale decimal
          // precision growth within one storage lane)
          require(upd.fieldNames().length == 1,
            "graft: ALTER COLUMN ... TYPE supports top-level columns only — " +
              s"'${upd.fieldNames().mkString(".")}' targets a nested field")
          val colName = upd.fieldNames()(0)
          val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
          require(idx >= 0, s"graft: column '$colName' does not exist")
          val f = sch.fields(idx)
          require(GraftSchema.widens(f.dataType, upd.newDataType()),
            s"graft: cannot change column '$colName' from ${f.dataType.sql} to " +
              s"${upd.newDataType().sql} — data files are immutable, so only " +
              "lossless widenings whose stats domain is unchanged are " +
              "metadata-only (byte/short/int -> wider integral, " +
              "float -> double, decimal precision growth at the same scale " +
              "within one storage lane); anything else migrates via " +
              "CREATE TABLE ... AS SELECT")
          require(!partCols.exists(_.equalsIgnoreCase(colName)),
            s"graft: cannot widen partition column '$colName' — its values " +
              "are rendered into the directory layout")
          StructType(sch.fields.updated(idx, f.copy(dataType = upd.newDataType())))
        case com: TableChange.UpdateColumnComment =>
          // pure metadata, like ADD COLUMN: the comment lands in the
          // sidecar; data files are untouched (footers carry no metadata,
          // and currentSchema re-applies sidecar metadata on every read)
          require(com.fieldNames().length == 1,
            "graft: ALTER COLUMN ... COMMENT supports top-level columns only — " +
              s"'${com.fieldNames().mkString(".")}' targets a nested field")
          val colName = com.fieldNames()(0)
          val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
          require(idx >= 0, s"graft: column '$colName' does not exist")
          val f = sch.fields(idx)
          val meta = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString("comment", com.newComment()).build()
          StructType(sch.fields.updated(idx, f.copy(metadata = meta)))
        case drop: TableChange.DeleteColumn =>
          // metadata-only: the column's physical names (logical + every
          // historical alias) enter the dropped set; files are untouched
          // and the scan never fetches unprojected leaves, so the dead
          // bytes cost no read IO. Row-level removal remains DELETE FROM.
          require(drop.fieldNames().length == 1,
            "graft: ALTER TABLE DROP COLUMN supports top-level columns only — " +
              s"'${drop.fieldNames().mkString(".")}' targets a nested field, which " +
              "would require rewriting immutable data files")
          val colName = drop.fieldNames()(0)
          val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
          if (idx < 0) {
            require(drop.ifExists(), s"graft: column '$colName' does not exist")
            sch
          } else {
            val f = sch.fields(idx)
            require(sch.fields.length > 1,
              s"graft: cannot drop '${f.name}' — it is the table's only column")
            require(!partCols.exists(_.equalsIgnoreCase(f.name)),
              s"graft: cannot drop hive-partition path column '${f.name}' — its " +
                "name is baked into the directory layout; re-layout via " +
                "GraftMaintenance.compact(partitionBy = ...) first")
            val (entryKey, aliases) = aliasEntryOf(f.name)
              .map { case (k, v) => (Some(k), v) }.getOrElse((None, Seq.empty))
            val physNames = (aliases :+ f.name).map(_.toLowerCase).toSet
            val withoutEntry =
              entryKey.map(mapping.aliases - _).getOrElse(mapping.aliases)
            mapping =
              if (anyFileCarries(physNames))
                GraftColumnMap.Mapping(withoutEntry,
                  mapping.dropped ++ aliases :+ f.name)
              else // never backed: nothing to resurrect, the name stays free
                GraftColumnMap.Mapping(withoutEntry, mapping.dropped)
            mappingChanged = true
            droppedNow += f.name.toLowerCase
            StructType(sch.fields.patch(idx, Nil, 1))
          }
        case ren: TableChange.RenameColumn =>
          // metadata-only: files written under the old name keep it in
          // their footers; the mapping records it as an alias of the new
          // logical name, and per-file resolution re-labels on read. Files
          // written (or rewritten by compaction/DML) after the rename
          // carry the new name directly.
          require(ren.fieldNames().length == 1,
            "graft: ALTER TABLE RENAME COLUMN supports top-level columns only — " +
              s"'${ren.fieldNames().mkString(".")}' targets a nested field, which " +
              "would require rewriting immutable data files")
          val colName = ren.fieldNames()(0)
          val newName = ren.newName()
          val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
          require(idx >= 0, s"graft: column '$colName' does not exist")
          val f = sch.fields(idx)
          require(!newName.equalsIgnoreCase(f.name),
            s"graft: RENAME COLUMN '$colName' -> '$newName' is a no-op rename " +
              "differing at most in case, which footer name matching cannot express")
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(newName)),
            s"graft: cannot rename '${f.name}' to '$newName' — that column already exists")
          requireUnoccupied(newName, "rename a column to")
          require(!partCols.exists(_.equalsIgnoreCase(f.name)),
            s"graft: cannot rename hive-partition path column '${f.name}' — its " +
              "name is baked into the directory layout; re-layout via " +
              "GraftMaintenance.compact(partitionBy = ...) first")
          val (entryKey, priorAliases) = aliasEntryOf(f.name)
            .map { case (k, v) => (Some(k), v) }.getOrElse((None, Seq.empty))
          // only names that actually label bytes in some file become
          // aliases — renaming a never-backed evolution column is a pure
          // sidecar rename and leaves the old name free (footer reads are
          // cached; the capped check degrades to keep-the-alias, sound)
          val backedAliases = (priorAliases :+ f.name)
            .filter(n => anyFileCarries(Set(n.toLowerCase)))
          val base = entryKey.map(mapping.aliases - _).getOrElse(mapping.aliases)
          mapping = GraftColumnMap.Mapping(
            if (backedAliases.nonEmpty) base + (newName -> backedAliases) else base,
            mapping.dropped)
          mappingChanged = true
          renamePairs(f.name.toLowerCase) = newName
          StructType(sch.fields.updated(idx, f.copy(name = newName)))
        case sd: TableChange.UpdateColumnDefaultValue =>
          // ALTER COLUMN ... SET/DROP DEFAULT: pure metadata. Only the
          // CURRENT_DEFAULT (what future inserts omit-fill) changes —
          // the SQL-standard contract: existing rows keep their values,
          // so EXISTS_DEFAULT and the internal fill rendering
          // (GraftSchema.DefaultKey) stay untouched; files written
          // before an ADD COLUMN keep serving the ORIGINAL declared
          // default, never the new one.
          require(sd.fieldNames().length == 1,
            "graft: SET DEFAULT supports top-level columns only")
          val colName = sd.fieldNames()(0)
          val idx = sch.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
          require(idx >= 0, s"graft: column '$colName' does not exist")
          val f = sch.fields(idx)
          val dv = sd.newCurrentDefault()
          val dropIt = dv == null ||
            (dv.getExpression == null &&
              (dv.getSql == null || dv.getSql.trim.isEmpty))
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          if (dropIt) mb.remove("CURRENT_DEFAULT")
          else {
            val lit = Option(dv.getExpression).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_] => l
            }
            require(lit.isDefined || Option(dv.getSql).exists(_.trim.nonEmpty),
              s"graft: DEFAULT for column '$colName' must fold to a constant")
            require(GraftSchema.defaultSupported(f.dataType),
              s"graft: DEFAULT on type ${f.dataType.sql} is not supported — " +
                "atomic types with a lossless literal rendering only")
            val sql = Option(dv.getSql).filter(_.trim.nonEmpty).getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToCatalyst(lit.get.value()), f.dataType).sql)
            mb.putString("CURRENT_DEFAULT", sql)
          }
          StructType(sch.fields.updated(idx, f.copy(metadata = mb.build())))
        case other =>
          throw new UnsupportedOperationException(
            s"graft: ALTER TABLE change ${other.getClass.getSimpleName} is not " +
              "supported — data files are immutable; ADD COLUMN(S), DROP COLUMN, " +
              "RENAME COLUMN and column comments are the metadata-only evolutions")
      }
    }
    // mapping BEFORE schema sidecar: a crash between the two leaves the
    // mapping live with a stale sidecar — currentSchema then surfaces the
    // old name as a null-backed evolution extra until the next ALTER, an
    // ugly but lossless window (the reverse order could briefly expose a
    // renamed column with NO readable data behind it)
    if (mappingChanged) {
      GraftColumnMap.write(fs, dir, mapping)
      // the whole-table sort marker names columns: renames re-label it;
      // a dropped column truncates it there (files stay sorted on the
      // prefix BEFORE the dropped key, not past it)
      GraftSortMarker.read(fs, dir).foreach { cols =>
        val relabeled = cols.map(c => renamePairs.getOrElse(c.toLowerCase, c))
        val cut = relabeled.indexWhere(c => droppedNow.contains(c.toLowerCase))
        val next = if (cut < 0) relabeled else relabeled.take(cut)
        if (next != cols) {
          if (next.isEmpty) GraftSortMarker.clear(fs, dir)
          else GraftSortMarker.publish(fs, dir, next)
        }
      }
    }
    // ALTER overwrites a sidecar readers may depend on RIGHT NOW: publish
    // via tmp + rename so a crash mid-write can never leave a truncated
    // schema behind (createTable writes direct — there is nothing to lose)
    val tmp = new Path(dir, s"._graft_table.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    // declared partition/sort/cluster layouts survive every schema ALTER
    // (they live only in the sidecar — losing the partition layout would
    // silently downgrade INSERT OVERWRITE back to truncate; losing the
    // sort intent would let the next insert clear the sort marker)
    val (declaredParts, declaredSort, declaredCluster, bloom0, ndv0) =
      if (sidecarExists(dir)) {
        val json = sidecarJson(dir)
        val c = GraftCatalog.parseSidecar(json)
        val (b, n) = GraftCatalog.parseWriteProps(json)
        (c._2, c._3, c._4, b, n)
      } else (Seq.empty[String], Seq.empty[String], Seq.empty[String],
        Seq.empty[String], Seq.empty[String])
    // ALTER TABLE SET/UNSET TBLPROPERTIES on the per-page stats intent:
    // a SQL user's only way to opt an existing table into blooms/ndv
    // synopses. Applies to FUTURE writes only (files are immutable) —
    // re-encode existing files via compaction if back-filled stats are
    // needed.
    // RENAME COLUMN re-labels the declared stats columns the same way the
    // sort marker re-labels (the property tracks the column, not its old
    // name); DROP COLUMN silently retires its stats entries — rejecting
    // the ALTER over a property the user never touched would demand an
    // UNSET nobody can discover
    def relabel(cols: Seq[String]): Seq[String] = cols.flatMap { p =>
      val segs = p.split("\\.", 2)
      val head = segs(0)
      if (droppedNow.contains(head.toLowerCase)) scala.None
      else {
        val newHead = renamePairs.getOrElse(head.toLowerCase, head)
        Some(if (segs.length == 1) newHead else s"$newHead.${segs(1)}")
      }
    }
    var bloomCols = relabel(bloom0)
    var ndvCols = relabel(ndv0)
    statsPropChanges.foreach {
      case sp: TableChange.SetProperty =>
        val cols = sp.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (sp.property == "graft.bloomfilter") bloomCols = cols
        else ndvCols = cols
      case rp: TableChange.RemoveProperty =>
        if (rp.property == "graft.bloomfilter") bloomCols = Seq.empty
        else ndvCols = Seq.empty
      case _ => ()
    }
    GraftCatalog.validateWriteProps(updated, bloomCols, ndvCols)
    val rendered = GraftCatalog.renderSidecar(updated, declaredParts,
      declaredSort, declaredCluster, checks, bloomCols, ndvCols)
    val out = fs.create(tmp, true)
    try out.write(rendered.getBytes("UTF-8")) finally out.close()
    fs.delete(sidecar(dir), false)
    // a concurrent reader's crash-recovery promotion (sidecarSchema) can
    // steal this rename out from under us; a rename that "failed" because
    // the destination already holds THIS alter's exact content is a
    // success, not an error (mirroring sidecarSchema's own tolerance)
    val renamed = fs.rename(tmp, sidecar(dir)) || {
      fs.exists(sidecar(dir)) && {
        val in = fs.open(sidecar(dir))
        val now = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        now == rendered
      }
    }
    require(renamed,
      s"graft: failed to publish the altered schema sidecar for $ident")
    // failed prior ALTERs leave `.tmp-<uuid>` files behind, and
    // sidecarTmp's newest-first promotion could resurrect such a
    // never-committed schema after a later crash window — clear leftovers
    // once this publish is durable. AGE-GATED: a concurrent ALTER's
    // in-flight tmp (created moments ago, racing its own delete->rename
    // window) must not be swept out from under it — that would strand the
    // table with neither sidecar nor tmp; a genuinely stale tmp is
    // minutes-to-days old, an in-flight one lives milliseconds
    locally {
      val cutoff = System.currentTimeMillis() - 60 * 1000L
      fs.listStatus(dir)
        .filter(f => f.isFile &&
          f.getPath.getName.startsWith("._graft_table.json.tmp-") &&
          f.getModificationTime < cutoff)
        .foreach(f => fs.delete(f.getPath, false))
    }
    // the returned Table IS the post-ALTER table some callers keep using
    // in-statement: carry the declared layout through, or a follow-on
    // write against this object would lose the partition/sort intent
    new GraftTable(updated, dir.toString, partitionCols = declaredParts,
      sortCols = declaredSort, clusterCols = declaredCluster,
      checks = checks, viaCatalog = true,
      bloomCols = bloomCols, ndvCols = ndvCols)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    fs.delete(tableDir(ident), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        oldIdent.namespace().mkString("."), oldIdent.name())
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (newIdent.namespace() :+ newIdent.name()).toSeq)
    val dst = tableDir(newIdent)
    fs.mkdirs(dst.getParent)
    require(fs.rename(tableDir(oldIdent), dst),
      s"graft: rename ${oldIdent} -> ${newIdent} failed")
  }

  // ---- namespaces: plain directories under the warehouse ----

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory)
      // same exclusion as the nested overload: a table created with an
      // empty namespace (cat.t) lives directly under the warehouse root
      // and must not be listed as a namespace
      .filter(d => !hasData(d.getPath) && !sidecarExists(d.getPath))
      .map(d => Array(d.getPath.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val nsDir = resolved(namespace.toSeq)
    if (!fs.exists(nsDir)) throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    fs.listStatus(nsDir).filter(_.isDirectory)
      .filter(d => !hasData(d.getPath) && !sidecarExists(d.getPath))
      .map(d => namespace :+ d.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.forall(segmentValid) && fs.exists(resolved(namespace.toSeq)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    fs.mkdirs(resolved(namespace.toSeq))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft: namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val nsDir = resolved(namespace.toSeq)
    if (!fs.exists(nsDir)) return false
    if (!cascade && fs.listStatus(nsDir).nonEmpty)
      throw new IllegalStateException(
        s"graft: namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(nsDir, true)
  }
}

object GraftCatalog {
  import org.apache.spark.sql.types._

  /** Structural type equality that ignores nullability at EVERY level
    * (top-level field nullable, array containsNull, map valueContainsNull,
    * struct field nullable) — writes legally record the query output's
    * tighter nullability in footers, which must not read as type drift.
    */
  private[spark] def sameTypeIgnoreNullability(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoreNullability(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoreNullability(x.keyType, y.keyType) &&
          sameTypeIgnoreNullability(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name && sameTypeIgnoreNullability(f.dataType, g.dataType)
          }
      case (x, y) => x == y
    }

  /** Declared TYPE WIDENINGS applied to a footer-inferred schema — the
    * overlay that keeps PATH reads (`spark.read.format("graft")`) and the
    * catalog seeing one schema after ALTER COLUMN ... TYPE: a directory
    * whose sidecar declares a wider type than an old file's footer serves
    * the wide type everywhere (fill-time cast), instead of path readers
    * tripping the drift check on mixed-width generations.
    */
  private[spark] def wideningsOverlay(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path, footer: StructType): StructType = {
    val sc = new org.apache.hadoop.fs.Path(tableDir, "_graft_table.json")
    if (!fs.exists(sc)) return footer
    val declared = try {
      val in = fs.open(sc)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      parseSidecar(json)._1
    } catch { case _: Exception => return footer } // unreadable: footer wins
    StructType(footer.fields.map { f =>
      declared.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(d) if GraftSchema.widens(f.dataType, d.dataType) =>
          f.copy(dataType = d.dataType)
        case _ => f
      }
    })
  }

  /** The declared partition-layout SPECS of a table dir (sidecar
    * `partitionCols`; empty when no sidecar / unpartitioned). What the
    * writer and the scan resolve transform layouts through — the specs
    * have no other durable home. */
  private[spark] def declaredPartSpecsOf(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): Seq[String] =
    sidecarJsonAt(fs, tableDir).map(parseSidecar(_)._2).getOrElse(Seq.empty)

  /** Declared (bloom paths, ndv columns) of a directory's sidecar — what
    * lets PATH writes (maintenance rewrites included: compaction writes
    * back into the table dir) inherit the table's per-page stats intent
    * instead of silently dropping blooms from every rewritten file. */
  private[spark] def declaredWritePropsOf(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): (Seq[String], Seq[String]) =
    sidecarJsonAt(fs, tableDir).map(parseWriteProps)
      .getOrElse((Seq.empty, Seq.empty))

  private[spark] def sidecarJsonAt(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): Option[String] = {
    val sc = new org.apache.hadoop.fs.Path(tableDir, "_graft_table.json")
    try {
      if (!fs.exists(sc)) scala.None
      else {
        val in = fs.open(sc)
        Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close())
      }
    } catch { case _: Exception => scala.None }
  }

  /** Sidecar body for a table declaration. Unpartitioned tables keep the
    * legacy bare-StructType json; PARTITIONED BY tables write the v2
    * envelope (the partition layout has no other durable home — footers
    * describe files, not the table). */
  /** One declared CHECK constraint: (name, predicate SQL, enforced). */
  type CheckSpec = (String, String, Boolean)

  private[spark] def renderSidecar(schema: StructType, partitionCols: Seq[String],
      sortCols: Seq[String] = Seq.empty, clusterCols: Seq[String] = Seq.empty,
      checks: Seq[CheckSpec] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      ndvCols: Seq[String] = Seq.empty): String =
    if (partitionCols.isEmpty && sortCols.isEmpty && clusterCols.isEmpty &&
        checks.isEmpty && bloomCols.isEmpty && ndvCols.isEmpty) schema.json
    else {
      import org.json4s.JsonDSL._
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        ("graftTable" -> 2) ~
          ("partitionCols" -> partitionCols) ~
          ("sortCols" -> sortCols) ~
          ("clusterCols" -> clusterCols) ~
          ("bloomCols" -> bloomCols) ~
          ("ndvCols" -> ndvCols) ~
          ("checks" -> checks.map { case (n, sql, enf) =>
            ("name" -> n) ~ ("sql" -> sql) ~ ("enforced" -> enf) }) ~
          ("schema" -> org.json4s.jackson.JsonMethods.parse(schema.json))))
    }

  /** Shared CREATE/ALTER validation of the declared per-page stats
    * properties: bloom paths must resolve to atomic leaves, ndv columns
    * to top-level string/integer fields — same plan-time posture as the
    * write options they mirror. */
  private[spark] def validateWriteProps(schema: StructType,
      bloomCols: Seq[String], ndvCols: Seq[String]): Unit = {
    bloomCols.foreach { pth =>
      require(GraftSchema.leafIndexOfPath(schema, pth).isDefined,
        s"graft: graft.bloomfilter path '$pth' does not resolve to an " +
          "atomic leaf of the table schema (use col, s.x, arr.element, " +
          "m.key, m.value)")
    }
    ndvCols.foreach(GraftWriteImpl.validateNdvColumn(schema, _))
  }

  /** Declared per-page stats intent of a sidecar body: (bloom leaf paths,
    * ndv synopsis columns) — TBLPROPERTIES ('graft.bloomfilter'=...,
    * 'graft.ndvsketch'=...), persisted so EVERY insert (pure-SQL INSERT
    * INTO included, which cannot pass write options) writes the stats the
    * table was declared with. Empty for legacy/undeclared sidecars. */
  private[spark] def parseWriteProps(json: String): (Seq[String], Seq[String]) = {
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    def strArr(field: String): Seq[String] = (parsed \ field) match {
      case org.json4s.JArray(vs) => vs.collect { case org.json4s.JString(x) => x }
      case _ => Seq.empty
    }
    parsed \ "graftTable" match {
      case org.json4s.JInt(_) => (strArr("bloomCols"), strArr("ndvCols"))
      case _ => (Seq.empty, Seq.empty)
    }
  }

  /** Narrow a connector Constraint to the CHECK shape we persist. PK /
    * FK / UNIQUE are rejected: they are unenforceable promises on a
    * file-format store, and recording them would feed the optimizer
    * assumptions nothing guarantees. */
  private[spark] def toCheckSpec(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : CheckSpec = c match {
    case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
      require(ck.predicateSql() != null && ck.predicateSql().nonEmpty,
        s"graft: CHECK constraint '${ck.name()}' carries no predicate SQL")
      (ck.name(), ck.predicateSql(), ck.enforced())
    case other => throw new UnsupportedOperationException(
      s"graft: only CHECK table constraints are supported — '${other.toDDL}' " +
        "cannot be enforced by a file-format store, and an unenforced " +
        "uniqueness/key promise would mislead the optimizer")
  }

  /** Declared CHECK constraints of a sidecar body (empty for legacy). */
  private[spark] def parseChecks(json: String): Seq[CheckSpec] = {
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    (parsed \ "checks") match {
      case org.json4s.JArray(vs) => vs.collect {
        case o: org.json4s.JObject =>
          val n = (o \ "name") match { case org.json4s.JString(s) => s; case _ => "" }
          val sql = (o \ "sql") match { case org.json4s.JString(s) => s; case _ => "" }
          val enf = (o \ "enforced") match {
            case org.json4s.JBool(b) => b; case _ => true }
          (n, sql, enf)
      }.filter(c => c._1.nonEmpty && c._2.nonEmpty)
      case _ => Seq.empty
    }
  }

  /** (schema, partitionCols, sortCols, clusterCols). */
  private[spark] def parseSidecar(
      json: String): (StructType, Seq[String], Seq[String], Seq[String]) = {
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    def strArr(field: String): Seq[String] = (parsed \ field) match {
      case org.json4s.JArray(vs) => vs.collect { case org.json4s.JString(s) => s }
      case _ => Seq.empty
    }
    parsed \ "graftTable" match {
      case org.json4s.JInt(_) =>
        val schemaJson = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(parsed \ "schema"))
        (DataType.fromJson(schemaJson).asInstanceOf[StructType],
          strArr("partitionCols"), strArr("sortCols"), strArr("clusterCols"))
      case _ => // legacy: the whole body is the StructType json
        (DataType.fromJson(json).asInstanceOf[StructType], Seq.empty, Seq.empty, Seq.empty)
    }
  }
}
