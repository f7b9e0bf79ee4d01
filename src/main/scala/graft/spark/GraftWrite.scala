package graft.spark

import graft.format._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

/** How the batch commit treats pre-existing data. */
private[spark] sealed trait GraftWriteMode
private[spark] object GraftWriteMode {
  /** Plain append: old files untouched. */
  case object Append extends GraftWriteMode
  /** Whole-table overwrite: every pre-existing file retired at commit. */
  case object Truncate extends GraftWriteMode
  /** Predicate overwrite (`replaceWhere` / static `INSERT OVERWRITE
    * PARTITION`): after the new files commit, rows matching the predicate
    * are deleted from the PRE-COMMIT snapshot through the deleteWhere
    * rewrite scaffold (file-scoped survivor rewrites, manifest heal,
    * optional change-feed pre-images). */
  final case class ReplaceWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]) extends GraftWriteMode
  /** Dynamic partition overwrite: after the new files commit, every
    * pre-commit file in a partition directory this commit wrote to is
    * retired whole — partitions the incoming data does not touch are left
    * byte-identical. */
  case object DynamicPartitions extends GraftWriteMode
}

/** DSv2 write path: per-task DataWriter buffers rows columnar, encodes one
  * chunk per file, rolls files at maxRowsPerFile (the reference's
  * one-row-group-per-file constraint, `/root/reference/src/write/writer.rs:108-112`,
  * handled by rolling — SURVEY.md §7.4).
  */
final class GraftWriteBuilder(info: LogicalWriteInfo, path: String,
    tablePartitionBy: Seq[String] = Seq.empty,
    tableSortBy: Seq[String] = Seq.empty,
    tableClusterBy: Seq[String] = Seq.empty,
    viaCatalog: Boolean = false,
    tableBloomFilter: Seq[String] = Seq.empty,
    tableNdvSketch: Seq[String] = Seq.empty)
    extends WriteBuilder with SupportsTruncate
    with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: GraftWriteMode = GraftWriteMode.Append

  override def truncate(): WriteBuilder = { mode = GraftWriteMode.Truncate; this }

  /** `replaceWhere`: `df.writeTo(t).overwrite(cond)` / static
    * `INSERT OVERWRITE ... PARTITION (p = v)`. An all-true predicate is a
    * truncate. Every filter must be translatable back to a Column (the
    * deleteWhere scaffold executes it); untranslatable ones reject the
    * plan loudly HERE rather than deleting a superset or subset. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    mode =
      if (filters.isEmpty ||
          filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
        GraftWriteMode.Truncate
      else {
        filters.foreach { f =>
          if (GraftTable.filterToColumn(f).isEmpty)
            throw new UnsupportedOperationException(
              s"graft: overwrite condition $f is not translatable to a " +
                "row-level delete predicate — rewrite the condition or use " +
                "truncate/dynamic-partition overwrite")
        }
        GraftWriteMode.ReplaceWhere(filters)
      }
    this
  }

  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` /
    * `df.writeTo(t).overwritePartitions()`. Validated at build time: the
    * write must actually partition its output (`partitionby` option or
    * the catalog table's declared layout), or "replace the partitions I
    * wrote" degenerates to replacing nothing. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = GraftWriteMode.DynamicPartitions
    this
  }

  override def build(): Write = {
    val parsed0 = GraftWriteOptions.fromOptions(info.options)
    // canonicalize partition specs on the DRIVER: a bare entry that is
    // the derived dir name of a declared transform (what the maintenance
    // rewrites pass after inferring the layout from directory names)
    // resolves through the sidecar to its full spec, so executors only
    // ever parse self-contained canonical specs
    val hadoop = SparkSession.active.sessionState.newHadoopConf()
    lazy val sidecarSpecs: Seq[PartTransform] = {
      val dir = new org.apache.hadoop.fs.Path(path)
      GraftCatalog.declaredPartSpecsOf(GraftFs.get(dir, hadoop), dir)
        .map(GraftPartTransform.parse)
    }
    // PATH writes inherit the declared per-page stats intent from the
    // sidecar (a maintenance rewrite that compacts a bloomy table back
    // into its own dir must not strip the blooms the table declared)
    lazy val sidecarWriteProps: (Seq[String], Seq[String]) = {
      val dir = new org.apache.hadoop.fs.Path(path)
      GraftCatalog.declaredWritePropsOf(GraftFs.get(dir, hadoop), dir)
    }
    def canon(entries: Seq[String]): Seq[String] =
      if (entries.isEmpty) entries
      else entries.map(e =>
        GraftPartTransform.resolve(e, info.schema(), sidecarSpecs).spec)
    val parsed = parsed0.copy(partitionBy = canon(parsed0.partitionBy))
    // a path table that declared a TRANSFORM layout (minimal sidecar)
    // is governed by it exactly like a catalog table: appends inherit
    // it, and an explicit per-write option may only RESTATE it — a
    // different transform would silently poison derived-dir pruning
    // (reads derive filter literals through the SIDECAR's specs, not the
    // write's). Relayouts go through a fresh directory; refreshing the
    // sidecar at plan time would leave a crash window where a failed
    // overwrite strands old files under a new declaration.
    val tableSpecs = canon(
      if (tablePartitionBy.nonEmpty) tablePartitionBy
      else sidecarSpecs.map(_.spec))
    // a catalog table's declared layout partitions every write to it; an
    // explicit per-write option may only restate it (a conflicting layout
    // would scatter this commit's rows outside the declared directories)
    val opts0 =
      if (tableSpecs.isEmpty) parsed
      else if (parsed.partitionBy.isEmpty) parsed.copy(partitionBy = tableSpecs)
      else {
        require(parsed.partitionBy == tableSpecs,
          s"graft: write option partitionby=${parsed.partitionBy.mkString(",")} " +
            s"conflicts with the table's declared layout " +
            tableSpecs.mkString(",") +
            " — relayout via a new directory (or compact with an explicit " +
            "partitionby)")
        parsed
      }
    // declared SORT/CLUSTER intent (CREATE TABLE ... TBLPROPERTIES
    // 'graft.sortby'/'graft.clusterby'): every insert — SQL INSERT INTO
    // included, which cannot pass write options — sorts/clusters its
    // output, so the whole-table sort marker (and the top-N/ordering
    // pushdowns it enables) survives ordinary ingestion. Same restate-only
    // rule as the partition layout: an explicit conflicting option fails
    // loudly instead of silently invalidating the declared layout.
    def layered(declared: Seq[String], set: Seq[String], what: String): Seq[String] =
      if (declared.isEmpty) set
      else if (set.isEmpty) declared
      else {
        require(set == declared,
          s"graft: write option $what=${set.mkString(",")} conflicts with " +
            s"the table's declared $what ${declared.mkString(",")}")
        set
      }
    val opts = opts0.copy(
      sortBy = layered(tableSortBy, opts0.sortBy, "sortby"),
      clusterBy = layered(tableClusterBy, opts0.clusterBy, "clusterby"),
      // declared per-page stats intent (TBLPROPERTIES graft.bloomfilter /
      // graft.ndvsketch): the default every insert gets; an explicit
      // same-named write option WINS for that write (stats are per-file
      // metadata — a one-off override cannot poison the declared layout
      // the way a conflicting partitioning would)
      // catalog tables pass the declared stats explicitly (loadTable
      // already parsed the sidecar — don't re-read it per write job);
      // PATH writes fall back to the sidecar so maintenance rewrites
      // into the table dir inherit the declared intent
      bloomFilter =
        if (opts0.bloomFilter.nonEmpty) opts0.bloomFilter
        else if (viaCatalog || tableBloomFilter.nonEmpty) tableBloomFilter
        else sidecarWriteProps._1,
      ndvSketch =
        if (opts0.ndvSketch.nonEmpty) opts0.ndvSketch
        else if (viaCatalog || tableNdvSketch.nonEmpty) tableNdvSketch
        else sidecarWriteProps._2)
    if (mode == GraftWriteMode.DynamicPartitions)
      require(opts.partitionBy.nonEmpty,
        "graft: dynamic partition overwrite needs a partitioned write — " +
          "set .option(\"partitionby\", ...) or declare the layout on the " +
          "catalog table")
    // validate the layout BEFORE publishing a path sidecar: a bad spec
    // (bucket(0), unknown column) must fail the write without leaving a
    // poisoned layout declaration behind for every later writer
    opts.partitionBy.foreach { spec =>
      GraftPartTransform.validate(GraftPartTransform.parse(spec), info.schema())
    }
    // transform write distribution needs the table's FunctionCatalog:
    // Spark resolves the clustered-distribution transform expressions
    // through the RELATION's catalog, which a path write doesn't carry —
    // its generic "transform expressions are not supported" error lands
    // mid-analysis with no hint. Fail here with the actual fix instead.
    // Identity layouts resolve everywhere and stay allowed.
    if (opts.distributeBy.contains("partition") && !viaCatalog &&
        opts.partitionBy.exists(s => !GraftPartTransform.parse(s).isIdentity))
      throw new IllegalArgumentException(
        "graft: distributeby=partition over a transform layout (" +
          opts.partitionBy.mkString(",") + ") requires a CATALOG table — " +
          "Spark resolves partition-transform expressions through the " +
          "table's FunctionCatalog, which path writes do not carry. Write " +
          "through a graft catalog table (spark.sql.catalog.<name>=" +
          "graft.spark.GraftCatalog), or pre-cluster the frame yourself " +
          "(df.repartition(<derived partition expression>)) and drop the " +
          "distributeby option")
    // a PATH-based transform write needs the layout recorded for later
    // readers/rewrites (catalog tables already have the sidecar): publish
    // a minimal one so the table stays self-describing (first writer
    // only; later writes restate-check against it above)
    if (tablePartitionBy.isEmpty && opts.partitionBy.exists(s =>
        !GraftPartTransform.parse(s).isIdentity)) {
      val dir = new org.apache.hadoop.fs.Path(path)
      GraftWriteBuilder.publishPathSidecar(GraftFs.get(dir, hadoop), dir,
        info.schema(), opts.partitionBy)
    }
    new GraftWriteImpl(info.schema(), path, opts, mode,
      new SerializableHadoopConf(hadoop), info.queryId())
  }
}

object GraftWriteBuilder {
  /** First-writer publish of a path table's minimal layout sidecar, with
    * commit arbitration: create(overwrite=false) means exactly ONE of any
    * concurrent first writers lands its layout; every other writer —
    * whether it lost the create race or saw the winner's sidecar appear
    * after its own (empty) layout read — re-reads the winner's specs and
    * must RESTATE them. Two first writers carrying DIFFERENT layouts would
    * otherwise mix directory schemes under one declaration and silently
    * poison derived-dir pruning.
    */
  private[spark] def publishPathSidecar(fs: FileSystem, dir: Path,
      schema: StructType, partitionBy: Seq[String]): Unit = {
    val sc = new Path(dir, "_graft_table.json")
    val body = GraftCatalog.renderSidecar(schema, partitionBy)
    fs.mkdirs(dir)
    // first-publish ARBITRATION rides the commit mutex: two racing first
    // writers serialize here, so exactly one observes "no sidecar" and
    // publishes — POSIX rename over an existing dest succeeds silently,
    // which without the lock let BOTH conflicting publishers think they
    // won (read-back verify only catches a rename landing before the
    // read). The held section is two tiny fs ops.
    val won = GraftTableLock.withLock(fs, dir,
        new org.apache.hadoop.conf.Configuration(false), "sidecar-publish",
        GraftTableLock.CommitLockName) {
      if (fs.exists(sc)) false
      else {
        // write-complete-then-rename: an observer can never read a
        // partially-written body (a direct create(overwrite=false) makes
        // the EMPTY file visible before its content, and a racing
        // identical-layout writer reading that empty body would
        // spuriously fail as a layout conflict)
        val tmp = new Path(dir, "._graft_table.json.pub-" +
          java.util.UUID.randomUUID().toString.take(8))
        val out = fs.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        val renamed = fs.rename(tmp, sc)
        if (!renamed) {
          fs.delete(tmp, false)
          // under the lock a failed rename with no standing sidecar is a
          // GENUINE fs fault — surface it, don't fabricate a "layout
          // conflict []" (or worse, silently skip the publish)
          if (!fs.exists(sc)) throw new java.io.IOException(
            s"graft: failed to publish the layout sidecar at $sc")
        }
        renamed
      }
    }
    if (!won) {
      // canonicalize the standing specs the same way the write's were
      // (source-column case folds to the schema's declared case)
      val winner = GraftCatalog.declaredPartSpecsOf(fs, dir)
        .map(e => GraftPartTransform.resolve(e, schema, Nil).spec)
      require(winner == partitionBy,
        s"graft: $dir already declares partition layout " +
          s"[${winner.mkString(",")}] (pre-existing sidecar, or a " +
          "concurrent first write won the publish race); this write's " +
          s"partitionby=${partitionBy.mkString(",")} conflicts — restate " +
          "the declared layout or use a new directory")
    }
  }
}

final case class GraftWriteOptions(
    writeOptions: WriteOptions,
    maxRowsPerFile: Int,
    partitionBy: Seq[String] = Seq.empty,
    sortBy: Seq[String] = Seq.empty,
    clusterBy: Seq[String] = Seq.empty,
    /** "partition" requests hash distribution on the derived partition
      * values before the write (see requiredDistribution). */
    distributeBy: Option[String] = None,
    /** leaf paths (`col`, `arr.element`, `m.key`, `m.value`, `s.x`) that get
      * per-page bloom filters — the equality-probe pruning layer for
      * UNSORTED data, where min/max zone maps are too wide to act; opt-in
      * per column like parquet's. Resolved to leaf indices against the full
      * write schema in the task writer.
      */
    bloomFilter: Seq[String] = Seq.empty,
    /** TOP-LEVEL string/integer columns that get a footer KMV ndv synopsis
      * (format v004) — the scan-free distinct-count estimate ANALYZE-style
      * maintenance reads from footers only (GraftNdv). Restricted to
      * top-level primitives because the hash is over the value's portable
      * rendering (decimal string / raw bytes); see KmvUtil.
      */
    ndvSketch: Seq[String] = Seq.empty,
    /** Deterministic suffix for this batch commit's manifest name. A commit
      * whose tag already exists in the manifest dir is a REPLAY (a crashed
      * caller re-running its idempotent append — merge's insert pass): the
      * staged files are dropped instead of renamed in, the same contract as
      * the streaming sink's epoch tags.
      */
    manifestTag: Option[String] = None,
    /** Overwrite modes only: publish the replaced rows to the table's
      * `_graft_changes` feed as delete pre-images (same contract as
      * `deleteWhere(changelog = true)`), so CDC consumers of a window
      * spanning the overwrite see it as delete+insert. Off by default —
      * it costs a read of every replaced row, which a metadata-only
      * partition swap otherwise avoids entirely.
      */
    changelog: Boolean = false,
    /** replaceWhere only: validate at write time that every incoming row
      * satisfies the overwrite predicate, failing the job loudly on a
      * violation (default). Off writes unchecked — the caller owns the
      * "rows match the replaced slice" contract, and a violation makes
      * the overwrite non-idempotent.
      */
    replaceWhereCheck: Boolean = true)

object GraftWriteOptions {
  def fromOptions(o: org.apache.spark.sql.util.CaseInsensitiveStringMap): GraftWriteOptions = {
    val compName = Option(o.get("compression")).map(_.toLowerCase)
    val hc = compName.contains("lz4hc")
    val codec = compName.map(n => if (n == "lz4hc") Codec.Lz4 else Codec.byName(n))
      .getOrElse(Codec.Lz4)
    val forced = Option(o.get("forcecodec")).map(Codec.byName)
    val families = Seq("int", "float", "binary", "bool").flatMap { fam =>
      Option(o.get(s"forcecodec.$fam")).map(n => fam -> Codec.byName(n))
    }.toMap
    GraftWriteOptions(
      WriteOptions(
        defaultCodec = if (Codec.isCommon(codec)) codec else Codec.Lz4,
        compressRatio = Option(o.get("compressratio")).map(_.toDouble).getOrElse(1.2),
        pageSize = Option(o.get("pagesize")).map { v =>
          val n = v.toInt
          require(n > 0, s"graft: pagesize must be positive, got $n")
          n
        }.getOrElse(8192),
        forcedCodec = if (forced.isDefined) forced else if (!Codec.isCommon(codec)) Some(codec) else None,
        forcedFamily = families,
        adaptive = Option(o.get("adaptive")).map(_.toBoolean).getOrElse(true),
        zstdLevel = Option(o.get("zstdlevel")).map(_.toInt).getOrElse(3),
        sampledChooser = Option(o.get("chooser")).forall(_ != "analytic"),
        lz4hc = hc,
        bloomBytes = Option(o.get("bloombytes")).map { s =>
          val b = s.toInt
          require(b >= 64 && b <= (1 << 20) && Integer.bitCount(b) == 1,
            s"graft: bloombytes must be a power of two in [64, 1M], got $b")
          b
        }.getOrElse(16384),
        ndvK = Option(o.get("ndvk")).map { s =>
          val k = s.toInt
          require(k >= 16 && k <= 4096, s"graft: ndvk must be in [16, 4096], got $k")
          k
        }.getOrElse(256)),
      maxRowsPerFile = Option(o.get("maxrowsperfile")).map { v =>
        val n = v.toInt
        require(n > 0, s"graft: maxrowsperfile must be positive, got $n")
        n
      }.getOrElse(1 << 20),
      // paren-aware split: `bucket(16,id)` is ONE spec, not two
      partitionBy = Option(o.get("partitionby"))
        .map(GraftPartTransform.splitSpecs).getOrElse(Seq.empty),
      sortBy = Option(o.get("sortby")).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty),
      clusterBy = Option(o.get("clusterby")).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty),
      distributeBy = Option(o.get("distributeby")).map(_.trim.toLowerCase)
        .orElse(try org.apache.spark.sql.SparkSession.active.conf
          .getOption("graft.write.distributeby").map(_.trim.toLowerCase)
        catch { case _: Exception => scala.None })
        .map { v =>
          require(v == "partition",
            s"graft: distributeby must be 'partition', got '$v'")
          v
        },
      bloomFilter = Option(o.get("bloomfilter")).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty),
      ndvSketch = Option(o.get("ndvsketch")).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty),
      manifestTag = Option(o.get("manifesttag")).map { t =>
        require(t.nonEmpty && !t.contains('/') && !t.contains('\n'),
          s"graft: manifesttag must be a plain name fragment, got '$t'")
        // the catchup/replacement tag namespaces change how every reader
        // treats the manifest — a user tag must not land in either
        require(!t.startsWith(GraftManifest.CatchupTag) &&
            !GraftManifest.isReplacement(s"0-$t"),
          s"graft: manifesttag '$t' collides with a reserved tag namespace")
        t
      },
      changelog = Option(o.get("changelog")).exists(_.toBoolean),
      replaceWhereCheck = Option(o.get("replacewherecheck")).forall(_.toBoolean))
  }
}

/** Layout-aware write: `.option("clusterby", "a,b")` hash-partitions rows by
  * the keys before writing (same keys land in the same files — co-located
  * joins, tight zone maps on the keys) and `.option("sortby", "a,b")` sorts
  * within each task (sortby alone range-partitions first, producing a
  * GLOBALLY sorted table — disjoint per-file zone-map ranges, the layout
  * that makes range predicates prune ~all pages). Spark inserts the
  * shuffle/sort via RequiresDistributionAndOrdering; the writer itself is
  * unchanged, so layout is declared, not hand-rolled.
  */
object GraftWriteImpl {
  /** ndvsketch columns must be TOP-LEVEL string/integer fields: the footer
    * synopsis hashes the value's portable rendering (decimal string / raw
    * bytes), which only those types define unambiguously across engines.
    * Validated at PLAN time on the driver (same posture as bloomfilter).
    */
  def validateNdvColumn(schema: StructType, p: String): Unit = {
    import org.apache.spark.sql.types._
    require(schema.fieldNames.contains(p),
      s"graft: ndvsketch column '$p' must be a top-level field of the write schema")
    val ok = schema(p).dataType match {
      case StringType | BinaryType | LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    require(ok, s"graft: ndvsketch column '$p' has type ${schema(p).dataType.simpleString} — " +
      "only string/binary and integer columns have a portable synopsis rendering")
  }
}

final class GraftWriteImpl(schema: StructType, path: String, opts: GraftWriteOptions,
    mode: GraftWriteMode, conf: SerializableHadoopConf, queryId: String = "")
    extends Write with RequiresDistributionAndOrdering {

  // validate partitionby / bloomfilter at PLAN time on the driver: a
  // typo'd column must fail before the job launches, not as N retried
  // task failures
  opts.partitionBy.foreach { spec =>
    GraftPartTransform.validate(GraftPartTransform.parse(spec), schema)
  }
  opts.bloomFilter.foreach { p =>
    require(GraftSchema.leafIndexOfPath(schema, p).isDefined,
      s"graft: bloomfilter path '$p' does not resolve to an atomic leaf " +
        s"of the write schema (use col, s.x, arr.element, m.key, m.value)")
  }
  opts.ndvSketch.foreach(GraftWriteImpl.validateNdvColumn(schema, _))
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  private def sortOrders(cols: Seq[String]): Array[SortOrder] =
    cols.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  override def requiredDistribution(): Distribution =
    if (opts.clusterBy.nonEmpty)
      Distributions.clustered(opts.clusterBy.map(Expressions.column).toArray[
        org.apache.spark.sql.connector.expressions.Expression])
    else if (opts.distributeBy.contains("partition") && opts.partitionBy.nonEmpty)
      // OPT-IN hash distribution on the DERIVED partition values
      // (.option("distributeby","partition") / session conf
      // graft.write.distributeby=partition): without it, an unsorted
      // write scatters every partition's rows across every task and the
      // file count explodes to tasks x partitions — the classic 100 TB
      // days(ts) ingest foot-gun (32k tiny files from 1000 tasks x 32
      // days). Clustered on the transform value, each partition's rows
      // land on one task -> one file per partition per roll. Costs one
      // shuffle, which is why it is opt-in, and AQE coalesces the
      // partition count (distribution is not strictly required).
      // Transform expressions resolve through the TABLE's
      // FunctionCatalog — catalog tables only (a PATH write of a
      // transform layout fails Spark's expression resolution with
      // "<transform> is not currently supported"); identity layouts
      // resolve everywhere.
      // distributeby=partition COMPOSES with sortby: partition-clustered
      // tasks, rows sorted within each (requiredOrdering below) — the
      // "distribute by day, sort by user" ingest shape. A bare sortby
      // keeps the globally-ordered distribution (disjoint per-file
      // zone-map ranges).
      Distributions.clustered(opts.partitionBy.map { s =>
        val pt = GraftPartTransform.parse(s)
        (if (pt.isIdentity) Expressions.column(pt.src)
         else GraftPartTransform.toV2(pt))
          : org.apache.spark.sql.connector.expressions.Expression
      }.toArray)
    else if (opts.sortBy.nonEmpty) Distributions.ordered(sortOrders(opts.sortBy))
    else Distributions.unspecified()

  // within-task sort: explicit sortby, else the cluster keys (clustered
  // files get sorted pages on their keys for free)
  override def requiredOrdering(): Array[SortOrder] =
    sortOrders(if (opts.sortBy.nonEmpty) opts.sortBy else opts.clusterBy)

  // layout is an optimization, not a correctness requirement: let AQE pick
  // partition counts / skip the shuffle when the data is already distributed
  override def distributionStrictlyRequired(): Boolean = false

  override def toBatch: BatchWrite = new GraftBatchWrite(schema, path, opts, mode, conf)

  /** Native streaming sink (`df.writeStream.format("graft")`), append mode.
    * Epoch commits are idempotent: data files carry deterministic
    * (queryId, epoch, partition, seq) names, so a replayed epoch re-stages
    * the same targets, and the epoch's manifest (tagged `q<id>e<epoch>`)
    * doubles as the commit marker — found by suffix, the replay just
    * discards its staged tmps. Complete/update modes are rejected: a file
    * sink can't atomically replace a table per epoch.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (mode != GraftWriteMode.Append) throw new UnsupportedOperationException(
      "graft: streaming sink supports append output mode only")
    new GraftStreamingWrite(schema, path, opts, conf, queryId)
  }
}

final class GraftStreamingWrite(schema: StructType, path: String, opts: GraftWriteOptions,
    conf: SerializableHadoopConf, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def qid: String = {
    val s = queryId.filter(_.isLetterOrDigit)
    if (s.isEmpty) "q0" else s.take(8)
  }
  private def epochTag(epochId: Long): String = s"q${qid}e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val dir = new Path(path)
    GraftFs.get(dir, conf.value).mkdirs(dir)
    new GraftStreamingWriterFactory(schema.json, path, opts, HadoopConfBroadcast(conf.value), qid)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val tableDir = new Path(path)
    val fs = GraftFs.get(tableDir, conf.value)
    // same commit arbitration as the batch path: the epoch publish
    // (marker clear, renames, manifest) linearizes against concurrent
    // batch-append commits on this table (maintenance runs concurrently
    // by design — snapshot-scoped)
    GraftTableLock.withLock(fs, tableDir, conf.value, "stream-commit",
      GraftTableLock.CommitLockName) {
      commitLocked(epochId, messages, fs, tableDir)
    }
  }

  private def commitLocked(epochId: Long, messages: Array[WriterCommitMessage],
      fs: FileSystem, tableDir: Path): Unit = {
    val tag = epochTag(epochId)
    if (GraftManifest.list(fs, tableDir).exists(_.endsWith("-" + tag))) {
      // replayed epoch: the previous attempt committed fully — drop restaged tmps
      abort(epochId, messages)
      return
    }
    val files = messages.toSeq.flatMap {
      case GraftCommitMessage(fl, _) => fl
      case _ => Seq.empty
    }
    def renameIn(tmp: Path, dst: Path): Unit =
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"graft: failed to rename $tmp to $dst")
    // A dst already in place means an earlier attempt of this epoch renamed
    // some files but crashed before publishing the manifest. A replayed
    // task's output need not be byte-identical to that attempt's (shuffle
    // fetch order changes row order, hence page lengths and rollFile splits),
    // so the REPLAY is made authoritative: stale epoch files it didn't
    // restage are deleted, and kept dsts are replaced by the restaged tmps.
    // Visible files == this attempt's staged files, so the staged byte
    // counts in the commit messages are the manifest truth.
    val replay = files.exists { case (_, dst, _) => fs.exists(new Path(dst)) }
    if (replay) {
      // qualified-path comparison: listed paths carry the fs scheme
      val dstSet = files.map { case (_, d, _) => fs.makeQualified(new Path(d)).toString }.toSet
      // file-name epoch token (differs from the manifest tag format)
      val token = "-" + f"q$qid-e$epochId%06d" + "-"
      GraftUtil.listDataFiles(path, conf.value)
        .map(_.getPath)
        .filter(p => p.getName.contains(token) &&
          !dstSet.contains(fs.makeQualified(p).toString))
        .foreach(fs.delete(_, false))
    }
    // clear the sort marker BEFORE any epoch file becomes visible (and only
    // when this epoch adds files): streaming appends are unsorted, and a
    // crash after the renames but before a late clear would leave a stale
    // whole-table sort guarantee over unsorted visible files — downstream
    // sort elimination would then return wrong results. The replayed-epoch
    // early return above needs no clear: its manifest can only exist if a
    // previous attempt got past this line.
    if (files.nonEmpty) GraftSortMarker.clear(fs, tableDir)
    files.foreach { case (tmp, dst, _) =>
      val dstP = new Path(dst)
      if (replay && fs.exists(dstP)) fs.delete(dstP, false)
      renameIn(new Path(tmp), dstP)
    }
    val baseStr = tableDir.toString
    val added = files.map { case (_, dst, len) =>
      val rel =
        if (dst.startsWith(baseStr + "/")) dst.substring(baseStr.length + 1)
        else new Path(dst).getName
      (rel, len)
    }
    GraftManifest.publish(fs, tableDir, added, tag = Some(tag))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftFs.get(new Path(path), conf.value)
    messages.foreach {
      case GraftCommitMessage(files, _) =>
        files.foreach { case (tmp, _, _) => fs.delete(new Path(tmp), false) }
      case _ =>
    }
  }
}

final class GraftBatchWrite(schema: StructType, path: String, opts: GraftWriteOptions,
    mode: GraftWriteMode, conf: SerializableHadoopConf) extends BatchWrite {

  private def doTruncate: Boolean = mode == GraftWriteMode.Truncate

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = GraftFs.get(dir, conf.value)
    fs.mkdirs(dir)
    // sweep staging leftovers of previously crashed jobs (their task aborts
    // never ran), including inside partition subdirs. AGE-GATED: another
    // job (a concurrent batch append, an in-flight streaming epoch) may be
    // staging tmps under this table RIGHT NOW, and deleting them would fail
    // its commit — only tmps old enough that their job must be dead are
    // swept; vacuum handles the rest on the operator's schedule.
    val sweepAge = conf.value.getLong("graft.write.tmpsweep.age.ms", 24L * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - sweepAge
    def sweep(d: Path): Unit = fs.listStatus(d).foreach { f =>
      val n = f.getPath.getName
      if (f.isFile && n.endsWith(".tmp") && n.contains(GraftUtil.Extension) &&
          f.getModificationTime < cutoff)
        fs.delete(f.getPath, false)
      else if (f.isDirectory && n.contains('='))
        sweep(f.getPath)
    }
    sweep(dir)
    // replaceWhere rows are VALIDATED against the predicate at write time
    // (tasks fail loudly on a violating row): a mis-derived source landing
    // rows outside the replaced slice would make the overwrite
    // non-idempotent — a re-run's delete phase never removes them. The
    // expression is pre-built HERE so an unresolvable filter fails the
    // job before any task launches; tasks rebuild from the filters.
    val replaceFilters = mode match {
      case GraftWriteMode.ReplaceWhere(filters) if opts.replaceWhereCheck =>
        require(GraftDataWriter.replacePredicate(schema, filters).isDefined,
          s"graft: replaceWhere condition ${filters.mkString(" AND ")} does " +
            "not resolve against the write schema — cannot validate " +
            "incoming rows (set .option(\"replacewherecheck\", \"false\") " +
            "to write unchecked)")
        filters
      case _ => Array.empty[org.apache.spark.sql.sources.Filter]
    }
    new GraftWriterFactory(schema.json, path, opts, HadoopConfBroadcast(conf.value),
      replaceFilters)
  }

  /** All-or-nothing swap: tasks only stage `.tmp` files (invisible to
    * readers, which list by extension); after every task has succeeded the
    * staged files are renamed in and THEN the old contents deleted, so a
    * crash mid-commit leaves old+new visible (duplicates, recoverable)
    * rather than an empty table. A failed or aborted overwrite leaves the
    * previous table intact.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val tableDir = new Path(path)
    val fs = GraftFs.get(tableDir, conf.value)
    // COMMIT ARBITRATION: the whole publish sequence (marker decision,
    // renames, manifest, retire phase) runs under the COMMIT mutex —
    // separate from the maintenance lock, so an hour-long compaction
    // never blocks ingest. Two unserialized committers interleave
    // observably — the proven hazard is the sort marker's
    // read-clear-republish: writer A (unsorted) clears it, writer B
    // (sorted, read `prior` before the clear) republishes a whole-table
    // sort guarantee over A's unsorted visible files, and every later
    // top-N pushdown silently returns wrong rows. The lock is
    // driver-side, once per JOB (milliseconds of fs ops against a job's
    // minutes) — task parallelism is untouched, so this costs nothing at
    // 1000-executor scale while making concurrent ingest well-defined:
    // commits linearize in lock order.
    //
    // LOCK ORDER is maintenance → commit, never the reverse: a
    // replaceWhere commit runs a maintenance delete inside, so it takes
    // the maintenance lock FIRST; compact's inner append (already
    // holding maintenance) then takes commit — consistent order, no ABBA
    // deadlock between an overwrite and a rewrite.
    // every non-APPEND mode retires pre-existing files, which races a
    // live rewrite the same way two rewrites race each other (a compact
    // racing a truncate could republish merged PRE-overwrite rows after
    // the retire — resurrection): those modes serialize with maintenance.
    // Plain appends — the frequent ingest path — take only the commit
    // mutex and never wait on an hour-long rewrite (compact's
    // snapshot-scoped delete is designed for concurrent appends).
    def locked(f: => Unit): Unit = mode match {
      case GraftWriteMode.Append =>
        GraftTableLock.withLock(fs, tableDir, conf.value, "commit",
          GraftTableLock.CommitLockName)(f)
      case _ =>
        GraftTableLock.withLock(fs, tableDir, conf.value, "overwrite") {
          // this is a DIRECT maintenance-lock acquisition, so the nested
          // GraftMaintenance ops (deleteWhereScoped / overwriteRetire) read
          // as inner and skip their own crashed-swap roll-forward — run it
          // here, or an overwrite planning from the twin-deduped view could
          // retire a twin and resurrect its shadowed original
          GraftMaintenance.rollForwardCrashedSwaps(path, conf.value, fs, tableDir)
          GraftTableLock.withLock(fs, tableDir, conf.value, "commit",
            GraftTableLock.CommitLockName)(f)
        }
    }
    locked { commitLocked(fs, tableDir, messages) }
  }

  private def commitLocked(fs: FileSystem, tableDir: Path,
      messages: Array[WriterCommitMessage]): Unit = {
    // a tagged commit that already published is a REPLAY of an idempotent
    // append (merge's insert pass re-run after a crash): drop the staged
    // tmps instead of renaming a second copy in
    opts.manifestTag.foreach { tag =>
      if (GraftManifest.list(fs, tableDir).exists(_.endsWith("-" + tag))) {
        abort(messages)
        return
      }
    }
    // RAW listing: a truncating overwrite's retire set must include a
    // crashed swap's shadowed original too (the twin-deduped view hides
    // it; deleting only the twin would un-shadow the original and leak
    // pre-overwrite rows into the truncated table)
    val preExisting = GraftUtil.listDataFilesRaw(path, conf.value)
    val oldFiles = if (doTruncate) preExisting.map(_.getPath) else Seq.empty
    // manifest entries are table-relative so partition subdir files resolve
    val baseStr = tableDir.toString
    val added = messages.toSeq.flatMap {
      case GraftCommitMessage(files, _) =>
        files.map { case (_, dst, len) =>
          val rel =
            if (dst.startsWith(baseStr + "/")) dst.substring(baseStr.length + 1)
            else new Path(dst).getName
          (rel, len)
        }
      case _ => Seq.empty
    }
    // sort marker: this commit's files are task-sorted on the effective
    // sort (requiredOrdering is ENFORCED by Spark for v2 writes — sortby,
    // else the cluster keys). The whole-table guarantee holds when the
    // table is exactly this commit (truncate, or it was empty before) or
    // every pre-existing file carried the identical marker; anything else
    // must CLEAR — and the clear happens BEFORE the renames make this
    // commit's files visible, so no crash window can leave a stale
    // whole-table guarantee over unsorted visible files (downstream sort
    // elimination returning wrong results). A zero-file commit leaves the
    // marker untouched: nothing changed.
    val effectiveSort = if (opts.sortBy.nonEmpty) opts.sortBy else opts.clusterBy
    val prior = GraftSortMarker.read(fs, tableDir)
    val wholeTable = doTruncate || preExisting.isEmpty
    val staysSorted =
      effectiveSort.nonEmpty && (wholeTable || prior.contains(effectiveSort))
    // a marker with DIFFERENT sort columns must also clear before the
    // renames even when this commit will re-publish (truncating overwrite
    // sorted on new columns): a crash between the renames and the final
    // publish would otherwise leave the old marker standing as a
    // whole-table guarantee over files sorted on other columns
    if (added.nonEmpty && (!staysSorted || prior.exists(_ != effectiveSort)))
      GraftSortMarker.clear(fs, tableDir)
    messages.foreach {
      case GraftCommitMessage(files, _) =>
        files.foreach { case (tmp, dst, _) =>
          if (!fs.rename(new Path(tmp), new Path(dst)))
            throw new java.io.IOException(s"graft: failed to rename $tmp to $dst")
        }
      case _ =>
    }
    // streaming manifest AFTER the data renames (every listed file is
    // visible) and BEFORE old-file deletion — a crash between the two leaves
    // old+new data plus an accurate manifest of the new files. A truncating
    // overwrite also resets the manifest history: stale manifests would
    // reference the files deleted below.
    val oldManifests =
      if (doTruncate) GraftManifest.list(fs, tableDir) else Seq.empty
    // ordinals register before a truncate retires the history: the old
    // versions become "expired", the overwrite's own commit takes the next
    // ordinal — VERSION AS OF numbering never reuses or shifts. The
    // generation SENTINEL then marks the wipe, so generation-scoped
    // consumers (merge's insert idempotency tag) never credit a commit
    // whose rows this truncate deleted.
    if (doTruncate && oldManifests.nonEmpty)
      GraftVersionLog.appendSentinel(fs, tableDir, "truncate") // syncs first
    GraftManifest.publish(fs, tableDir, added, tag = opts.manifestTag)
    oldManifests.foreach(n => fs.delete(new Path(GraftManifest.dir(tableDir), n), false))
    GraftUtil.deleteAll(fs, oldFiles)
    // a truncate retires EVERY old file — its deletion-vector sidecars go
    // with them, or the stale _graft_dv dir would pin the re-filled table
    // on the row-based masked-scan path (and decline pushdowns) forever
    if (doTruncate) fs.delete(GraftDv.dir(tableDir), true)
    if (added.nonEmpty && staysSorted)
      GraftSortMarker.publish(fs, tableDir, effectiveSort)
    // OVERWRITE delete phase, strictly after the new files and their
    // manifest are visible: a crash anywhere in it leaves old+new visible
    // (duplicates in the replaced slice — recoverable by re-running the
    // overwrite, whose fresh pre-commit snapshot treats this attempt's
    // files as old), never a window where the slice is silently empty.
    // Both paths scope the retirement to the PRE-COMMIT snapshot, so the
    // just-committed rows (which match the replace predicate / live in
    // the replaced partitions by construction) are never self-deleted.
    mode match {
      case GraftWriteMode.ReplaceWhere(filters) =>
        if (preExisting.nonEmpty) {
          val spark = SparkSession.active
          val pred = filters.flatMap(GraftTable.filterToColumn(_))
            .reduceLeft(_ && _) // translatability validated at plan time
          GraftMaintenance.deleteWhereScoped(spark, path, pred,
            changelog = opts.changelog,
            scope = preExisting.map(_.getPath.toString).toSet)
        }
      case GraftWriteMode.DynamicPartitions =>
        val touched = added.map(_._1).flatMap { rel =>
          val i = rel.lastIndexOf('/')
          if (i < 0) None else Some(rel.substring(0, i))
        }.toSet
        if (touched.nonEmpty && preExisting.nonEmpty) {
          def relDirOf(f: org.apache.hadoop.fs.FileStatus): String =
            GraftUtil.partitionSegments(tableDir, f.getPath)
              .map { case (k, v) => s"$k=${GraftUtil.escapePathValue(v)}" }
              .mkString("/")
          val victims = preExisting
            .filter(f => touched.contains(relDirOf(f)))
            .map(_.getPath.toString).toSet
          if (victims.nonEmpty) {
            val opHash = GraftManifest.md5Hex(
              "dynov|" + touched.toSeq.sorted.mkString(","), 4)
            GraftMaintenance.overwriteRetire(SparkSession.active, path,
              victims, changelog = opts.changelog, opHash = opHash)
          }
        }
      case _ => ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = GraftFs.get(new Path(path), conf.value)
    messages.foreach {
      case GraftCommitMessage(files, _) =>
        files.foreach { case (tmp, _, _) => fs.delete(new Path(tmp), false) }
      case _ =>
    }
  }
}

/** (staged tmp path, final path, byte length) per rolled file. */
final case class GraftCommitMessage(files: Seq[(String, String, Long)], rows: Long)
    extends WriterCommitMessage

final class GraftStreamingWriterFactory(schemaJson: String, path: String,
    opts: GraftWriteOptions, conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    qid: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schemaJson, path, opts, conf, partitionId, taskId,
      nameToken = Some(f"q$qid-e$epochId%06d"))
}

final class GraftWriterFactory(schemaJson: String, path: String, opts: GraftWriteOptions,
    conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    replaceFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schemaJson, path, opts, conf, partitionId, taskId,
      replaceFilters = replaceFilters)
}

object GraftDataWriter {
  /** Row-level predicate for the replaceWhere validation: the pushed
    * filters bound to the write schema (case-insensitive name resolution,
    * the catalog's posture) — None when any filter fails to bind.
    */
  def replacePredicate(schema: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]):
      Option[org.apache.spark.sql.catalyst.expressions.BasePredicate] = {
    import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, Predicate}
    if (filters.isEmpty) return None
    def toRef(name: String): Option[BoundReference] = {
      val i = schema.fieldNames.indexWhere(_ == name) match {
        case -1 => schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        case n => n
      }
      if (i < 0) None
      else Some(BoundReference(i, schema(i).dataType, schema(i).nullable))
    }
    val exprs = filters.toSeq.map(
      org.apache.spark.sql.catalyst.StructFilters.filterToExpression(_, toRef))
    if (exprs.exists(_.isEmpty)) None
    else Some(Predicate.create(exprs.flatten.reduce(And)))
  }
}

final class GraftDataWriter(schemaJson: String, path: String, opts: GraftWriteOptions,
    conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    partitionId: Int, taskId: Long,
    nameToken: Option[String] = None,
    replaceFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends DataWriter[InternalRow] {

  import org.apache.spark.sql.types._

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  // bloomfilter paths resolve against the FULL write schema (partition
  // columns stay in the data) to depth-first leaf indices — the same
  // ordering GraftFileWriter emits leaves in
  private val writeOpts: graft.format.WriteOptions = {
    val withBlooms =
      if (opts.bloomFilter.isEmpty) opts.writeOptions
      else opts.writeOptions.copy(bloomLeaves = opts.bloomFilter.map { p =>
        GraftSchema.leafIndexOfPath(schema, p).getOrElse(throw new IllegalArgumentException(
          s"graft: bloomfilter path '$p' does not resolve to an atomic leaf " +
            s"of the write schema (use col, s.x, arr.element, m.key, m.value)"))
      }.toSet)
    if (opts.ndvSketch.isEmpty) withBlooms
    else withBlooms.copy(ndvLeaves = opts.ndvSketch.map { p =>
      GraftWriteImpl.validateNdvColumn(schema, p)
      GraftSchema.leafIndexOfPath(schema, p).get
    }.toSet)
  }
  private val dir = new Path(path)
  private val fs: FileSystem = GraftFs.get(dir, conf.value.value)
  // batch writes use a random token (concurrent jobs never collide);
  // streaming passes a deterministic (queryId, epoch) token so epoch
  // replays re-stage the SAME final names (idempotent epoch commit)
  private val uuid = nameToken.getOrElse(java.util.UUID.randomUUID().toString.take(8))

  // hive-style layout: .option("partitionby", "a,b") routes each row into a
  // `a=x/b=y/` subdir (values escaped); transform specs (`days(ts)`,
  // `bucket(16,id)`) route into DERIVED-value subdirs (`ts_day=.../`).
  // Source columns STAY in the data — constant-ish per file, they cost
  // ~nothing (OneValue/RLE pages) and keep every file self-describing;
  // the subdirs are a directory-level zone map the scan prunes on before
  // any footer IO.
  private val partTx: Array[(PartTransform, Int)] =
    opts.partitionBy.map { spec =>
      val pt = GraftPartTransform.parse(spec)
      (pt, schema.fieldIndex(pt.src))
    }.toArray

  private def partitionDirOf(row: InternalRow): String =
    partTx.map { case (pt, i) =>
      val dt = schema.fields(i).dataType
      val v =
        if (row.isNullAt(i)) null
        else GraftPartTransform.deriveLogical(pt, dt, row.get(i, dt))
      s"${pt.dirName}=${GraftUtil.escapePathValue(v)}"
    }.mkString("/")

  /** Buffered rows + rolling state for one output directory. */
  private final class PartState(val relDir: String, seq0: Int = 0) {
    val appenders: Array[FieldAppender] =
      schema.fields.map(f => FieldAppender(f.dataType, f.nullable))
    var rowsInFile = 0
    var fileSeq = seq0
  }

  private val parts = scala.collection.mutable.LinkedHashMap[String, PartState]()
  // rolled-file sequence numbers survive state eviction (names must stay
  // unique per (task, dir) across the saturation flushes below)
  private val fileSeqs = scala.collection.mutable.HashMap[String, Int]()
  private var totalRows = 0L
  private var buffered = 0L // rows held across ALL partition states
  private val committed = ArrayBuffer[(Path, Path, Long)]() // (tmp, final, bytes)
  // every tmp ever created — abort() must also reap a file whose write
  // failed MIDWAY (created on disk, never reached `committed`); on a
  // streaming-only table no later batch sweep would ever clean it up
  private val staged = ArrayBuffer[Path]()

  // replaceWhere validation (plan-time pre-checked, so .get is safe): a
  // row the predicate rejects — including a NULL evaluation, which the
  // delete phase's re-run would equally never match — fails the task
  private val replacePred =
    if (replaceFilters.isEmpty) null
    else GraftDataWriter.replacePredicate(schema, replaceFilters).get

  override def write(row: InternalRow): Unit = {
    if (replacePred != null && !replacePred.eval(row))
      throw new IllegalArgumentException(
        "graft: replaceWhere overwrite received a row that does not " +
          "satisfy the replace predicate — such rows would survive a " +
          "re-run's delete phase, making the overwrite non-idempotent " +
          "(set .option(\"replacewherecheck\", \"false\") to write unchecked)")
    val key = if (partTx.isEmpty) "" else partitionDirOf(row)
    val st = parts.getOrElseUpdate(key,
      new PartState(key, fileSeqs.getOrElse(key, 0)))
    var i = 0
    while (i < st.appenders.length) { st.appenders(i).appendFrom(row, i); i += 1 }
    st.rowsInFile += 1
    buffered += 1
    if (st.rowsInFile >= opts.maxRowsPerFile) rollFile(st)
    // high-cardinality partition keys must not accumulate one full buffer
    // per key: when the AGGREGATE buffered row count reaches one file's
    // worth, flush EVERY state and evict them — one O(#states) pass per
    // saturation (not a per-row maxBy scan), and eviction actually frees
    // the per-key builders, whose backing arrays survive clear() and would
    // otherwise pin memory for every key the task ever saw. The hot
    // single-partition path keeps its state (and buffer capacity) across
    // rolls — eviction only happens under key-cardinality pressure.
    else if (buffered >= opts.maxRowsPerFile) {
      parts.values.foreach(rollFile)
      parts.foreach { case (k, ps) => fileSeqs(k) = ps.fileSeq }
      parts.clear()
    }
  }

  private def rollFile(st: PartState): Unit = {
    if (st.rowsInFile == 0) return
    val name = f"part-$partitionId%05d-$uuid-${st.fileSeq}%04d${GraftUtil.Extension}"
    val outDir = if (st.relDir.isEmpty) dir else new Path(dir, st.relDir)
    if (st.relDir.nonEmpty) fs.mkdirs(outDir)
    // tmp is ATTEMPT-unique (taskId differs per attempt) even when the final
    // name is deterministic (streaming): concurrent attempts of one task —
    // speculation, or a zombie racing its retry — must not truncate each
    // other's staged file or have abort() delete the survivor's tmp. The
    // driver-side commit rename resolves which attempt's file wins.
    val tmp = new Path(outDir, s".$name.a$taskId.tmp")
    staged += tmp
    val counting = new CountingOutputStream(fs.create(tmp, true))
    val out = new java.io.BufferedOutputStream(counting, 1 << 16)
    try {
      val w = new GraftFileWriter(out, schemaJson, writeOpts)
      w.start()
      w.writeChunk(st.appenders.map(_.tree()).toSeq, st.rowsInFile)
      w.finish()
    } finally out.close()
    committed += ((tmp, new Path(outDir, name), counting.count))
    st.appenders.foreach(_.clear())
    totalRows += st.rowsInFile
    buffered -= st.rowsInFile
    st.rowsInFile = 0
    st.fileSeq += 1
  }

  override def commit(): WriterCommitMessage = {
    parts.values.foreach(rollFile)
    // renames happen at job commit (GraftBatchWrite.commit) so a failed job
    // never exposes partial output or loses the pre-overwrite table
    GraftCommitMessage(committed.map(p => (p._1.toString, p._2.toString, p._3)).toSeq, totalRows)
  }

  override def abort(): Unit =
    staged.foreach(fs.delete(_, false))

  override def close(): Unit = ()
}

/** Byte counter under the buffered writer: the staged file's final length,
  * recorded in the commit message so the manifest carries lengths without
  * per-file driver RPCs at job commit.
  */
private final class CountingOutputStream(u: java.io.OutputStream) extends java.io.OutputStream {
  var count = 0L
  override def write(b: Int): Unit = { u.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = { u.write(b, off, len); count += len }
  override def flush(): Unit = u.flush()
  override def close(): Unit = u.close()
}
