package graft.spark

import graft.format.StrawboatImport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 READ path for REFERENCE-layout (`ARROW2`) strawboat files, so
  * legacy data can be QUERIED IN PLACE, not just migrated:
  *
  * {{{
  *   spark.read.format("strawboat-import").load("/data/legacy_strawboat")
  *     .filter(...).groupBy(...).agg(...)
  * }}}
  *
  * Scale shape: one input partition per file (reference files hold a
  * single row group — the file is the natural split); COLUMN PRUNING
  * reaches the byte level (the footer metas carry every column's page
  * offsets, so unselected columns are never fetched from storage — a
  * 2-column projection over a 40-column legacy table reads ~5% of the
  * bytes); an empty projection (COUNT(*)) decodes no values at all, only
  * page headers. Filters stay in Spark (the reference's page stats live
  * in a side-car this source does not require). `sizeInBytes` is reported
  * from the file listing so broadcast planning works. Read-only by
  * design — writes go through `GraftExport` (reference layout) or the
  * native graft format.
  *
  * Reference byte layout: `/root/reference/src/read/reader.rs:148-241`
  * (footer), decoded by [[graft.format.StrawboatImport]].
  */
class StrawboatImportSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "strawboat-import"
  override def supportsExternalMetadata(): Boolean = true

  // inferSchema and getTable are called back-to-back on the same provider
  // instance; cache the listing so an N-file directory is listed and
  // magic-probed once per load, not twice (each probe is a file open)
  private var cachedListing: (String, Seq[(String, Long)]) = null

  private def listFiles(path: String): Seq[(String, Long)] = {
    val c = cachedListing
    if (c != null && c._1 == path) return c._2
    val v = GraftImport.listStrawboatFiles(SparkSession.active, path)
    cachedListing = (path, v)
    v
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftUtil.pathOf(options)
    val files = listFiles(path)
    require(files.nonEmpty, s"strawboat import: no ARROW2-magic files under $path")
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(files.head._1)
    val in = new HadoopSeekableInput(GraftFs.get(p, conf), p, files.head._2)
    try StrawboatImport.sparkSchema(StrawboatImport.readFooter(in))
    finally in.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "strawboat import: 'path' option is required")
    new StrawboatImportTable(schema, path, listFiles(path))
  }
}

final class StrawboatImportTable(schema: StructType, path: String,
    files: Seq[(String, Long)]) extends Table with SupportsRead {
  override def name(): String = s"strawboat-import:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StrawboatImportScanBuilder(schema, files)
}

final class StrawboatImportScanBuilder(tableSchema: StructType,
    files: Seq[(String, Long)])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var projected: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // top-level pruning only: each pruned column's pages are skipped at
    // the byte level (nested-LEAF pruning would need per-leaf metas keyed
    // by sub-path — not worth it for a legacy-compat source)
    val names = requiredSchema.fieldNames.toSet
    projected = StructType(tableSchema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = new StrawboatImportScan(projected, files)
}

final class StrawboatImportScan(projected: StructType, files: Seq[(String, Long)])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = projected
  override def toBatch: Batch = this
  override def description(): String =
    s"strawboat-import ${files.size} files, columns [${projected.fieldNames.mkString(",")}]"

  override def estimateStatistics(): Statistics = new Statistics {
    // total on-disk bytes (conservative: not projection-scaled) — enough
    // for Spark to consider broadcasting a small legacy table
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_._2).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (f, len) => StrawboatInputPartition(f, len) }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = HadoopConfBroadcast(
      SparkSession.active.sessionState.newHadoopConf())
    new StrawboatReaderFactory(conf, projected.json)
  }
}

final case class StrawboatInputPartition(filePath: String, fileLen: Long)
    extends InputPartition

final class StrawboatReaderFactory(
    conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    projectedJson: String) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StrawboatInputPartition]
    val projected = GraftFooterCache.schemaOf(projectedJson)
    val path = new org.apache.hadoop.fs.Path(p.filePath)
    val in = new HadoopSeekableInput(
      GraftFs.get(path, conf.value.value), path, p.fileLen)
    InputFileHolder.set(p.filePath, 0L, p.fileLen)
    new PartitionReader[InternalRow] {
      private val converter =
        CatalystTypeConverters.createToCatalystConverter(projected)
      private val rows: Iterator[InternalRow] = {
        val footer = StrawboatImport.readFooter(in)
        val (fileProj, vals) = StrawboatImport.decodeProjected(in, footer,
          projected.fieldNames.toSeq)
        // table schema is pinned from the first footer; a drifted file's
        // projected columns must match it exactly, not decode as garbage
        fileProj.fields.zip(projected.fields).foreach { case (ff, pf) =>
          require(ff.dataType == pf.dataType,
            s"strawboat import: ${p.filePath} column '${pf.name}' is " +
              s"${ff.dataType} but the table schema expects ${pf.dataType}")
        }
        vals.iterator.map(a =>
          converter(org.apache.spark.sql.Row.fromSeq(a.toSeq))
            .asInstanceOf[InternalRow])
      }
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (!rows.hasNext) return false
        cur = rows.next(); true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
  }
}
