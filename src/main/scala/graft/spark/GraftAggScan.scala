package graft.spark

import graft.format._
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

/** Footer-only aggregate pushdown: COUNT(*), COUNT(col), MIN(col), MAX(col)
  * over stats-bearing lanes are answered from per-page metadata — zero data
  * pages fetched. Partial pushdown: each file yields one row of partial
  * values; Spark's final aggregate merges them (so multi-file and
  * multi-partition semantics stay exact).
  *
  * At 100 TB this turns full-table COUNT/MIN/MAX into one 64KiB footer read
  * per file.
  */
object GraftAggPushdown {

  sealed trait AggSpec extends Serializable
  case object CountStar extends AggSpec
  final case class CountCol(field: String) extends AggSpec
  final case class MinCol(field: String, dt: DataType) extends AggSpec
  final case class MaxCol(field: String, dt: DataType) extends AggSpec

  private def statsBearing(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    // decimals >18 digits carry exact (untruncated) 128-bit bounds; strings
    // stay excluded — their bounds are prefix-truncated, sound for pruning
    // but not exact extrema
    case _: DecimalType => true
    case _ => false
  }

  /** Dotted field path of the aggregated column — a top-level name or a
    * struct path (nested stats exist for struct leaves; array/map paths are
    * rejected by the type resolution below).
    */
  private def fieldOf(ref: Array[NamedReference]): Option[String] = ref match {
    case Array(f) if f.fieldNames().nonEmpty => Some(f.fieldNames().mkString("."))
    case _ => None
  }

  /** Resolve a (possibly dotted) path to its atomic type: top-level exact
    * name first, else a struct walk — same rules as zone-map predicates.
    */
  private def typeOf(schema: StructType, name: String): Option[DataType] =
    ZoneMapFilter.resolveAtomic(schema, name)

  /** Partition-path value types the grouped pushdown can reconstruct from
    * a `k=v` directory name exactly (dates/decimals/floats excluded: their
    * path rendering is not guaranteed round-trip-exact).
    */
  def pathParseable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType => true
    case _ => false
  }

  /** Catalyst value of a partition-path string for a parseable type. */
  def pathValue(dt: DataType, v: String): Any = dt match {
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(v)
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case LongType => v.toLong
    case BooleanType => v.toBoolean
    case other => throw new IllegalArgumentException(s"graft: unparseable partition type $other")
  }

  /** Translate Spark's Aggregation's aggregate expressions; None if any is
    * unsupported. GROUP BY handling (partition columns only) lives in the
    * scan builder — this compiles the aggregate list shared by both paths.
    */
  def compile(schema: StructType, agg: Aggregation): Option[(Seq[AggSpec], StructType)] = {
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => Some((CountStar: AggSpec, StructField("count(*)", LongType, nullable = false)))
      case c: Count if !c.isDistinct =>
        fieldOf(Array(c.column()).collect { case n: NamedReference => n }).flatMap { f =>
          typeOf(schema, f).filter(statsBearing)
            .map(_ => (CountCol(f): AggSpec, StructField(s"count($f)", LongType, nullable = false)))
        }
      case m: Min =>
        fieldOf(Array(m.column()).collect { case n: NamedReference => n }).flatMap { f =>
          typeOf(schema, f).filter(statsBearing)
            .map(dt => (MinCol(f, dt): AggSpec, StructField(s"min($f)", dt)))
        }
      case m: Max =>
        fieldOf(Array(m.column()).collect { case n: NamedReference => n }).flatMap { f =>
          typeOf(schema, f).filter(statsBearing)
            .map(dt => (MaxCol(f, dt): AggSpec, StructField(s"max($f)", dt)))
        }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None
    else Some((specs.flatten.map(_._1).toSeq, StructType(specs.flatten.map(_._2))))
  }

  /** Evaluate the partial aggregates for one file from its footer. A column
    * the file doesn't carry (additive schema evolution) is all-null there:
    * COUNT(col) contributes 0 and MIN/MAX contribute null.
    */
  def evaluate(footer: Footer, fileSchema: StructType, specs: Seq[AggSpec],
      row: GenericInternalRow, off: Int, dvMasked: Long = 0L): Unit = {
    def pagesOf(field: String): Array[PageMeta] =
      GraftSchema.leafIndexOfPath(fileSchema, field) match {
        case Some(li) => footer.leaves(li).pages
        case None => Array.empty
      }
    val rowCount: Long =
      if (footer.leaves.isEmpty) 0L else footer.leaves(0).totalValues

    specs.zipWithIndex.foreach { case (spec, i) =>
      spec match {
        case CountStar => row.setLong(off + i, rowCount - dvMasked)
        case CountCol(f) =>
          var nonNull = 0L
          pagesOf(f).foreach { pm =>
            // statsKind==0 on a stats-bearing lane means zero non-null values
            if (pm.statsKind != 0) nonNull += pm.numValues - math.max(pm.nullCount, 0)
          }
          row.setLong(off + i, nonNull)
        case MinCol(f, dt) => setExtremum(row, off + i, dt, pagesOf(f), isMin = true)
        case MaxCol(f, dt) => setExtremum(row, off + i, dt, pagesOf(f), isMin = false)
      }
    }
  }

  private def setExtremum(row: GenericInternalRow, i: Int, dt: DataType,
      pages: Array[PageMeta], isMin: Boolean): Unit = {
    val stats = pages.filter(_.statsKind != 0)
    if (stats.isEmpty) { row.setNullAt(i); return }
    dt match {
      case FloatType | DoubleType =>
        // statsKind 3 = page contains NaN. Spark orders NaN above every other
        // value, so such a page's true max is NaN; its min is the stored
        // non-NaN min (NaN bits iff the page is all-NaN, which is then also
        // correct: min over only-NaN rows is NaN). Combine with the same
        // total order (NaN greatest, -0.0 < 0.0) Spark uses.
        val vals = stats.map { pm =>
          if (isMin) java.lang.Double.longBitsToDouble(pm.minLong)
          else if (pm.statsKind == 3) Double.NaN
          else java.lang.Double.longBitsToDouble(pm.maxLong)
        }
        val v = vals.reduce { (a, b) =>
          val c = java.lang.Double.compare(a, b)
          if (isMin) { if (c <= 0) a else b } else { if (c >= 0) a else b }
        }
        if (dt == FloatType) row.setFloat(i, v.toFloat) else row.setDouble(i, v)
      case d: DecimalType if d.precision > Decimal.MAX_LONG_DIGITS =>
        val bins = stats.filter(_.statsKind == 4).map(pm => if (isMin) pm.minBin else pm.maxBin)
        if (bins.isEmpty || bins.exists(_ == null)) { row.setNullAt(i); return }
        val best = bins.reduce { (a, b) =>
          val c = java.util.Arrays.compareUnsigned(a, b)
          if (isMin) { if (c <= 0) a else b } else { if (c >= 0) a else b }
        }
        val bd = new java.math.BigDecimal(Int128.fromOrderedBytes(best), d.scale)
        row.update(i, Decimal(bd, d.precision, d.scale))
      case _ =>
        val longs = stats.map(pm => if (isMin) pm.minLong else pm.maxLong)
        val v = if (isMin) longs.min else longs.max
        dt match {
          case ByteType => row.setByte(i, v.toByte)
          case ShortType => row.setShort(i, v.toShort)
          case IntegerType | DateType => row.setInt(i, v.toInt)
          case LongType | TimestampType | TimestampNTZType => row.setLong(i, v)
          case d: DecimalType =>
            row.update(i, Decimal.createUnsafe(v, d.precision, d.scale))
          case _ => row.setNullAt(i)
        }
    }
  }
}

/** Scan producing one partial-aggregate row per file, footer-only. With
  * `groupCount` > 0 (partition-grouped pushdown) each file's row leads with
  * its hive-partition values — captured from the PATHS at push time, so the
  * grouped variant still reads zero data pages and zero extra footers;
  * Spark's final aggregate merges the per-file partials per group.
  */
final class GraftAggScan(private val path: String, conf: org.apache.hadoop.conf.Configuration,
    private val specs: Seq[GraftAggPushdown.AggSpec], private val aggSchema: StructType,
    private val groupCount: Int = 0,
    private val groupedFiles: Seq[(String, Long, Seq[String])] = Nil,
    private val colAliases: Map[String, String] = Map.empty)
    extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft footer-only aggregate scan of $path (${aggSchema.fieldNames.mkString(",")})" +
      (if (groupCount > 0) s" grouped by ${aggSchema.fieldNames.take(groupCount).mkString(",")}"
       else "")

  override def planInputPartitions(): Array[InputPartition] = {
    // deletion vectors: COUNT(*) stays footer-exact by subtracting each
    // file's masked-row cardinality (resolved once at plan time; the
    // builder only routes CountStar-only aggregations here under DVs).
    // The scan path may be a PARTITION SUBDIR of a DV'd table — the
    // sidecars (and the idents they encode) live at the TABLE root, so
    // resolve it the same way createReaderFactory does, or a subdir count
    // would find no sidecars and silently overcount deleted rows.
    val scanPath = new org.apache.hadoop.fs.Path(path)
    val fs = GraftFs.get(scanPath, conf)
    val dvRoot = GraftDv.rootOfScanPath(fs, scanPath)
    val dvs = GraftDv.list(fs, dvRoot)
    def maskedOf(filePath: String): Long =
      if (dvs.isEmpty) 0L
      else dvs.get(GraftDv.identOf(dvRoot,
          new org.apache.hadoop.fs.Path(filePath)))
        .map(d => GraftDv.cardinality(fs, d._2)).getOrElse(0L)
    if (groupCount > 0)
      groupedFiles.map(f =>
        GraftAggInputPartition(f._1, f._2, f._3.toArray,
          maskedOf(f._1)): InputPartition).toArray
    else GraftRewriteGuard.listVisible(path, conf)
      .map(f => GraftAggInputPartition(f.getPath.toString, f.getLen, Array.empty,
        maskedOf(f.getPath.toString)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(HadoopConfBroadcast(conf), specs, aggSchema.json, groupCount,
      colAliases)

  // structural equality (see GraftScan): lets identical footer-only
  // aggregate scans share one exchange under ReuseExchange/cache lookup
  override def equals(other: Any): Boolean = other match {
    case o: GraftAggScan => path == o.path && specs == o.specs && aggSchema == o.aggSchema &&
      groupCount == o.groupCount && groupedFiles == o.groupedFiles &&
      colAliases == o.colAliases
    case _ => false
  }
  override def hashCode(): Int = (path, specs, aggSchema, groupCount).hashCode()
}

final case class GraftAggInputPartition(filePath: String, fileLen: Long,
    groupVals: Array[String], dvMasked: Long = 0L) extends InputPartition

final class GraftAggReaderFactory(conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    specs: Seq[GraftAggPushdown.AggSpec], aggSchemaJson: String, groupCount: Int = 0,
    colAliases: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftAggInputPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (done) return false
        val hPath = new org.apache.hadoop.fs.Path(p.filePath)
        val in = new HadoopSeekableInput(GraftFs.get(hPath, conf.value.value), hPath, p.fileLen)
        try {
          val footer = GraftFileReader.readFooter(in)
          val fileSchema = GraftColumnMap.renameSchema(
            DataType.fromJson(footer.schemaJson).asInstanceOf[StructType], colAliases)
          val fullSchema = DataType.fromJson(aggSchemaJson).asInstanceOf[StructType]
          val out = new GenericInternalRow(fullSchema.length)
          var i = 0
          while (i < groupCount) {
            out.update(i, GraftAggPushdown.pathValue(fullSchema(i).dataType, p.groupVals(i)))
            i += 1
          }
          GraftAggPushdown.evaluate(footer, fileSchema, specs, out, groupCount, p.dvMasked)
          row = out
        } finally in.close()
        done = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
