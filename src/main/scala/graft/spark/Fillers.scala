package graft.spark

import graft.format._
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** Read-side assembly: decoded leaf page Vecs → Spark WritableColumnVectors
  * (one ColumnarBatch per page group — the reference's streaming-read unit,
  * `/root/reference/src/read/deserialize.rs:100-253`).
  */
abstract class FieldFiller {
  def leafCount: Int
  /** Fill `rows` entries of `vector` from this field's leaf pages located at
    * `leafPages(base ..< base+leafCount)`.
    */
  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit

  /** Leaf indices (relative to this filler's base) that fill() actually
    * consumes. Every leaf by default; pruned struct fillers skip dropped
    * children's ranges, and the reader never creates LeafReaders (so never
    * fetches bytes) for unlisted leaves.
    */
  lazy val neededLeaves: Array[Int] = Array.tabulate(leafCount)(identity)

  protected def applyNulls(vector: WritableColumnVector, nulls: Array[Boolean], rows: Int): Unit = {
    if (nulls != null) {
      var i = 0
      while (i < rows) { if (nulls(i)) vector.putNull(i); i += 1 }
    }
  }
}

object FieldFiller {
  // Fillers are built from the FILE's field type+nullability — the same
  // (dt, nullable) pair that defines the leaf layout (GraftSchema.leafCount).
  def apply(dt: DataType, nullable: Boolean): FieldFiller = dt match {
    case ArrayType(et, cn) => new ArrayFiller(et, cn)
    case MapType(kt, vt, vcn) => new MapFiller(kt, vt, vcn)
    case s: StructType =>
      if (nullable) new NullableStructWrapper(new StructFiller(s)) else new StructFiller(s)
    case _ => new AtomicFiller(dt)
  }

  /** Filler for a projected field whose type may be a struct-pruned subset
    * of the file's type — including struct elements nested under arrays and
    * map values: leaf offsets follow the FULL file layout (so the on-disk
    * leaf indices stay correct) while only the projected children are
    * decoded and filled.
    */
  def forProjected(file: StructField, proj: StructField): FieldFiller =
    forProjectedType(file.dataType, file.nullable, proj.dataType)

  private[spark] def forProjectedType(fileDt: DataType, nullable: Boolean,
      projDt: DataType): FieldFiller =
    if (fileDt == projDt) apply(fileDt, nullable)
    else (fileDt, projDt) match {
      case (fs: StructType, ps: StructType) =>
        val inner = new PrunedStructFiller(fs, ps)
        if (nullable) new NullableStructWrapper(inner) else inner
      case (ArrayType(fe, fn), ArrayType(pe, _)) =>
        new ArrayFiller(fe, fn, pe)
      case (MapType(fk, fv, fn), MapType(_, pv, _)) =>
        new MapFiller(fk, fv, fn, pv)
      case _ if GraftSchema.widens(fileDt, projDt) =>
        new WideningAtomicFiller(fileDt, projDt)
      case _ =>
        throw new IllegalArgumentException(
          s"graft: projected type $projDt is not a pruned subset of file type $fileDt")
    }
}

/** Widening decode for metadata-only ALTER COLUMN ... TYPE
  * ([[GraftSchema.widens]]): reads the FILE lane's page vector and fills
  * the TABLE type's Spark vector — int pages land in a long vector, float
  * in double, narrow-precision decimal unscaled values in the wider
  * decimal's backing. Off the DirectFill fast path by construction (only
  * plain [[AtomicFiller]] columns qualify there), so widened columns pay
  * one per-value conversion loop — and only in files older than the ALTER;
  * files written after it carry the wide type natively.
  */
final class WideningAtomicFiller(fileDt: DataType, projDt: DataType) extends FieldFiller {
  val leafCount = 1

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    val vec = leafPages(base)
    (fileDt, projDt) match {
      case (ByteType | ShortType, ShortType) =>
        val v = vec.asInstanceOf[IntVec].values
        var i = 0
        while (i < rows) { vector.putShort(i, v(i).toShort); i += 1 }
      case (ByteType | ShortType, IntegerType) =>
        vector.putInts(0, rows, vec.asInstanceOf[IntVec].values, 0)
      case (ByteType | ShortType | IntegerType, LongType) =>
        val v = vec.asInstanceOf[IntVec].values
        var i = 0
        while (i < rows) { vector.putLong(i, v(i).toLong); i += 1 }
      case (FloatType, DoubleType) =>
        val v = vec.asInstanceOf[FloatVec].values
        var i = 0
        while (i < rows) { vector.putDouble(i, v(i).toDouble); i += 1 }
      case (a: DecimalType, b: DecimalType) if a.precision <= Decimal.MAX_LONG_DIGITS =>
        // same scale, same long-backed lane: unscaled values are identical;
        // only the Spark vector backing may differ (int- vs long-backed)
        val v = vec.asInstanceOf[LongVec].values
        if (b.precision <= Decimal.MAX_INT_DIGITS) {
          var i = 0
          while (i < rows) { vector.putInt(i, v(i).toInt); i += 1 }
        } else vector.putLongs(0, rows, v, 0)
      case (_: DecimalType, _: DecimalType) => // both 128-bit backed
        val dv = vec.asInstanceOf[DecimalVec]
        val buf = new Array[Byte](16)
        var i = 0
        while (i < rows) {
          if (!dv.isNull(i)) {
            Int128.writeBE(dv.hi(i), dv.lo(i), buf)
            val len = Int128.minimalLen(buf)
            vector.putByteArray(i, buf, 16 - len, len)
          }
          i += 1
        }
      case other => throw new UnsupportedOperationException(
        s"graft: unsupported widening $other")
    }
    applyNulls(vector, vec.nulls, rows)
  }
}

final class AtomicFiller(dt: DataType) extends FieldFiller {
  val leafCount = 1

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    val vec = leafPages(base)
    dt match {
      case BooleanType =>
        val v = vec.asInstanceOf[BoolVec].values
        var i = 0
        while (i < rows) { vector.putBoolean(i, v(i)); i += 1 }
      case ByteType =>
        val v = vec.asInstanceOf[IntVec].values
        var i = 0
        while (i < rows) { vector.putByte(i, v(i).toByte); i += 1 }
      case ShortType =>
        val v = vec.asInstanceOf[IntVec].values
        var i = 0
        while (i < rows) { vector.putShort(i, v(i).toShort); i += 1 }
      case IntegerType | DateType =>
        vector.putInts(0, rows, vec.asInstanceOf[IntVec].values, 0)
      case LongType | TimestampType | TimestampNTZType =>
        vector.putLongs(0, rows, vec.asInstanceOf[LongVec].values, 0)
      case FloatType =>
        vector.putFloats(0, rows, vec.asInstanceOf[FloatVec].values, 0)
      case DoubleType =>
        vector.putDoubles(0, rows, vec.asInstanceOf[DoubleVec].values, 0)
      case StringType | BinaryType =>
        // one bulk copy into the vector's byte child + per-row (off,len)
        // entries — null slots get zero-length spans, masked by applyNulls
        val bv = vec.asInstanceOf[BinaryVec]
        val base0 = bv.offsets(0)
        val total = bv.offsets(rows) - base0
        val ad = vector.arrayData()
        ad.reserve(total)
        if (total > 0) ad.putBytes(0, total, bv.bytes, base0)
        var i = 0
        while (i < rows) {
          vector.putArray(i, bv.offsets(i) - base0, bv.offsets(i + 1) - bv.offsets(i))
          i += 1
        }
      case d: DecimalType if d.precision <= Decimal.MAX_INT_DIGITS =>
        val v = vec.asInstanceOf[LongVec].values
        var i = 0
        while (i < rows) { vector.putInt(i, v(i).toInt); i += 1 }
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
        vector.putLongs(0, rows, vec.asInstanceOf[LongVec].values, 0)
      case _: DecimalType => // precision > 18: i128 lane, byte-array-backed vector
        val dv = vec.asInstanceOf[DecimalVec]
        val buf = new Array[Byte](16)
        var i = 0
        while (i < rows) {
          if (!dv.isNull(i)) {
            Int128.writeBE(dv.hi(i), dv.lo(i), buf)
            val len = Int128.minimalLen(buf)
            vector.putByteArray(i, buf, 16 - len, len)
          }
          i += 1
        }
      case NullType =>
        vector.putNulls(0, rows)
      case other => throw new UnsupportedOperationException(s"graft: unsupported type $other")
    }
    applyNulls(vector, vec.nulls, rows)
  }
}

/** `projEt` may be a struct-pruned subset of the file element type `et`;
  * the leaf span always covers the FULL file element layout.
  */
final class ArrayFiller(et: DataType, containsNull: Boolean, projEt: DataType)
    extends FieldFiller {
  def this(et: DataType, containsNull: Boolean) = this(et, containsNull, et)
  private val child = FieldFiller.forProjectedType(et, containsNull, projEt)
  val leafCount: Int = 1 + GraftSchema.leafCount(et, containsNull)

  override lazy val neededLeaves: Array[Int] = 0 +: child.neededLeaves.map(_ + 1)

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    val lengths = leafPages(base).asInstanceOf[IntVec]
    // null slots may decode as last-non-null (codec fill semantics) — a null
    // list has length 0 by definition
    var total = 0
    var i = 0
    while (i < rows) { if (!lengths.isNull(i)) total += lengths.values(i); i += 1 }
    val childVector = vector.getChild(0)
    childVector.reset()
    childVector.reserve(total)
    child.fill(childVector, leafPages, base + 1, total)
    var off = 0
    i = 0
    while (i < rows) {
      if (lengths.isNull(i)) vector.putNull(i)
      else { vector.putArray(i, off, lengths.values(i)); off += lengths.values(i) }
      i += 1
    }
  }
}

/** `projVt` may be a struct-pruned subset of the file value type `vt`. */
final class MapFiller(kt: DataType, vt: DataType, valueContainsNull: Boolean,
    projVt: DataType) extends FieldFiller {
  def this(kt: DataType, vt: DataType, valueContainsNull: Boolean) =
    this(kt, vt, valueContainsNull, vt)
  private val keyFiller = FieldFiller(kt, nullable = false)
  private val valFiller = FieldFiller.forProjectedType(vt, valueContainsNull, projVt)
  private val keyLeaves = GraftSchema.leafCount(kt, nullable = false)
  private val valLeaves = GraftSchema.leafCount(vt, valueContainsNull)
  val leafCount: Int = 1 + keyLeaves + valLeaves

  override lazy val neededLeaves: Array[Int] =
    (0 +: keyFiller.neededLeaves.map(_ + 1)) ++
      valFiller.neededLeaves.map(_ + 1 + keyLeaves)

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    val lengths = leafPages(base).asInstanceOf[IntVec]
    var total = 0
    var i = 0
    while (i < rows) { if (!lengths.isNull(i)) total += lengths.values(i); i += 1 }
    val kv = vector.getChild(0)
    val vv = vector.getChild(1)
    kv.reset(); kv.reserve(total)
    vv.reset(); vv.reserve(total)
    keyFiller.fill(kv, leafPages, base + 1, total)
    valFiller.fill(vv, leafPages, base + 1 + keyLeaves, total)
    var off = 0
    i = 0
    while (i < rows) {
      if (lengths.isNull(i)) vector.putNull(i)
      else { vector.putArray(i, off, lengths.values(i)); off += lengths.values(i) }
      i += 1
    }
  }
}

/** Non-nullable struct: no marker leaf, just children. */
final class StructFiller(st: StructType) extends FieldFiller {
  private[spark] val children: Array[FieldFiller] =
    st.fields.map(f => FieldFiller(f.dataType, f.nullable))
  private[spark] val childLeafCounts: Array[Int] =
    st.fields.map(f => GraftSchema.leafCount(f.dataType, f.nullable))
  val leafCount: Int = childLeafCounts.sum

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    var b = base
    var j = 0
    while (j < children.length) {
      val cv = vector.getChild(j)
      cv.reset()
      cv.reserve(rows)
      children(j).fill(cv, leafPages, b, rows)
      b += childLeafCounts(j)
      j += 1
    }
  }
}

/** Struct filler for a PRUNED projection: the output struct's children are a
  * (recursively pruned) subset of the file struct's, but child leaf offsets
  * are computed over the FULL file layout, so dropped children's leaves are
  * never touched — the reader consults neededLeaves and never fetches or
  * decodes them. (Reference precedent: per-leaf independence makes sub-field
  * pruning structurally free — `/root/reference/src/read/reader.rs` reads
  * leaves independently.)
  */
final class PrunedStructFiller(fileSt: StructType, projSt: StructType) extends FieldFiller {
  private val fileLeafCounts: Array[Int] =
    fileSt.fields.map(f => GraftSchema.leafCount(f.dataType, f.nullable))
  private val fileOffsets: Array[Int] = fileLeafCounts.scanLeft(0)(_ + _)
  private val childIdx: Array[Int] = projSt.fields.map(pf => fileSt.fieldIndex(pf.name))
  private val children: Array[FieldFiller] =
    projSt.fields.zip(childIdx).map { case (pf, fi) =>
      FieldFiller.forProjected(fileSt.fields(fi), pf)
    }
  val leafCount: Int = fileLeafCounts.sum // spans the whole file field

  override lazy val neededLeaves: Array[Int] =
    children.zipWithIndex.flatMap { case (c, j) =>
      c.neededLeaves.map(fileOffsets(childIdx(j)) + _)
    }

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    var j = 0
    while (j < children.length) {
      val cv = vector.getChild(j)
      cv.reset()
      cv.reserve(rows)
      children(j).fill(cv, leafPages, base + fileOffsets(childIdx(j)), rows)
      j += 1
    }
  }
}

/** Nullable struct: consumes the Bool marker leaf, then delegates. */
final class NullableStructWrapper(inner: FieldFiller) extends FieldFiller {
  val leafCount: Int = 1 + inner.leafCount

  override lazy val neededLeaves: Array[Int] = 0 +: inner.neededLeaves.map(_ + 1)

  def fill(vector: WritableColumnVector, leafPages: Array[Vec], base: Int, rows: Int): Unit = {
    val marker = leafPages(base)
    inner.fill(vector, leafPages, base + 1, rows)
    applyNulls(vector, marker.nulls, rows)
  }
}
