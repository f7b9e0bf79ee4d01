package graft.spark

import graft.format._
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._

/** Reusable decompression buffer — one per partition reader, grown on demand,
  * so the hot scan loop stops allocating a fresh plain-bytes array per page.
  */
final class ScratchBuf(initial: Int = 64 * 1024) {
  private var buf = new Array[Byte](initial)
  def ensure(n: Int): Array[Byte] = {
    if (buf.length < n) {
      var cap = buf.length
      while (cap < n && cap > 0) cap <<= 1
      buf = new Array[Byte](if (cap < n) n else cap)
    }
    buf
  }
}

/** Decodes one leaf page straight into a Spark `WritableColumnVector`,
  * skipping the intermediate `Vec` materialization the nested-assembly path
  * uses. For block-codec pages the decompressed plain bytes are bulk-copied
  * with the vector's primitive byte[] put*s (little-endian, matching the page
  * layout); strings land as ONE arraycopy into the vector's byte child plus
  * per-row (offset,length) entries, instead of a per-row `putByteArray`.
  * Special-codec pages decode through the existing codec readers, then
  * bulk-put their typed arrays.
  *
  * This is the scan fast path for top-level atomic columns — the nested
  * types keep the `FieldFiller`/Vec assembly (they need lengths/validity
  * leaves joined across leaves anyway).
  */
final class DirectFill(dt: DataType, lane: Int, nullable: Boolean) {

  // physical shape switch, resolved once at plan time
  private val kind: Int = dt match {
    case BooleanType => 0
    case ByteType => 1
    case ShortType => 2
    case IntegerType | DateType => 3
    case LongType | TimestampType | TimestampNTZType => 4
    case FloatType => 5
    case DoubleType => 6
    case StringType | BinaryType => 7
    case d: DecimalType if d.precision <= Decimal.MAX_INT_DIGITS => 8 // I64 lane -> int vector
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => 4
    case _: DecimalType => 10 // i128 lane -> byte-array-backed vector
    case NullType => 9
    case _ => -1
  }

  private val be16 = new Array[Byte](16)

  @inline private def putDec128(vector: WritableColumnVector, i: Int, hi: Long, lo: Long): Unit = {
    Int128.writeBE(hi, lo, be16)
    val len = Int128.minimalLen(be16)
    vector.putByteArray(i, be16, 16 - len, len)
  }

  // the plain-page bulk copies (putInts/putLongs/... from byte[]) are raw
  // native-order copies of our little-endian page bytes — on a big-endian
  // JVM fall back to the Vec path, which decodes LE explicitly
  def supported: Boolean =
    kind >= 0 && java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline private def getIntLE(a: Array[Byte], p: Int): Int =
    (a(p) & 0xff) | ((a(p + 1) & 0xff) << 8) | ((a(p + 2) & 0xff) << 16) | ((a(p + 3) & 0xff) << 24)

  @inline private def getLongLE(a: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (a(p + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  // per-reader reusable decode buffers: the scan loop would otherwise
  // allocate a fresh long[pageRows] (and nulls array) for every
  // special-codec page (the reference recycles its scratch the same way,
  // /root/reference/src/read/mod.rs:55-57)
  private var longScratch: Array[Long] = null
  private var nullScratch: Array[Boolean] = null
  private def ensureLongs(n: Int): Array[Long] = {
    if (longScratch == null || longScratch.length < n) longScratch = new Array[Long](n)
    longScratch
  }
  private def ensureNulls(n: Int): Array[Boolean] = {
    if (nullScratch == null || nullScratch.length < n) nullScratch = new Array[Boolean](n)
    nullScratch
  }

  // lanes whose special codecs decode to a long[] we can bulk/loop-put
  // without the intermediate Vec (integer family + floats via raw bits)
  private val longLane: Boolean = lane match {
    case Lane.I8 | Lane.I16 | Lane.I32 | Lane.I64 | Lane.F32 | Lane.F64 => true
    case _ => false
  }

  /** Decode the page at `bytes[pos..)` (n values) into `vector`. */
  def fill(vector: WritableColumnVector, bytes: Array[Byte], pos: Int, n: Int,
      scratch: ScratchBuf): Unit = {
    val cur = new ByteCursor(bytes, pos)
    var nulls: Array[Boolean] = null
    if (nullable) {
      val nullCount = cur.getIntLE()
      if (nullCount > 0) {
        nulls = BitmapUtil.read(cur.arr, cur.pos, n, ensureNulls(n))
        cur.skip((n + 7) >>> 3)
      }
    }
    val codec = cur.getByte().toByte
    val clen = cur.getIntLE()
    val rawLen = cur.getIntLE()
    // binary vectors may carry a dictionary from a previous page: always
    // reset it, and re-arm only on the dict fast path below
    if (kind == 7) vector.setDictionary(null)
    if (Codec.isCommon(codec)) {
      val plain = scratch.ensure(rawLen)
      BlockCompression.decompress(codec, cur.arr, cur.pos, clen, plain, 0, rawLen)
      fromPlain(vector, plain, n)
    } else if (kind == 7 && codec == Codec.Dict) {
      fillBinDict(vector, cur, n, clen)
    } else if (longLane) {
      val v =
        if (codec == Codec.Patas) FloatCodecs.read(cur, n, clen, ensureLongs(n))
        else IntCodecs.readSpecial(codec, cur, n, Lane.width(lane), clen, ensureLongs(n))
      fromLongs(vector, v, n)
    } else {
      fromVec(vector, SpecialCodecs.read(codec, lane, n, nulls, cur, clen, rawLen), n)
    }
    if (nulls != null) {
      var i = 0
      while (i < n) { if (nulls(i)) vector.putNull(i); i += 1 }
    }
  }

  /** Dict-coded string/binary page → Spark dictionary vector: the page's
    * dictionary entries are cut once and shared via `setDictionary`, and
    * only the int ids land in the vector — no per-row string
    * materialization, the same lazy shape Spark's parquet reader uses for
    * dictionary-encoded columns. (Low-cardinality flag/category columns are
    * exactly the ones the adaptive chooser dict-encodes.)
    */
  private def fillBinDict(vector: WritableColumnVector, cur: ByteCursor, n: Int,
      clen: Int): Unit = {
    val d = BinaryCodecs.readDict(cur, n, clen)
    val entries = new Array[Array[Byte]](d.size)
    var i = 0
    while (i < d.size) {
      entries(i) = java.util.Arrays.copyOfRange(cur.arr, d.base + d.offs(i), d.base + d.offs(i + 1))
      i += 1
    }
    vector.setDictionary(new GraftDictionary(entries))
    val ids = vector.reserveDictionaryIds(n)
    i = 0
    while (i < n) { ids.putInt(i, d.ids(i).toInt); i += 1 }
  }

  /** Bulk/loop-put a decoded long[] (≥ n entries) by physical kind. */
  private def fromLongs(vector: WritableColumnVector, v: Array[Long], n: Int): Unit =
    kind match {
      case 1 =>
        var i = 0
        while (i < n) { vector.putByte(i, v(i).toByte); i += 1 }
      case 2 =>
        var i = 0
        while (i < n) { vector.putShort(i, v(i).toShort); i += 1 }
      case 3 | 8 =>
        var i = 0
        while (i < n) { vector.putInt(i, v(i).toInt); i += 1 }
      case 4 => vector.putLongs(0, n, v, 0)
      case 5 =>
        var i = 0
        while (i < n) { vector.putFloat(i, java.lang.Float.intBitsToFloat(v(i).toInt)); i += 1 }
      case 6 =>
        var i = 0
        while (i < n) { vector.putDouble(i, java.lang.Double.longBitsToDouble(v(i))); i += 1 }
      case other => throw new IllegalStateException(s"graft: kind $other is not a long lane")
    }

  private def fromPlain(vector: WritableColumnVector, plain: Array[Byte], n: Int): Unit =
    kind match {
      case 0 =>
        var i = 0
        while (i < n) { vector.putBoolean(i, (plain(i >>> 3) & (1 << (i & 7))) != 0); i += 1 }
      case 1 => vector.putBytes(0, n, plain, 0)
      case 2 => vector.putShorts(0, n, plain, 0)
      case 3 => vector.putInts(0, n, plain, 0)
      case 4 => vector.putLongs(0, n, plain, 0)
      case 5 => vector.putFloats(0, n, plain, 0)
      case 6 => vector.putDoubles(0, n, plain, 0)
      case 7 =>
        // (n+1) page-rebased u32 offsets, then the value bytes
        val header = 4 * (n + 1)
        val total = getIntLE(plain, 4 * n)
        val ad = vector.arrayData()
        ad.reserve(total)
        if (total > 0) ad.putBytes(0, total, plain, header)
        var i = 0
        var prev = 0
        while (i < n) {
          val next = getIntLE(plain, 4 * (i + 1))
          vector.putArray(i, prev, next - prev)
          prev = next
          i += 1
        }
      case 8 =>
        var i = 0
        while (i < n) { vector.putInt(i, getLongLE(plain, 8 * i).toInt); i += 1 }
      case 9 => vector.putNulls(0, n)
      case 10 =>
        var i = 0
        while (i < n) {
          putDec128(vector, i, getLongLE(plain, 16 * i + 8), getLongLE(plain, 16 * i))
          i += 1
        }
    }

  private def fromVec(vector: WritableColumnVector, vec: Vec, n: Int): Unit = kind match {
    case 0 =>
      val v = vec.asInstanceOf[BoolVec].values
      var i = 0
      while (i < n) { vector.putBoolean(i, v(i)); i += 1 }
    case 1 =>
      val v = vec.asInstanceOf[IntVec].values
      var i = 0
      while (i < n) { vector.putByte(i, v(i).toByte); i += 1 }
    case 2 =>
      val v = vec.asInstanceOf[IntVec].values
      var i = 0
      while (i < n) { vector.putShort(i, v(i).toShort); i += 1 }
    case 3 => vector.putInts(0, n, vec.asInstanceOf[IntVec].values, 0)
    case 4 => vector.putLongs(0, n, vec.asInstanceOf[LongVec].values, 0)
    case 5 => vector.putFloats(0, n, vec.asInstanceOf[FloatVec].values, 0)
    case 6 => vector.putDoubles(0, n, vec.asInstanceOf[DoubleVec].values, 0)
    case 7 =>
      val bv = vec.asInstanceOf[BinaryVec]
      val base = bv.offsets(0)
      val total = bv.offsets(n) - base
      val ad = vector.arrayData()
      ad.reserve(total)
      if (total > 0) ad.putBytes(0, total, bv.bytes, base)
      var i = 0
      while (i < n) {
        vector.putArray(i, bv.offsets(i) - base, bv.offsets(i + 1) - bv.offsets(i))
        i += 1
      }
    case 8 =>
      val v = vec.asInstanceOf[LongVec].values
      var i = 0
      while (i < n) { vector.putInt(i, v(i).toInt); i += 1 }
    case 9 => vector.putNulls(0, n)
    case 10 =>
      val dv = vec.asInstanceOf[DecimalVec]
      var i = 0
      while (i < n) { putDec128(vector, i, dv.hi(i), dv.lo(i)); i += 1 }
  }
}

/** Page dictionary for string/binary columns: entries are pre-cut shared
  * byte arrays, so decodeToBinary is an array lookup (Spark wraps it in a
  * UTF8String without copying).
  */
private final class GraftDictionary(entries: Array[Array[Byte]])
    extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] = entries(id)
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("graft dictionary holds binary entries")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("graft dictionary holds binary entries")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("graft dictionary holds binary entries")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("graft dictionary holds binary entries")
}
