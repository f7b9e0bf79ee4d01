package graft.format

/** Page encode/decode.
  *
  * On-disk page layout (this library's spec; structure parallels the
  * reference's, `/root/reference/README.md:36-80`, but is not byte-compatible):
  * {{{
  *   nullable leaf:   u32 nullCount | [bitmap ceil(n/8), bit=1 means NULL]  (omitted if nullCount==0)
  *   value body:      u8 codec | u32 compressedLen | u32 rawLen | payload
  * }}}
  * Plain (pre-block-compression) value layouts per lane:
  *  - Bool:  LSB-first bitmap, ceil(n/8) bytes
  *  - I8/I16/I32/I64/F32/F64: fixed-width little-endian values, all slots
  *    (null slots carry don't-care bytes — the validity bitmap is
  *    authoritative, mirroring the reference's RLE/Dict null semantics,
  *    SURVEY.md §7.4)
  *  - Bin:   (n+1) u32 page-rebased offsets, then the value bytes
  */
object BitmapUtil {
  def write(bits: Array[Boolean], from: Int, until: Int, out: ByteBuf): Unit = {
    val n = until - from
    val nBytes = (n + 7) >>> 3
    val start = out.reserve(nBytes)
    java.util.Arrays.fill(out.arr, start, start + nBytes, 0.toByte)
    var i = 0
    while (i < n) {
      if (bits(from + i)) out.arr(start + (i >>> 3)) = (out.arr(start + (i >>> 3)) | (1 << (i & 7))).toByte
      i += 1
    }
  }
  def read(src: Array[Byte], off: Int, n: Int): Array[Boolean] =
    read(src, off, n, new Array[Boolean](n))

  /** Decode into a caller-owned buffer (≥ n entries; all [0,n) overwritten). */
  def read(src: Array[Byte], off: Int, n: Int, res: Array[Boolean]): Array[Boolean] = {
    var i = 0
    while (i < n) {
      res(i) = (src(off + (i >>> 3)) & (1 << (i & 7))) != 0
      i += 1
    }
    res
  }
}

object PageSerializer {

  /** Encode rows [from, until) of `vec` as one page appended to `out`.
    * Returns the page's footer metadata (length, value count, zone-map stats).
    */
  def writePage(lane: Int, vec: Vec, from: Int, until: Int, nullable: Boolean,
      opts0: WriteOptions, out: ByteBuf, scratch: ByteBuf,
      withBloom: Boolean = false): PageMeta = {
    // resolve the per-lane-family codec force once; everything below
    // (special chooser, common fallback, nested I64 delegation) sees the
    // already-resolved forcedCodec
    val opts = opts0.forFamily(lane match {
      case Lane.I8 | Lane.I16 | Lane.I32 | Lane.I64 | Lane.I128 => "int"
      case Lane.F32 | Lane.F64 => "float"
      case Lane.Bin => "binary"
      case Lane.Bool => "bool"
      case _ => ""
    })
    val pageStart = out.length
    val n = until - from

    // A leaf written non-nullable persists no validity bitmap, so any null
    // slots in the builder vec (e.g. a non-nullable array's lengths under a
    // null parent struct) must encode their deterministic 0 value — codecs
    // must NOT see the mask, or last-non-null filling would persist garbage
    // the reader cannot distinguish from data.
    val evec = if (!nullable && vec.nulls != null) stripNulls(vec) else vec

    // --- null header ---
    var nullCount = 0
    val nulls = evec.nulls
    if (nullable) {
      if (nulls != null) {
        var i = from
        while (i < until) { if (nulls(i)) nullCount += 1; i += 1 }
      }
      out.putIntLE(nullCount)
      if (nullCount > 0) BitmapUtil.write(nulls, from, until, out)
    }

    // binary pages are interned once: the zone map and the codec chooser
    // both work per distinct value
    val bin = if (lane == Lane.Bin) BinaryCodecs.intern(evec.asInstanceOf[BinaryVec], from, until) else null

    // --- stats (zone maps; persisted, unlike the reference — SURVEY §2.2) ---
    val stats = if (bin != null) PageStats.binStats(bin) else PageStats.compute(lane, evec, from, until)

    // --- value body ---
    val wrote =
      if (bin != null) BinaryCodecs.tryWrite(bin, opts, out)
      else SpecialCodecs.tryWrite(lane, evec, from, until, opts, out, scratch)
    if (!wrote) {
      scratch.reset()
      plainEncode(lane, evec, from, until, scratch)
      val codec: Byte = opts.forcedCodec match {
        case Some(c) if Codec.isCommon(c) => c
        case _ => opts.defaultCodec
      }
      writeBlockBody(codec, scratch, out, opts.zstdLevel, opts.lz4hc)
    }

    PageMeta(out.length - pageStart, n, stats.kind, stats.minLong, stats.maxLong, nullCount,
      stats.minBin, stats.maxBin,
      if (withBloom) buildBloom(lane, evec, from, until, opts.bloomBytes) else null)
  }

  /** Per-page bloom over the non-null values. Only the equality-probed
    * lanes carry one: integer-family lanes hash the logical long, binary
    * hashes the bytes; other lanes (bool/float/i128) return null — their
    * equality probes are either meaningless or served by exact bounds.
    */
  private def buildBloom(lane: Int, vec: Vec, from: Int, until: Int, maxBytes: Int): Array[Byte] = {
    val nulls = vec.nulls
    @inline def live(i: Int) = nulls == null || !nulls(i)
    // ~10 bits per non-null value rounded up to a power of two (≈1% fpr at
    // k=3), clamped to the configured per-page cap
    var nonNull = 0
    var ci = from
    while (ci < until) { if (live(ci)) nonNull += 1; ci += 1 }
    if (nonNull == 0) return null
    val bytes = {
      val want = java.lang.Integer.highestOneBit(
        math.max((nonNull * 10 + 7) / 8, 64) - 1) << 1
      math.min(math.max(want, 64), maxBytes)
    }
    lane match {
      case Lane.I8 | Lane.I16 | Lane.I32 | Lane.I64 =>
        val bits = new Array[Byte](bytes)
        vec match {
          case v: IntVec =>
            var i = from
            while (i < until) {
              if (live(i)) BloomUtil.add(bits, BloomUtil.hashLong(v.values(i).toLong))
              i += 1
            }
          case v: LongVec =>
            var i = from
            while (i < until) {
              if (live(i)) BloomUtil.add(bits, BloomUtil.hashLong(v.values(i)))
              i += 1
            }
          case _ => return null
        }
        bits
      case Lane.Bin =>
        val bv = vec.asInstanceOf[BinaryVec]
        val bits = new Array[Byte](bytes)
        var i = from
        while (i < until) {
          if (live(i)) {
            val o = bv.offsets(i)
            BloomUtil.add(bits, BloomUtil.hashBytes(bv.bytes, o, bv.offsets(i + 1) - o))
          }
          i += 1
        }
        bits
      case _ => null
    }
  }

  private def stripNulls(vec: Vec): Vec = vec match {
    case v: BoolVec => v.copy(nulls = null)
    case v: IntVec => v.copy(nulls = null)
    case v: LongVec => v.copy(nulls = null)
    case v: FloatVec => v.copy(nulls = null)
    case v: DoubleVec => v.copy(nulls = null)
    case v: BinaryVec => v.copy(nulls = null)
    case v: DecimalVec => v.copy(nulls = null)
  }

  private[format] def writeBlockBody(codec: Byte, plain: ByteBuf, out: ByteBuf,
      zstdLevel: Int, lz4hc: Boolean = false): Unit = {
    if (codec == Codec.None) {
      out.putByte(Codec.None)
      out.putIntLE(plain.length)
      out.putIntLE(plain.length)
      out.putBytes(plain.arr, 0, plain.length)
    } else {
      out.putByte(codec)
      val lenPos = out.reserve(8)
      val maxLen = BlockCompression.maxCompressedLength(codec, plain.length)
      val dstPos = out.reserve(maxLen)
      val clen = BlockCompression.compress(codec, plain.arr, 0, plain.length, out.arr, dstPos, zstdLevel, lz4hc)
      out.len = dstPos + clen
      out.patchIntLE(lenPos, clen)
      out.patchIntLE(lenPos + 4, plain.length)
    }
  }

  private[format] def plainEncode(lane: Int, vec: Vec, from: Int, until: Int, out: ByteBuf): Unit = {
    val n = until - from
    lane match {
      case Lane.Bool =>
        val v = vec.asInstanceOf[BoolVec].values
        BitmapUtil.write(v, from, until, out)
      case Lane.I8 =>
        val v = vec.asInstanceOf[IntVec].values
        val p = out.reserve(n)
        var i = 0
        while (i < n) { out.arr(p + i) = v(from + i).toByte; i += 1 }
      case Lane.I16 =>
        val v = vec.asInstanceOf[IntVec].values
        val p = out.reserve(2 * n)
        var i = 0
        while (i < n) {
          val x = v(from + i)
          out.arr(p + 2 * i) = x.toByte
          out.arr(p + 2 * i + 1) = (x >>> 8).toByte
          i += 1
        }
      case Lane.I32 =>
        val v = vec.asInstanceOf[IntVec].values
        val p = out.reserve(4 * n)
        var i = 0
        while (i < n) { putInt(out.arr, p + 4 * i, v(from + i)); i += 1 }
      case Lane.I64 =>
        val v = vec.asInstanceOf[LongVec].values
        val p = out.reserve(8 * n)
        var i = 0
        while (i < n) { putLong(out.arr, p + 8 * i, v(from + i)); i += 1 }
      case Lane.F32 =>
        val v = vec.asInstanceOf[FloatVec].values
        val p = out.reserve(4 * n)
        var i = 0
        while (i < n) { putInt(out.arr, p + 4 * i, java.lang.Float.floatToRawIntBits(v(from + i))); i += 1 }
      case Lane.F64 =>
        val v = vec.asInstanceOf[DoubleVec].values
        val p = out.reserve(8 * n)
        var i = 0
        while (i < n) { putLong(out.arr, p + 8 * i, java.lang.Double.doubleToRawLongBits(v(from + i))); i += 1 }
      case Lane.Bin =>
        val bv = vec.asInstanceOf[BinaryVec]
        val base = bv.offsets(from)
        val p = out.reserve(4 * (n + 1))
        var i = 0
        while (i <= n) { putInt(out.arr, p + 4 * i, bv.offsets(from + i) - base); i += 1 }
        out.putBytes(bv.bytes, base, bv.offsets(until) - base)
      case Lane.I128 =>
        val dv = vec.asInstanceOf[DecimalVec]
        val p = out.reserve(16 * n)
        var i = 0
        while (i < n) {
          putLong(out.arr, p + 16 * i, dv.lo(from + i))
          putLong(out.arr, p + 16 * i + 8, dv.hi(from + i))
          i += 1
        }
    }
  }

  @inline private[format] def putInt(a: Array[Byte], p: Int, v: Int): Unit = {
    a(p) = v.toByte; a(p + 1) = (v >>> 8).toByte
    a(p + 2) = (v >>> 16).toByte; a(p + 3) = (v >>> 24).toByte
  }
  @inline private[format] def putLong(a: Array[Byte], p: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { a(p + i) = (v >>> (8 * i)).toByte; i += 1 }
  }
}

object PageDeserializer {

  /** Decode one page (positioned at its start) into a Vec of `numValues`. */
  def readPage(lane: Int, nullable: Boolean, numValues: Int, cur: ByteCursor): Vec = {
    var nulls: Array[Boolean] = null
    if (nullable) {
      val nullCount = cur.getIntLE()
      if (nullCount > 0) {
        nulls = BitmapUtil.read(cur.arr, cur.pos, numValues)
        cur.skip((numValues + 7) >>> 3)
      }
    }
    val codec = cur.getByte().toByte
    val clen = cur.getIntLE()
    val rawLen = cur.getIntLE()
    if (Codec.isCommon(codec)) {
      val plain = new Array[Byte](rawLen)
      BlockCompression.decompress(codec, cur.arr, cur.pos, clen, plain, 0, rawLen)
      cur.skip(clen)
      plainDecode(lane, numValues, nulls, plain)
    } else {
      val v = SpecialCodecs.read(codec, lane, numValues, nulls, cur, clen, rawLen)
      v
    }
  }

  private[format] def plainDecode(lane: Int, n: Int, nulls: Array[Boolean], plain: Array[Byte]): Vec = lane match {
    case Lane.Bool =>
      BoolVec(n, nulls, BitmapUtil.read(plain, 0, n))
    case Lane.I8 =>
      val v = new Array[Int](n)
      var i = 0
      while (i < n) { v(i) = plain(i).toInt; i += 1 }
      IntVec(n, nulls, v)
    case Lane.I16 =>
      val v = new Array[Int](n)
      var i = 0
      while (i < n) { v(i) = ((plain(2 * i) & 0xff) | (plain(2 * i + 1) << 8)).toShort.toInt; i += 1 }
      IntVec(n, nulls, v)
    case Lane.I32 =>
      val v = new Array[Int](n)
      var i = 0
      while (i < n) { v(i) = getInt(plain, 4 * i); i += 1 }
      IntVec(n, nulls, v)
    case Lane.I64 =>
      val v = new Array[Long](n)
      var i = 0
      while (i < n) { v(i) = getLong(plain, 8 * i); i += 1 }
      LongVec(n, nulls, v)
    case Lane.F32 =>
      val v = new Array[Float](n)
      var i = 0
      while (i < n) { v(i) = java.lang.Float.intBitsToFloat(getInt(plain, 4 * i)); i += 1 }
      FloatVec(n, nulls, v)
    case Lane.F64 =>
      val v = new Array[Double](n)
      var i = 0
      while (i < n) { v(i) = java.lang.Double.longBitsToDouble(getLong(plain, 8 * i)); i += 1 }
      DoubleVec(n, nulls, v)
    case Lane.Bin =>
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i <= n) { offs(i) = getInt(plain, 4 * i); i += 1 }
      val byteLen = offs(n)
      val bytes = new Array[Byte](byteLen)
      System.arraycopy(plain, 4 * (n + 1), bytes, 0, byteLen)
      BinaryVec(n, nulls, offs, bytes)
    case Lane.I128 =>
      val lo = new Array[Long](n)
      val hi = new Array[Long](n)
      var i = 0
      while (i < n) { lo(i) = getLong(plain, 16 * i); hi(i) = getLong(plain, 16 * i + 8); i += 1 }
      DecimalVec(n, nulls, hi, lo)
  }

  @inline private[format] def getInt(a: Array[Byte], p: Int): Int =
    (a(p) & 0xff) | ((a(p + 1) & 0xff) << 8) | ((a(p + 2) & 0xff) << 16) | ((a(p + 3) & 0xff) << 24)
  @inline private[format] def getLong(a: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (a(p + i) & 0xffL) << (8 * i); i += 1 }
    v
  }
}

/** Per-page statistics: zone maps + input to the adaptive codec chooser.
  * (Reference analogue: `gen_stats`, `/root/reference/src/compression/integer/mod.rs:164-229`.)
  */
final case class PageStats(kind: Byte, minLong: Long, maxLong: Long,
    minBin: Array[Byte] = null, maxBin: Array[Byte] = null)

object PageStats {
  /** Zone map of a non-binary page; binary pages use [[binStats]] over the
    * page's interned values. */
  def compute(lane: Int, vec: Vec, from: Int, until: Int): PageStats = {
    val nulls = vec.nulls
    lane match {
      case Lane.I8 | Lane.I16 | Lane.I32 =>
        val v = vec.asInstanceOf[IntVec].values
        var min = Long.MaxValue; var max = Long.MinValue; var any = false
        var i = from
        while (i < until) {
          if (nulls == null || !nulls(i)) {
            val x = v(i).toLong
            if (x < min) min = x
            if (x > max) max = x
            any = true
          }
          i += 1
        }
        if (any) PageStats(1, min, max) else PageStats(0, 0, 0)
      case Lane.I64 =>
        val v = vec.asInstanceOf[LongVec].values
        var min = Long.MaxValue; var max = Long.MinValue; var any = false
        var i = from
        while (i < until) {
          if (nulls == null || !nulls(i)) {
            val x = v(i)
            if (x < min) min = x
            if (x > max) max = x
            any = true
          }
          i += 1
        }
        if (any) PageStats(1, min, max) else PageStats(0, 0, 0)
      case Lane.F32 =>
        val v = vec.asInstanceOf[FloatVec].values
        floatStats(from, until, nulls, i => v(i).toDouble)
      case Lane.F64 =>
        val v = vec.asInstanceOf[DoubleVec].values
        floatStats(from, until, nulls, i => v(i))
      case Lane.I128 =>
        // exact 128-bit bounds in the order-preserving byte encoding — they
        // ride the binary (kind 4) zone-map path untruncated
        val dv = vec.asInstanceOf[DecimalVec]
        var minI = -1
        var maxI = -1
        var i = from
        while (i < until) {
          if (nulls == null || !nulls(i)) {
            if (minI < 0 || Int128.compare(dv.hi(i), dv.lo(i), dv.hi(minI), dv.lo(minI)) < 0) minI = i
            if (maxI < 0 || Int128.compare(dv.hi(i), dv.lo(i), dv.hi(maxI), dv.lo(maxI)) > 0) maxI = i
          }
          i += 1
        }
        if (minI < 0) PageStats(0, 0, 0)
        else PageStats(4, 0, 0,
          Int128.orderedBytes(dv.hi(minI), dv.lo(minI)),
          Int128.orderedBytes(dv.hi(maxI), dv.lo(maxI)))
      case _ => PageStats(0, 0, 0)
    }
  }

  val BinStatTrunc = 16

  /** Binary zone maps, parquet-style truncation: min rounds DOWN (a prefix
    * is ≤ its string in unsigned-lex order), max rounds UP (prefix with its
    * last non-0xFF byte incremented; null if all 0xFF — no finite bound).
    * Sound for UTF-8 strings because Spark compares them as unsigned bytes.
    * Compares each distinct value that some non-null row holds once.
    */
  def binStats(p: BinaryCodecs.Interned): PageStats = {
    var minD = -1
    var maxD = -1
    var d = 0
    while (d < p.unique) {
      if (p.live(d)) {
        if (minD < 0 || p.compare(d, minD) < 0) minD = d
        if (maxD < 0 || p.compare(d, maxD) > 0) maxD = d
      }
      d += 1
    }
    if (minD < 0) return PageStats(0, 0, 0)
    val minB = p.prefix(minD, BinStatTrunc)
    val maxB =
      if (p.length(maxD) <= BinStatTrunc) p.prefix(maxD, BinStatTrunc)
      else incrementUp(p.prefix(maxD, BinStatTrunc))
    PageStats(4, 0, 0, minB, maxB)
  }

  /** Smallest byte string > every string with this prefix, or null. */
  def incrementUp(prefix: Array[Byte]): Array[Byte] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == 0xFF.toByte) i -= 1
    if (i < 0) null
    else {
      val b = java.util.Arrays.copyOfRange(prefix, 0, i + 1)
      b(i) = (b(i) + 1).toByte
      b
    }
  }

  /** Float stats must be NaN-aware: Spark orders NaN above every value and
    * NaN = NaN is true, so a page whose NaN rows would match a `>`/`>=`
    * predicate must never be pruned on its non-NaN max. min/max cover the
    * non-NaN values (total order, so -0.0 < 0.0 like parquet); NaN presence
    * is flagged as statsKind 3 (both NaN bits if the page is all-NaN).
    */
  private def floatStats(from: Int, until: Int, nulls: Array[Boolean], at: Int => Double): PageStats = {
    var min = Double.NaN; var max = Double.NaN
    var anyNum = false; var hasNaN = false
    var i = from
    while (i < until) {
      if (nulls == null || !nulls(i)) {
        val x = at(i)
        if (x != x) hasNaN = true
        else if (!anyNum) { min = x; max = x; anyNum = true }
        else {
          if (java.lang.Double.compare(x, min) < 0) min = x
          if (java.lang.Double.compare(x, max) > 0) max = x
        }
      }
      i += 1
    }
    if (!anyNum && !hasNaN) PageStats(0, 0, 0)
    else PageStats(if (hasNaN) 3 else 2,
      java.lang.Double.doubleToRawLongBits(min), java.lang.Double.doubleToRawLongBits(max))
  }
}
