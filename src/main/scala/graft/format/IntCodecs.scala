package graft.format

import org.roaringbitmap.RoaringBitmap

/** Special codecs for integer-valued pages (lanes I8..I64; float lanes
  * delegate their raw bit patterns here for RLE/Dict/Freq).
  *
  * Codec inventory and eligibility heuristics mirror the reference's
  * adaptive chooser (`/root/reference/src/compression/integer/mod.rs:231-308`),
  * but payload layouts are this library's own spec:
  *  - OneValue:      value@width
  *  - Rle:           u32 runCount | (u32 count, value@width)*
  *  - Dict:          u32 dictCount | dict values@width | nested frame (indices)
  *  - Freq:          top@width | u32 exCount | u32 rbLen | roaring bytes |
  *                   nested frame (exception values)
  *  - Bitpack:       i64 base | u8 bits | LSB-first packed (v-base)
  *    (frame-of-reference, so negatives/any lane work — generalizes the
  *     reference's min>=0 guard, bp.rs:92-99)
  *  - DeltaBitpack:  i64 first | u8 bits | packed non-negative deltas
  *    (sorted pages only, like delta_bp.rs:97-105)
  *
  * Null slots carry the preceding non-null value (reference semantics:
  * "nulls merged into the current run", SURVEY.md §7.4) — the validity
  * bitmap is authoritative.
  */
object IntCodecs {

  final class Stats(val n: Int) {
    var min: Long = Long.MaxValue
    var max: Long = Long.MinValue
    var runCount = 0
    var uniqueCount = 0
    var topValue = 0L
    var topCount = 0
    var sorted = true
    /** largest adjacent difference of a sorted page (0 if not sorted) */
    var maxDelta = 0L
    /** a sorted page's adjacent difference exceeded Long range (x - prev
      * wrapped negative) — DeltaBitpack must not run on such a page */
    var deltaOverflow = false
    /** the counting table of an unsorted page, kept for Dict encode */
    private[format] var table: ValueTable = null
  }

  /** Per-page value -> count table. A page whose max - min is below 2n
    * (dates, small ints, Dict index frames) addresses slot x - min
    * directly; any other page hashes into a power-of-two table ≥ 2n with
    * linear probing.
    */
  private[format] final class ValueTable(n: Int, val min: Long, range: Long) {
    val direct: Boolean = range >= 0 && range < 2L * n
    private val bits = if (direct) 0 else tableBits(n)
    private val shift = 64 - bits
    private val mask = (1 << bits) - 1
    val counts = new Array[Int](if (direct) range.toInt + 1 else 1 << bits)
    val keys: Array[Long] = if (direct) null else new Array[Long](counts.length)

    @inline def slot(x: Long): Int =
      if (direct) (x - min).toInt
      else {
        var h = slotOf(x, shift)
        while (counts(h) != 0 && keys(h) != x) h = (h + 1) & mask
        h
      }
  }

  /** Fill null slots with the last non-null value (0 before the first). */
  def effectiveValues(vec: Vec, from: Int, until: Int, lane: Int): Array[Long] = {
    val n = until - from
    val out = new Array[Long](n)
    val nulls = vec.nulls
    var last = 0L
    var i = 0
    lane match {
      case Lane.I64 =>
        val v = vec.asInstanceOf[LongVec].values
        while (i < n) {
          if (nulls == null || !nulls(from + i)) last = v(from + i)
          out(i) = last
          i += 1
        }
      case Lane.F32 =>
        val v = vec.asInstanceOf[FloatVec].values
        while (i < n) {
          if (nulls == null || !nulls(from + i))
            last = java.lang.Float.floatToRawIntBits(v(from + i)).toLong & 0xffffffffL
          out(i) = last
          i += 1
        }
      case Lane.F64 =>
        val v = vec.asInstanceOf[DoubleVec].values
        while (i < n) {
          if (nulls == null || !nulls(from + i)) last = java.lang.Double.doubleToRawLongBits(v(from + i))
          out(i) = last
          i += 1
        }
      case _ =>
        val v = vec.asInstanceOf[IntVec].values
        while (i < n) {
          if (nulls == null || !nulls(from + i)) last = v(from + i).toLong
          out(i) = last
          i += 1
        }
    }
    out
  }

  /** Fibonacci-hashing multiplier (2^64 / golden ratio, odd). */
  private final val HashMul = -7046029254386353131L

  /** Open-addressing slot of `x` in a table of 2^(64 - shift) slots: the
    * HIGH bits of x * HashMul, which depend on every bit of x (the low bits
    * of a product only see the low bits of x, and integer-valued doubles
    * have none set).
    */
  @inline private[format] def slotOf(x: Long, shift: Int): Int = ((x * HashMul) >>> shift).toInt

  /** Table size for a page of `n` values: a power of two ≥ 2n, so linear
    * probing stays at load ≤ 1/2.
    */
  @inline private[format] def tableBits(n: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.max(4, n * 2) - 1)

  /** Exact page statistics in two passes over effective values: order
    * statistics (min/max, runs, sortedness) first, then the counts. A
    * sorted page holds each value in one run, so its distinct and top
    * counts come from the runs, alongside its deltas; any other page counts
    * in a [[ValueTable]]. The top value is the first value to reach the
    * highest count. Hot loops avoid branches on random data.
    * Reference analogue: `gen_stats`, integer/mod.rs:164-229.
    */
  def computeStats(v: Array[Long]): Stats = {
    val n = v.length
    val s = new Stats(n)
    if (n == 0) { s.min = 0; s.max = 0; return s }
    var min = v(0)
    var max = v(0)
    var runs = 1
    var sorted = true
    var prev = v(0)
    var i = 1
    while (i < n) {
      val x = v(i)
      if (x < min) min = x
      if (x > max) max = x
      val t = x ^ prev
      runs += ((t | -t) >>> 63).toInt // +1 iff x != prev
      sorted &= x >= prev
      prev = x
      i += 1
    }
    s.min = min; s.max = max; s.runCount = runs; s.sorted = sorted

    var top = 1
    var topValue = v(0)
    if (sorted) {
      var maxDelta = 0L
      var overflow = false
      var run = 1
      i = 1
      while (i < n) {
        val d = v(i) - v(i - 1)
        overflow |= d < 0 // wrapped: true delta > Long.MaxValue
        if (d > maxDelta) maxDelta = d
        run = if (d == 0) run + 1 else 1
        if (run > top) { top = run; topValue = v(i) }
        i += 1
      }
      s.maxDelta = maxDelta
      s.deltaOverflow = overflow
      s.uniqueCount = runs
    } else {
      val t = new ValueTable(n, min, max - min)
      val counts = t.counts
      var unique = 0
      top = 0
      i = 0
      if (t.direct) while (i < n) {
        // branch-free: direct pages are mostly low-cardinality, where the
        // top changes too often for a branch to predict
        val x = v(i)
        val h = (x - min).toInt
        val c = counts(h) + 1
        counts(h) = c
        unique += (c - 2) >>> 31 // +1 iff c == 1
        val m = (top - c) >> 31 // -1 iff c > top
        top += (c - top) & m
        topValue ^= (topValue ^ x) & m.toLong
        i += 1
      } else {
        // hashed pages are mostly high-cardinality: the top rarely changes
        // and its branch predicts well
        val keys = t.keys
        while (i < n) {
          val x = v(i)
          val h = t.slot(x)
          keys(h) = x
          val c = counts(h) + 1
          counts(h) = c
          unique += (c - 2) >>> 31
          if (c > top) { top = c; topValue = x }
          i += 1
        }
      }
      s.uniqueCount = unique
      s.table = t
    }
    s.topCount = top
    s.topValue = topValue
    s
  }

  @inline def bitsFor(range: Long): Int =
    if (range <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(range)

  @inline private def packedBytes(n: Int, bits: Int): Long = (n.toLong * bits + 7) / 8

  /** Choose + encode a codec-framed value body for an integer page.
    * Returns false if the common (block) codec should be used instead.
    * `forbid` is a bitmask of codec bytes (recursion guard, like
    * integer/dict.rs:59-62).
    */
  def tryWrite(v: Array[Long], n: Int, width: Int, opts: WriteOptions,
      forbid: Long, out: ByteBuf): Boolean = {
    if (n == 0) return false
    val forced = opts.forcedCodec
    val s = computeStats(v)

    def allowed(c: Byte): Boolean = ((forbid >> c) & 1) == 0

    forced match {
      case Some(c) if !Codec.isCommon(c) && allowed(c) =>
        val feasible = c match {
          case Codec.Bitpack => s.max - s.min >= 0 // range within u64: any bit width packs
          case Codec.DeltaBitpack => s.sorted && !s.deltaOverflow
          case Codec.Patas => false // float lanes handle Patas before delegating here
          case _ => true
        }
        if (feasible) { encode(c, v, n, width, s, opts, forbid, out); return true }
        return false
      case Some(_) => return false
      case None =>
    }
    if (!opts.adaptive) return false

    val (bestCodec, bestSize) = chooseCodec(s, n, width, forbid)
    val plain = n.toLong * width
    if (bestCodec < 0 || plain.toDouble / bestSize < opts.compressRatio) return false
    // The analytic sizes above are near-exact for the special codecs, but
    // say nothing about what the block codec would achieve — mixed data can
    // make e.g. RLE's 12-bytes-per-run layout lose to zstd. Cross-check with
    // a deterministic sampled block-codec estimate and step aside when the
    // block codec measures smaller (caller falls through to it).
    if (opts.sampledChooser && blockSampledSize(v, n, width, opts) < bestSize) return false
    encode(bestCodec, v, n, width, s, opts, forbid, out)
    true
  }

  /** Deterministic sampled size estimate of block-compressing this page:
    * up to 10 evenly spaced 256-value runs are trial-compressed with the
    * default block codec and the measured ratio scaled to the full page.
    * Same inputs always sample the same runs, so files stay byte-identical
    * across writes. (Reference analogue: `seq_box_compress_sample`,
    * integer/mod.rs:310-347.)
    */
  private[format] def blockSampledSize(v: Array[Long], n: Int, width: Int,
      opts: WriteOptions): Long = {
    val codec = opts.defaultCodec
    if (codec == Codec.None) return Long.MaxValue
    val runLen = math.min(n, 256)
    val runs = math.max(1, math.min(10, n / runLen))
    val stride = if (runs <= 1) 0.0 else (n - runLen).toDouble / (runs - 1)
    val plainBuf = new ByteBuf(runLen * width + 16)
    val dst = new Array[Byte](BlockCompression.maxCompressedLength(codec, runLen * width))
    var sampledPlain = 0L
    var sampledComp = 0L
    var k = 0
    while (k < runs) {
      val off = math.round(k * stride).toInt
      plainBuf.reset()
      var i = off
      width match {
        case 1 => while (i < off + runLen) { plainBuf.putByte(v(i).toInt); i += 1 }
        case 2 => while (i < off + runLen) { plainBuf.putShortLE(v(i).toInt); i += 1 }
        case 4 => while (i < off + runLen) { plainBuf.putIntLE(v(i).toInt); i += 1 }
        case _ => while (i < off + runLen) { plainBuf.putLongLE(v(i)); i += 1 }
      }
      val clen = BlockCompression.compress(codec, plainBuf.arr, 0, plainBuf.length,
        dst, 0, opts.zstdLevel, opts.lz4hc)
      sampledPlain += plainBuf.length
      sampledComp += clen
      k += 1
    }
    if (sampledPlain <= 0) Long.MaxValue
    else 9L + (n.toLong * width * sampledComp + sampledPlain - 1) / sampledPlain
  }

  /** Estimated best special codec + its size, or (-1, MaxValue) if none is
    * eligible. (Reference analogue: `choose_compressor`,
    * integer/mod.rs:231-308, with analytic instead of sampled ratios.)
    */
  def chooseCodec(s: Stats, n: Int, width: Int, forbid: Long): (Byte, Long) = {
    var bestCodec: Byte = -1
    var bestSize = Long.MaxValue
    def allowed(c: Byte): Boolean = ((forbid >> c) & 1) == 0
    def consider(c: Byte, size: Long): Unit =
      if (allowed(c) && size < bestSize) { bestCodec = c; bestSize = size }

    if (s.uniqueCount <= 1) consider(Codec.OneValue, width.toLong)
    else {
      consider(Codec.Rle, s.runCount.toLong * (4 + width))
      if (s.uniqueCount.toLong * 3 < n) {
        val idxBits = bitsFor(s.uniqueCount - 1)
        consider(Codec.Dict, 4L + s.uniqueCount.toLong * width + 18 + packedBytes(n, idxBits))
      }
      if (s.topCount >= n * 0.9) {
        val ex = n - s.topCount
        consider(Codec.Freq, width.toLong + 8 + ex.toLong * 2 + 16 + 18 + ex.toLong * width)
      }
      // range < 0 means max - min exceeds u64: no packing possible
      val range = s.max - s.min
      if (range >= 0)
        consider(Codec.Bitpack, 9L + packedBytes(n, bitsFor(range)))
      if (s.sorted && !s.deltaOverflow)
        consider(Codec.DeltaBitpack, 9L + packedBytes(n, bitsFor(s.maxDelta)))
    }
    (bestCodec, bestSize)
  }

  private def putValue(out: ByteBuf, v: Long, width: Int): Unit = width match {
    case 1 => out.putByte(v.toInt)
    case 2 => out.putShortLE(v.toInt)
    case 4 => out.putIntLE(v.toInt)
    case _ => out.putLongLE(v)
  }

  def encode(codec: Byte, v: Array[Long], n: Int, width: Int, s: Stats,
      opts: WriteOptions, forbid: Long, out: ByteBuf): Unit = {
    out.putByte(codec)
    val lenPos = out.reserve(8) // clen, rawLen patched at end
    val start = out.length
    codec match {
      case Codec.OneValue =>
        putValue(out, if (n > 0) v(0) else 0L, width)

      case Codec.Rle =>
        val rcPos = out.reserve(4)
        var runs = 0
        var i = 0
        while (i < n) {
          val x = v(i)
          var j = i + 1
          while (j < n && v(j) == x) j += 1
          out.putIntLE(j - i)
          putValue(out, x, width)
          runs += 1
          i = j
        }
        out.patchIntLE(rcPos, runs)

      case Codec.Dict =>
        // dictionary in first-seen order: a sorted page's runs, else
        // indexed through the stats table
        val dict = new Array[Long](s.uniqueCount)
        var dictN = 0
        val indices = new Array[Long](n)
        var i = 0
        val t = s.table
        if (t == null) while (i < n) {
          if (i == 0 || v(i) != v(i - 1)) { dict(dictN) = v(i); dictN += 1 }
          indices(i) = dictN - 1
          i += 1
        } else {
          val ids = new Array[Int](t.counts.length) // per slot: dictionary index + 1
          while (i < n) {
            val x = v(i)
            val h = t.slot(x)
            if (ids(h) == 0) { dict(dictN) = x; dictN += 1; ids(h) = dictN }
            indices(i) = ids(h) - 1
            i += 1
          }
        }
        out.putIntLE(dictN)
        i = 0
        while (i < dictN) { putValue(out, dict(i), width); i += 1 }
        writeFrame(indices, n, 4, opts, forbid | (1L << Codec.Dict), out)

      case Codec.Freq =>
        putValue(out, s.topValue, width)
        val rb = new RoaringBitmap()
        var ex = 0
        var i = 0
        while (i < n) { if (v(i) != s.topValue) { rb.add(i); ex += 1 }; i += 1 }
        out.putIntLE(ex)
        rb.runOptimize()
        val bos = new java.io.ByteArrayOutputStream()
        rb.serialize(new java.io.DataOutputStream(bos))
        val rbBytes = bos.toByteArray
        out.putIntLE(rbBytes.length)
        out.putBytes(rbBytes)
        val exceptions = new Array[Long](ex)
        var k = 0
        i = 0
        while (i < n) { if (v(i) != s.topValue) { exceptions(k) = v(i); k += 1 }; i += 1 }
        writeFrame(exceptions, ex, width, opts, forbid | (1L << Codec.Freq), out)

      case Codec.Bitpack =>
        out.putLongLE(s.min)
        val bits = bitsFor(s.max - s.min)
        out.putByte(bits)
        packInto(v, n, s.min, bits, out)

      case Codec.DeltaBitpack =>
        out.putLongLE(if (n > 0) v(0) else 0L)
        val bits = bitsFor(s.maxDelta)
        out.putByte(bits)
        val deltas = new Array[Long](n)
        var i = 1
        while (i < n) { deltas(i) = v(i) - v(i - 1); i += 1 }
        packInto(deltas, n, 0L, bits, out)

      case other => throw new IllegalArgumentException(s"int codec $other")
    }
    out.patchIntLE(lenPos, out.length - start)
    out.patchIntLE(lenPos + 4, n * width)
  }

  /** Codec-framed body for an integer array: special codec or plain+block. */
  def writeFrame(v: Array[Long], n: Int, width: Int, opts: WriteOptions,
      forbid: Long, out: ByteBuf): Unit = {
    if (!tryWrite(v, n, width, opts, forbid, out)) {
      // plain encode at width, then block compress
      val plain = new ByteBuf(math.max(64, n * width))
      var i = 0
      width match {
        case 1 => while (i < n) { plain.putByte(v(i).toInt); i += 1 }
        case 2 => while (i < n) { plain.putShortLE(v(i).toInt); i += 1 }
        case 4 => while (i < n) { plain.putIntLE(v(i).toInt); i += 1 }
        case _ => while (i < n) { plain.putLongLE(v(i)); i += 1 }
      }
      PageSerializer.writeBlockBody(opts.defaultCodec, plain, out, opts.zstdLevel, opts.lz4hc)
    }
  }

  /** LSB-first bitpacking of (v - base) at `bits` per value (any width up
    * to 64 — the accumulator spills whole 64-bit words, so no width guard).
    */
  private def packInto(v: Array[Long], n: Int, base: Long, bits: Int, out: ByteBuf): Unit = {
    if (bits == 0) return
    val total = ((n.toLong * bits + 7) / 8).toInt
    val p = out.reserve(total)
    java.util.Arrays.fill(out.arr, p, p + total, 0.toByte)
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    var acc = 0L
    var accBits = 0
    var bytePos = p
    var i = 0
    while (i < n) {
      val x = (v(i) - base) & mask
      acc |= x << accBits // low (64 - accBits) bits of x
      val fits = 64 - accBits
      if (bits < fits) accBits += bits
      else {
        // word full: spill all 8 bytes, carry x's high remainder
        var b = 0
        while (b < 8) { out.arr(bytePos) = (acc >>> (8 * b)).toByte; bytePos += 1; b += 1 }
        acc = if (fits == 64) 0L else x >>> fits
        accBits = bits - fits
      }
      i += 1
    }
    while (accBits > 0) {
      out.arr(bytePos) = acc.toByte
      bytePos += 1
      acc >>>= 8
      accBits -= 8
    }
  }

  private[format] def corrupt(msg: String) = new java.io.IOException(s"graft: corrupt page: $msg")

  /** A frame of `clen` bytes must fit the bytes after the cursor. */
  private[format] def checkFrame(cur: ByteCursor, clen: Int): Unit =
    if (clen < 0 || clen > cur.arr.length - cur.pos)
      throw corrupt(s"frame length $clen exceeds the ${cur.arr.length - cur.pos} bytes left")

  /** Decode a codec-framed integer body (cursor at frame start). */
  def readFrame(cur: ByteCursor, n: Int, width: Int): Array[Long] = {
    val codec = cur.getByte().toByte
    val clen = cur.getIntLE()
    val rawLen = cur.getIntLE()
    checkFrame(cur, clen)
    if (Codec.isCommon(codec)) {
      if (rawLen.toLong != n.toLong * width)
        throw corrupt(s"plain frame of $rawLen bytes for $n values of width $width")
      val plain = new Array[Byte](rawLen)
      BlockCompression.decompress(codec, cur.arr, cur.pos, clen, plain, 0, rawLen)
      cur.skip(clen)
      val out = new Array[Long](n)
      var i = 0
      width match {
        case 1 => while (i < n) { out(i) = plain(i).toLong; i += 1 }
        case 2 => while (i < n) { out(i) = ((plain(2 * i) & 0xff) | (plain(2 * i + 1) << 8)).toShort.toLong; i += 1 }
        case 4 => while (i < n) { out(i) = PageDeserializer.getInt(plain, 4 * i).toLong; i += 1 }
        case _ => while (i < n) { out(i) = PageDeserializer.getLong(plain, 8 * i); i += 1 }
      }
      out
    } else readSpecial(codec, cur, n, width, clen)
  }

  /** Decode a special-codec payload into `out0` when provided (must hold ≥ n
    * values; scan hot loops reuse one buffer across pages), else a fresh
    * array. Only entries [0, n) are written/meaningful.
    */
  def readSpecial(codec: Byte, cur: ByteCursor, n: Int, width: Int, clen: Int,
      out0: Array[Long] = null): Array[Long] = {
    checkFrame(cur, clen)
    val end = cur.pos + clen
    val out = if (out0 != null && out0.length >= n) out0 else new Array[Long](n)
    def getValue(): Long = width match {
      case 1 => cur.getByte().toByte.toLong
      case 2 => cur.getShortLE().toShort.toLong
      case 4 => cur.getIntLE().toLong
      case _ => cur.getLongLE()
    }
    codec match {
      case Codec.OneValue =>
        val v = getValue()
        java.util.Arrays.fill(out, 0, n, v)
      case Codec.Rle =>
        val runs = cur.getIntLE()
        if (runs < 0 || runs.toLong * (4 + width) > clen - 4L)
          throw corrupt(s"rle run count $runs does not fit $clen bytes")
        var pos = 0
        var r = 0
        while (r < runs) {
          val cnt = cur.getIntLE()
          if (cnt < 0 || cnt > n - pos) throw corrupt(s"rle run of $cnt at value $pos of $n")
          val v = getValue()
          java.util.Arrays.fill(out, pos, pos + cnt, v)
          pos += cnt
          r += 1
        }
        if (pos != n) throw corrupt(s"rle runs cover $pos of $n values")
      case Codec.Dict =>
        val dictN = cur.getIntLE()
        if (dictN < 0 || dictN.toLong * width > clen - 4L)
          throw corrupt(s"dict size $dictN does not fit $clen bytes")
        val dict = new Array[Long](dictN)
        var i = 0
        while (i < dictN) { dict(i) = getValue(); i += 1 }
        val idx = readFrame(cur, n, 4)
        i = 0
        while (i < n) {
          val k = idx(i)
          if (k < 0 || k >= dictN) throw corrupt(s"dict index $k of $dictN entries")
          out(i) = dict(k.toInt)
          i += 1
        }
      case Codec.Freq =>
        need(cur, end, width + 8, "freq header")
        val top = getValue()
        val ex = cur.getIntLE()
        val rbLen = cur.getIntLE()
        if (ex < 0 || ex > n) throw corrupt(s"freq exception count $ex of $n values")
        if (rbLen < 0 || rbLen > end - cur.pos)
          throw corrupt(s"freq bitmap of $rbLen bytes, ${end - cur.pos} left in the frame")
        val rb = new RoaringBitmap()
        try rb.deserialize(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(cur.arr, cur.pos, rbLen)))
        catch { case e: Exception => throw corrupt(s"freq bitmap: $e") }
        if (rb.getLongCardinality != ex)
          throw corrupt(s"freq bitmap holds ${rb.getLongCardinality} positions for $ex exceptions")
        if (ex > 0 && Integer.toUnsignedLong(rb.last()) >= n)
          throw corrupt(s"freq position ${Integer.toUnsignedLong(rb.last())} of $n values")
        cur.skip(rbLen)
        val exceptions = readFrame(cur, ex, width)
        java.util.Arrays.fill(out, 0, n, top)
        val it = rb.getIntIterator
        var k = 0
        while (it.hasNext) { out(it.next()) = exceptions(k); k += 1 }
      case Codec.Bitpack =>
        need(cur, end, 9, "bitpack header")
        val base = cur.getLongLE()
        val bits = packedBits(cur, end, n)
        unpack(cur, n, bits, base, out)
      case Codec.DeltaBitpack =>
        need(cur, end, 9, "deltabitpack header")
        val first = cur.getLongLE()
        val bits = packedBits(cur, end, n)
        unpack(cur, n, bits, 0L, out)
        if (n > 0) {
          out(0) = first
          var i = 1
          while (i < n) { out(i) = out(i - 1) + out(i); i += 1 }
        }
      case other => throw new java.io.IOException(s"unknown integer codec $other")
    }
    cur.pos = end
    out
  }

  private[format] def need(cur: ByteCursor, end: Int, bytes: Int, what: String): Unit =
    if (end - cur.pos < bytes)
      throw corrupt(s"$what of $bytes bytes exceeds the ${end - cur.pos} left in the frame")

  /** A bit-packed payload's width byte, checked against the frame. */
  private def packedBits(cur: ByteCursor, end: Int, n: Int): Int = {
    val bits = cur.getByte()
    if (bits > 64) throw corrupt(s"bit width $bits")
    val bytes = (n.toLong * bits + 7) / 8
    if (bytes > end - cur.pos)
      throw corrupt(s"$n values of $bits bits in ${end - cur.pos} bytes")
    bits
  }

  private def unpack(cur: ByteCursor, n: Int, bits: Int, base: Long, out: Array[Long]): Unit = {
    if (bits == 0) {
      java.util.Arrays.fill(out, 0, n, base)
      return
    }
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val arr = cur.arr
    var acc = 0L
    var accBits = 0
    var p = cur.pos
    var i = 0
    while (i < n) {
      if (accBits >= bits) {
        out(i) = (acc & mask) + base
        acc = if (bits == 64) 0L else acc >>> bits
        accBits -= bits
      } else {
        // refill a whole word (reads past the payload are masked out and the
        // caller repositions the cursor from the frame length afterwards)
        var next = 0L
        var nb = 0
        while (nb < 8 && p < arr.length) {
          next |= (arr(p) & 0xffL) << (8 * nb)
          p += 1
          nb += 1
        }
        val low = accBits
        out(i) = ((acc | (next << low)) & mask) + base
        val consumed = bits - low
        acc = if (consumed == 64) 0L else next >>> consumed
        accBits = nb * 8 - consumed
      }
      i += 1
    }
  }
}
