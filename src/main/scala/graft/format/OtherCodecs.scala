package graft.format

import org.roaringbitmap.RoaringBitmap

/** Patas-lineage float compression: XOR against the previous value,
  * byte-aligned (header = trailingZeroBytes<<4 | significantBytes, then the
  * significant XOR bytes). Reference analogue:
  * `/root/reference/src/compression/double/patas.rs:36-202` — same family of
  * technique (DuckDB "patas"), independently designed byte-aligned layout.
  */
object FloatCodecs {

  /** Ring depth for reference selection: each value may XOR against any of
    * the last 128 decoded values, not just the previous one (reference
    * analogue: the best-of-ring selection in
    * `/root/reference/src/compression/double/patas.rs:36-202`). The header
    * byte is (ext << 7 | tz << 4 | sig); ext=0 means "XOR vs previous"
    * (1-byte header, identical cost to the plain XOR-prev scheme on smooth
    * series), ext=1 is followed by a u8 back-offset (2..128) so oscillating
    * series pay one byte to reach a closer reference.
    */
  val RingDepth = 128

  /** patterns: raw bit patterns (u32 in low bits for F32). width = 4 or 8. */
  def estimateSize(patterns: Array[Long], n: Int, width: Int): Long = {
    val ring = new RefIndex(width)
    var size = 0L
    var i = 0
    while (i < n) {
      val (off, xor) = bestRef(patterns, i, width, ring)
      ring.insert(patterns(i), i)
      size += (if (off <= 1) 1 else 2) + sigBytes(xor, tzBytes(xor, width), width)
      i += 1
    }
    size
  }

  @inline private def tzBytes(xor: Long, width: Int): Int =
    if (xor == 0) 0 else math.min(java.lang.Long.numberOfTrailingZeros(xor) >> 3, width - 1)
  @inline private def sigBytes(xor: Long, tz: Int, width: Int): Int =
    if (xor == 0) 0
    else width - tz - math.min((java.lang.Long.numberOfLeadingZeros(xor) - (8 - width) * 8) >> 3, width - 1 - tz)

  /** Hash-indexed ring (the reference's design, patas.rs:36-202): maps the
    * high bits of a pattern — exponent + upper mantissa, the bytes XOR churn
    * rarely touches — to the most recent index carrying them. Reference
    * selection drops from O(RingDepth) to O(1) per value at write with no
    * format change (the offset byte addresses the same 2..128 window).
    */
  private final class RefIndex(width: Int) {
    private val Bits = 10
    private val idx = new Array[Int](1 << Bits) // last index + 1 per key; 0 = empty
    @inline private def key(p: Long): Int = {
      val hi = if (width == 8) p >>> 24 else (p & 0xffffffffL) >>> 12
      (((hi * 0x9E3779B97F4A7C15L) >>> (64 - Bits)).toInt) & ((1 << Bits) - 1)
    }
    @inline def lookup(p: Long): Int = idx(key(p)) - 1
    @inline def insert(p: Long, i: Int): Unit = idx(key(p)) = i + 1
  }

  /** (backOffset, xor) minimizing payload bytes between the previous value
    * and the ring's hash-matched candidate; prefers the previous value on
    * ties (the ring only pays its extra offset byte when it strictly wins).
    * Deterministic: fixed probe order, strict improvement required.
    */
  private def bestRef(patterns: Array[Long], i: Int, width: Int, ring: RefIndex): (Int, Long) = {
    val prevRef = if (i == 0) 0L else patterns(i - 1)
    val prevXor = patterns(i) ^ prevRef
    var bestOff = 1
    var bestXor = prevXor
    var bestCost = 1 + sigBytes(prevXor, tzBytes(prevXor, width), width)
    // a ring candidate costs at least 2 (header + offset byte), so nothing
    // can improve once bestCost <= 2
    if (bestCost > 2) {
      val j = ring.lookup(patterns(i))
      val off = i - j
      if (j >= 0 && off >= 2 && off <= RingDepth) {
        val x = patterns(i) ^ patterns(j)
        val c = 2 + sigBytes(x, tzBytes(x, width), width)
        if (c < bestCost) { bestOff = off; bestXor = x; bestCost = c }
      }
    }
    (bestOff, bestXor)
  }

  def encode(patterns: Array[Long], n: Int, width: Int, out: ByteBuf): Unit = {
    out.putByte(Codec.Patas)
    val lenPos = out.reserve(8)
    val start = out.length
    val ring = new RefIndex(width)
    var i = 0
    while (i < n) {
      val (off, x) = bestRef(patterns, i, width, ring)
      ring.insert(patterns(i), i)
      val tz = tzBytes(x, width)
      val sig = sigBytes(x, tz, width)
      val ext = if (off > 1) 0x80 else 0
      out.putByte(ext | (tz << 4) | sig)
      if (off > 1) out.putByte(off - 1) // 1..127 encodes back-offset 2..128
      var b = 0
      var shifted = x >>> (tz * 8)
      while (b < sig) { out.putByte((shifted & 0xff).toInt); shifted >>>= 8; b += 1 }
      i += 1
    }
    out.patchIntLE(lenPos, out.length - start)
    out.patchIntLE(lenPos + 4, n * width)
  }

  def read(cur: ByteCursor, n: Int, clen: Int, out0: Array[Long] = null): Array[Long] = {
    IntCodecs.checkFrame(cur, clen)
    val end = cur.pos + clen
    // ring references only look backward at entries written THIS page, so a
    // reused buffer cannot leak stale values
    val out = if (out0 != null && out0.length >= n) out0 else new Array[Long](n)
    var i = 0
    while (i < n) {
      // a value is at most MaxValueBytes long: only those near the frame's
      // end have their size checked before any of their bytes are read
      if (end - cur.pos < MaxValueBytes) checkValue(cur, end, i)
      val h = cur.getByte()
      val ext = (h & 0x80) != 0
      val tz = (h >>> 4) & 0x7
      val sig = h & 0xf
      val off = if (ext) cur.getByte() + 1 else 1
      var x = 0L
      var b = 0
      while (b < sig) { x |= (cur.getByte().toLong & 0xff) << (8 * b); b += 1 }
      x <<= tz * 8
      val ref = if (i - off < 0) 0L else out(i - off)
      out(i) = ref ^ x
      i += 1
    }
    cur.pos = end
    out
  }

  /** header byte + back-offset byte + the 15 value bytes a 4-bit size can claim */
  private val MaxValueBytes = 17

  private def checkValue(cur: ByteCursor, end: Int, i: Int): Unit = {
    if (cur.pos >= end) throw IntCodecs.corrupt(s"patas value $i starts at the end of its frame")
    val h = cur.arr(cur.pos) & 0xff
    val size = 1 + (if ((h & 0x80) != 0) 1 else 0) + (h & 0xf)
    if (size > end - cur.pos)
      throw IntCodecs.corrupt(s"patas value $i of $size bytes, ${end - cur.pos} left in the frame")
  }
}

/** OneValue / Dict / Freq for the binary lane (strings, raw bytes, big
  * decimals). Reference analogue: `/root/reference/src/compression/binary/`.
  * Binary Freq exceptions stay PLAIN, not recursively compressed — same
  * deliberate asymmetry as the reference (binary/freq.rs:94-99).
  */
object BinaryCodecs {

  /** A binary page interned by content. Null slots carry the last non-null
    * value (empty before the first). Each distinct value d < unique gets
    * an index in first-seen order and keeps the slice of its first row;
    * `ids` maps rows to indices.
    */
  final class Interned(val bytes: Array[Byte], val n: Int, val ids: Array[Int], val unique: Int,
      val start: Array[Int], val end: Array[Int], val count: Array[Int],
      /** some non-null row holds the value (the zone map covers only these) */
      val live: Array[Boolean],
      /** the first value to reach the highest count */
      val topId: Int) {
    def topCount: Int = count(topId)
    /** summed bytes of every row's value */
    val totalBytes: Long = {
      var t = 0L; var d = 0
      while (d < unique) { t += count(d).toLong * length(d); d += 1 }
      t
    }
    @inline def length(d: Int): Int = end(d) - start(d)
    def compare(a: Int, b: Int): Int =
      java.util.Arrays.compareUnsigned(bytes, start(a), end(a), bytes, start(b), end(b))
    def prefix(d: Int, maxLen: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, start(d), start(d) + math.min(length(d), maxLen))
  }

  /** Content hash of bytes[s, e), eight bytes per step. */
  private def hashSlice(lw: java.nio.ByteBuffer, bytes: Array[Byte], s: Int, e: Int): Long = {
    var h = (e - s).toLong
    var p = s
    while (p + 8 <= e) { h = (h ^ lw.getLong(p)) * 0x9E3779B97F4A7C15L; p += 8 }
    var tail = 0L
    while (p < e) { tail = (tail << 8) | (bytes(p) & 0xffL); p += 1 }
    h = (h ^ tail) * 0x9E3779B97F4A7C15L
    h ^ (h >>> 29)
  }

  /** bytes[s1, e1) == bytes[s2, e2); short slices (flags, codes) skip the
    * range-checked library call. */
  @inline private def sameBytes(bytes: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Boolean = {
    val len = e1 - s1
    if (len != e2 - s2) false
    else if (len > 16) java.util.Arrays.equals(bytes, s1, e1, bytes, s2, e2)
    else {
      var k = 0
      while (k < len && bytes(s1 + k) == bytes(s2 + k)) k += 1
      k == len
    }
  }

  /** Intern rows [from, until) of `vec` in one open-addressing table keyed
    * by content (hash, then byte equality). Counts and the top value come
    * after the row loop from the row indices and each value's last row: the
    * first value to reach the highest count is, among the values with that
    * count, the one whose last row comes first.
    */
  def intern(vec: BinaryVec, from: Int, until: Int): Interned = {
    val n = until - from
    val bytes = vec.bytes
    val offs = vec.offsets
    val nulls = vec.nulls
    val lw = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val bits = IntCodecs.tableBits(n)
    val shift = 64 - bits
    val mask = (1 << bits) - 1
    val slots = new Array[Int](1 << bits) // value index + 1; 0 = empty
    val hashes = new Array[Long](1 << bits)
    val ids = new Array[Int](n)
    // per value, growing with the distinct count
    var start = new Array[Int](math.min(n, 64))
    var end = new Array[Int](start.length)
    var last = new Array[Int](start.length)
    var live = new Array[Boolean](start.length)
    var unique = 0
    var s = 0
    var e = 0
    var i = 0
    while (i < n) {
      val isNull = nulls != null && nulls(from + i)
      // a null row repeats the previous row's value: same index
      val d =
        if (isNull && i > 0) ids(i - 1)
        else {
          if (!isNull) { s = offs(from + i); e = offs(from + i + 1) }
          val hv = hashSlice(lw, bytes, s, e)
          var h = IntCodecs.slotOf(hv, shift)
          var found = -1
          while (found < 0 && slots(h) != 0) {
            val c = slots(h) - 1
            if (hashes(h) == hv && sameBytes(bytes, s, e, start(c), end(c))) found = c
            else h = (h + 1) & mask
          }
          if (found >= 0) found
          else {
            if (unique == start.length) {
              val cap = math.min(n, 2 * unique)
              start = java.util.Arrays.copyOf(start, cap)
              end = java.util.Arrays.copyOf(end, cap)
              last = java.util.Arrays.copyOf(last, cap)
              live = java.util.Arrays.copyOf(live, cap)
            }
            start(unique) = s
            end(unique) = e
            unique += 1
            slots(h) = unique
            hashes(h) = hv
            unique - 1
          }
        }
      ids(i) = d
      if (!isNull) live(d) = true
      last(d) = i
      i += 1
    }
    val count = new Array[Int](unique)
    i = 0
    while (i < n) { count(ids(i)) += 1; i += 1 }
    var topId = 0
    var d = 1
    while (d < unique) {
      val c = count(d)
      if (c > count(topId) || (c == count(topId) && last(d) < last(topId))) topId = d
      d += 1
    }
    new Interned(bytes, n, ids, unique, start, end, count, live, topId)
  }

  def tryWrite(p: Interned, opts: WriteOptions, out: ByteBuf): Boolean = {
    val n = p.n
    if (n == 0) return false
    val unique = p.unique
    val topIdx = p.topId
    val topCount = p.topCount
    val plainSize = 4L * (n + 1) + p.totalBytes
    val dictBytes = {
      var s = 0L; var d = 0
      while (d < unique) { s += p.length(d); d += 1 }
      s
    }

    val forced = opts.forcedCodec
    def pick(): Byte = {
      forced match {
        case Some(c) if c == Codec.OneValue || c == Codec.Dict || c == Codec.Freq =>
          return if (c == Codec.OneValue && unique > 1) -1 else c
        case Some(_) => return -1
        case None =>
      }
      if (!opts.adaptive) return -1
      var best: Byte = -1
      var bestSize = Long.MaxValue
      if (unique <= 1) { best = Codec.OneValue; bestSize = 8 + dictBytes }
      else {
        if (unique.toLong * 3 < n) {
          val sz = 4L + 4L * (unique + 1) + dictBytes + 18 +
            (n.toLong * IntCodecs.bitsFor(unique - 1) + 7) / 8
          if (sz < bestSize) { best = Codec.Dict; bestSize = sz }
        }
        if (topCount >= n * 0.9) {
          val exBytes = p.totalBytes - topCount.toLong * p.length(topIdx)
          val sz = 4L + p.length(topIdx) + 8 + (n - topCount).toLong * 6 + 16 + exBytes
          if (sz < bestSize) { best = Codec.Freq; bestSize = sz }
        }
      }
      if (best >= 0 && plainSize.toDouble / bestSize >= opts.compressRatio) best else -1
    }

    val codec = pick()
    if (codec < 0) return false

    out.putByte(codec)
    val lenPos = out.reserve(8)
    val start = out.length
    codec match {
      case Codec.OneValue =>
        out.putIntLE(p.length(0))
        out.putBytes(p.bytes, p.start(0), p.length(0))
      case Codec.Dict =>
        out.putIntLE(unique)
        var off = 0
        out.putIntLE(0)
        var d = 0
        while (d < unique) { off += p.length(d); out.putIntLE(off); d += 1 }
        d = 0
        while (d < unique) { out.putBytes(p.bytes, p.start(d), p.length(d)); d += 1 }
        val indices = new Array[Long](n)
        var i = 0
        while (i < n) { indices(i) = p.ids(i).toLong; i += 1 }
        IntCodecs.writeFrame(indices, n, 4, opts, 1L << Codec.Dict, out)
      case Codec.Freq =>
        out.putIntLE(p.length(topIdx))
        out.putBytes(p.bytes, p.start(topIdx), p.length(topIdx))
        val rb = new RoaringBitmap()
        var ex = 0
        var i = 0
        while (i < n) { if (p.ids(i) != topIdx) { rb.add(i); ex += 1 }; i += 1 }
        out.putIntLE(ex)
        rb.runOptimize()
        val bos = new java.io.ByteArrayOutputStream()
        rb.serialize(new java.io.DataOutputStream(bos))
        val rbBytes = bos.toByteArray
        out.putIntLE(rbBytes.length)
        out.putBytes(rbBytes)
        // exceptions: (ex+1) u32 offsets then bytes, PLAIN
        var off = 0
        out.putIntLE(0)
        i = 0
        while (i < n) {
          if (p.ids(i) != topIdx) { off += p.length(p.ids(i)); out.putIntLE(off) }
          i += 1
        }
        i = 0
        while (i < n) {
          val d = p.ids(i)
          if (d != topIdx) out.putBytes(p.bytes, p.start(d), p.length(d))
          i += 1
        }
    }
    out.patchIntLE(lenPos, out.length - start)
    out.patchIntLE(lenPos + 4, plainSize.toInt)
    true
  }

  /** A Dict page's dictionary, in place: entry d is the page bytes
    * [base + offs(d), base + offs(d + 1)); `ids` holds each row's entry.
    */
  final class Dict(val offs: Array[Int], val base: Int, val ids: Array[Long]) {
    @inline def size: Int = offs.length - 1
    @inline def length(d: Int): Int = offs(d + 1) - offs(d)
  }

  /** Parse a Dict payload (cursor after the frame header) and check it: the
    * dictionary offsets must not decrease and must stay inside the payload,
    * and every index must name an entry.
    */
  def readDict(cur: ByteCursor, n: Int, clen: Int): Dict = {
    IntCodecs.checkFrame(cur, clen)
    val dictN = cur.getIntLE()
    if (dictN < 0 || (dictN + 1L) * 4 > clen - 4L)
      throw IntCodecs.corrupt(s"binary dict size $dictN does not fit $clen bytes")
    val room = clen - 4 - 4 * (dictN + 1)
    val offs = new Array[Int](dictN + 1)
    var prev = 0
    var i = 0
    while (i <= dictN) {
      val o = cur.getIntLE()
      if (o < prev || o > room)
        throw IntCodecs.corrupt(s"binary dict offset $o at entry $i (previous $prev, room $room)")
      offs(i) = o
      prev = o
      i += 1
    }
    val base = cur.pos
    cur.skip(offs(dictN))
    val ids = IntCodecs.readFrame(cur, n, 4)
    i = 0
    while (i < n) {
      val k = ids(i)
      if (k < 0 || k >= dictN) throw IntCodecs.corrupt(s"dict index $k of $dictN entries")
      i += 1
    }
    new Dict(offs, base, ids)
  }

  def read(codec: Byte, cur: ByteCursor, n: Int, nulls: Array[Boolean], clen: Int): BinaryVec = {
    IntCodecs.checkFrame(cur, clen)
    val end = cur.pos + clen
    val res = codec match {
      case Codec.OneValue =>
        IntCodecs.need(cur, end, 4, "binary onevalue length")
        val len = cur.getIntLE()
        if (len < 0 || len > end - cur.pos)
          throw IntCodecs.corrupt(s"binary onevalue of $len bytes, ${end - cur.pos} left in the frame")
        if (len.toLong * n > Int.MaxValue)
          throw IntCodecs.corrupt(s"binary onevalue of $len bytes x $n values does not fit an array")
        val value = new Array[Byte](len)
        System.arraycopy(cur.arr, cur.pos, value, 0, len)
        cur.skip(len)
        val offs = new Array[Int](n + 1)
        val bytes = new Array[Byte](len * n)
        var i = 0
        while (i < n) {
          System.arraycopy(value, 0, bytes, i * len, len)
          offs(i + 1) = (i + 1) * len
          i += 1
        }
        BinaryVec(n, nulls, offs, bytes)
      case Codec.Dict =>
        val d = readDict(cur, n, clen)
        val offs = new Array[Int](n + 1)
        var total = 0
        var i = 0
        while (i < n) { total += d.length(d.ids(i).toInt); offs(i + 1) = total; i += 1 }
        val bytes = new Array[Byte](total)
        i = 0
        while (i < n) {
          val k = d.ids(i).toInt
          System.arraycopy(cur.arr, d.base + d.offs(k), bytes, offs(i), d.length(k))
          i += 1
        }
        BinaryVec(n, nulls, offs, bytes)
      case Codec.Freq =>
        IntCodecs.need(cur, end, 4, "binary freq top length")
        val topLen = cur.getIntLE()
        if (topLen < 0 || topLen > end - cur.pos - 8L)
          throw IntCodecs.corrupt(s"binary freq top value of $topLen bytes, ${end - cur.pos} left in the frame")
        val top = new Array[Byte](topLen)
        System.arraycopy(cur.arr, cur.pos, top, 0, topLen)
        cur.skip(topLen)
        val ex = cur.getIntLE()
        val rbLen = cur.getIntLE()
        if (ex < 0 || ex > n) throw IntCodecs.corrupt(s"binary freq exception count $ex of $n values")
        if (rbLen < 0 || rbLen > end - cur.pos)
          throw IntCodecs.corrupt(s"binary freq bitmap of $rbLen bytes, ${end - cur.pos} left in the frame")
        val rb = new RoaringBitmap()
        try rb.deserialize(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(cur.arr, cur.pos, rbLen)))
        catch { case e: Exception => throw IntCodecs.corrupt(s"binary freq bitmap: $e") }
        if (rb.getLongCardinality != ex)
          throw IntCodecs.corrupt(s"binary freq bitmap holds ${rb.getLongCardinality} positions for $ex exceptions")
        if (ex > 0 && Integer.toUnsignedLong(rb.last()) >= n)
          throw IntCodecs.corrupt(s"binary freq position ${Integer.toUnsignedLong(rb.last())} of $n values")
        cur.skip(rbLen)
        if ((ex + 1L) * 4 > end - cur.pos)
          throw IntCodecs.corrupt(s"binary freq offsets of $ex exceptions, ${end - cur.pos} bytes left in the frame")
        val room = end - cur.pos - 4 * (ex + 1)
        val exOffs = new Array[Int](ex + 1)
        var i = 0
        while (i <= ex) {
          val o = cur.getIntLE()
          if (o < (if (i == 0) 0 else exOffs(i - 1)) || o > room)
            throw IntCodecs.corrupt(s"binary freq exception offset $o at entry $i (room $room)")
          exOffs(i) = o
          i += 1
        }
        if (topLen.toLong * (n - ex) + exOffs(ex) - exOffs(0) > Int.MaxValue)
          throw IntCodecs.corrupt(s"binary freq values of $n rows do not fit an array")
        val exBytesStart = cur.pos
        val isEx = new Array[Boolean](n)
        val it = rb.getIntIterator
        while (it.hasNext) isEx(it.next()) = true
        val offs = new Array[Int](n + 1)
        var total = 0
        var k = 0
        i = 0
        while (i < n) {
          val len = if (isEx(i)) { val l = exOffs(k + 1) - exOffs(k); k += 1; l } else topLen
          total += len
          offs(i + 1) = total
          i += 1
        }
        val bytes = new Array[Byte](total)
        k = 0
        i = 0
        while (i < n) {
          if (isEx(i)) {
            System.arraycopy(cur.arr, exBytesStart + exOffs(k), bytes, offs(i), exOffs(k + 1) - exOffs(k))
            k += 1
          } else System.arraycopy(top, 0, bytes, offs(i), topLen)
          i += 1
        }
        BinaryVec(n, nulls, offs, bytes)
      case other => throw new java.io.IOException(s"unknown binary codec $other")
    }
    cur.pos = end
    res
  }
}

/** OneValue / RLE for booleans (reference analogue:
  * `/root/reference/src/compression/boolean/`).
  */
object BoolCodecs {

  def tryWrite(vec: BoolVec, from: Int, until: Int, opts: WriteOptions,
      out: ByteBuf): Boolean = {
    val n = until - from
    if (n == 0) return false
    val nulls = vec.nulls
    // effective: null -> last value
    val eff = new Array[Boolean](n)
    var last = false
    var i = 0
    var runCount = 0
    var unique1 = true
    while (i < n) {
      if (nulls == null || !nulls(from + i)) last = vec.values(from + i)
      eff(i) = last
      if (i == 0) runCount = 1
      else if (eff(i) != eff(i - 1)) { runCount += 1; unique1 = false }
      i += 1
    }
    val plainSize = (n + 7) / 8

    val codec: Byte = opts.forcedCodec match {
      case Some(c) if c == Codec.OneValue => if (unique1) Codec.OneValue else -1
      case Some(c) if c == Codec.Rle => Codec.Rle
      case Some(_) => -1
      case None =>
        if (!opts.adaptive) (-1).toByte
        else if (unique1) Codec.OneValue
        else if (runCount.toLong * 5 * opts.compressRatio <= plainSize) Codec.Rle
        else -1
    }
    if (codec < 0) return false

    out.putByte(codec)
    val lenPos = out.reserve(8)
    val start = out.length
    codec match {
      case Codec.OneValue =>
        out.putByte(if (eff(0)) 1 else 0)
      case Codec.Rle =>
        val rcPos = out.reserve(4)
        var runs = 0
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n && eff(j) == eff(i)) j += 1
          out.putIntLE(j - i)
          out.putByte(if (eff(i)) 1 else 0)
          runs += 1
          i = j
        }
        out.patchIntLE(rcPos, runs)
    }
    out.patchIntLE(lenPos, out.length - start)
    out.patchIntLE(lenPos + 4, plainSize)
    true
  }

  def read(codec: Byte, cur: ByteCursor, n: Int, nulls: Array[Boolean], clen: Int): BoolVec = {
    IntCodecs.checkFrame(cur, clen)
    val end = cur.pos + clen
    val values = new Array[Boolean](n)
    codec match {
      case Codec.OneValue =>
        IntCodecs.need(cur, end, 1, "boolean onevalue")
        val v = cur.getByte() != 0
        java.util.Arrays.fill(values, v)
      case Codec.Rle =>
        IntCodecs.need(cur, end, 4, "boolean rle run count")
        val runs = cur.getIntLE()
        if (runs < 0 || runs.toLong * 5 > end - cur.pos)
          throw IntCodecs.corrupt(s"boolean rle run count $runs does not fit $clen bytes")
        var pos = 0
        var r = 0
        while (r < runs) {
          val cnt = cur.getIntLE()
          if (cnt < 0 || cnt > n - pos) throw IntCodecs.corrupt(s"boolean rle run of $cnt at value $pos of $n")
          val v = cur.getByte() != 0
          java.util.Arrays.fill(values, pos, pos + cnt, v)
          pos += cnt
          r += 1
        }
        if (pos != n) throw IntCodecs.corrupt(s"boolean rle runs cover $pos of $n values")
      case other => throw new java.io.IOException(s"unknown boolean codec $other")
    }
    cur.pos = end
    BoolVec(n, nulls, values)
  }
}
