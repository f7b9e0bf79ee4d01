package graft.format

/** Positional-read abstraction so the same reader serves local files and
  * Hadoop/object-store streams (the reference's async footer pre-read,
  * `/root/reference/src/read/reader.rs:180-225`, becomes a ranged tail read).
  */
trait SeekableInput extends java.io.Closeable {
  def length: Long
  def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit
  final def readRange(pos: Long, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    readFully(pos, b, 0, len)
    b
  }
}

final class LocalFileInput(path: java.nio.file.Path) extends SeekableInput {
  private val ch = java.nio.channels.FileChannel.open(path, java.nio.file.StandardOpenOption.READ)
  val length: Long = ch.size()
  def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit = {
    val bb = java.nio.ByteBuffer.wrap(dst, off, len)
    var p = pos
    while (bb.hasRemaining) {
      val r = ch.read(bb, p)
      if (r < 0) throw new java.io.EOFException(s"eof at $p in $path")
      p += r
    }
  }
  def close(): Unit = ch.close()
}

final case class Footer(schemaJson: String, leaves: Array[ColumnMeta])

object GraftFileReader {
  private val TailPreRead = 64 * 1024 // one ranged read covers most footers

  private def corrupt(msg: String) = new java.io.IOException(s"graft: corrupt footer: $msg")

  /** Parses the footer. Every length and count it reads is checked against
    * the bytes that can hold it, so a damaged tail fails with an
    * IOException instead of a huge allocation or an out-of-range read.
    */
  def readFooter(in: SeekableInput): Footer = {
    val fileLen = in.length
    if (fileLen < 32) throw new java.io.IOException(s"graft: file too small: $fileLen bytes")
    val preLen = math.min(fileLen, TailPreRead.toLong).toInt
    var tail = in.readRange(fileLen - preLen, preLen)
    var tailStartsAt = fileLen - preLen

    // tail: ... schema | meta | schemaSize u32 | metaSize u32 | magic 8B
    val magicOff = preLen - 8
    var cur = new ByteCursor(tail, preLen - 16)
    val schemaSize = cur.getIntLE()
    val metaSize = cur.getIntLE()
    val trailing = java.util.Arrays.copyOfRange(tail, magicOff, magicOff + 8)
    val isV4 = java.util.Arrays.equals(trailing, FormatConstants.MagicV4)
    if (!java.util.Arrays.equals(trailing, FormatConstants.Magic) &&
      !java.util.Arrays.equals(trailing, FormatConstants.MagicV3) && !isV4) {
      if (java.util.Arrays.equals(trailing, FormatConstants.MagicV1))
        throw new java.io.IOException(
          "graft: file was written by format version 001 (pre-i128 lane); " +
            "its pages are not decodable by this version — rewrite the table")
      throw new java.io.IOException("bad trailing magic: not a graft file")
    }

    // the footer sits after the 8-byte leading magic
    val footerLen = schemaSize.toLong + metaSize + 16
    if (schemaSize < 0 || metaSize < 0 || footerLen > math.min(fileLen - 8, Int.MaxValue))
      throw corrupt(s"schema size $schemaSize + meta size $metaSize do not fit a $fileLen-byte file")
    if (footerLen > preLen) {
      tail = in.readRange(fileLen - footerLen, footerLen.toInt)
      tailStartsAt = fileLen - footerLen
    }
    val base = tail.length - 16 - metaSize - schemaSize
    val schemaJson = new String(tail, base, schemaSize, "UTF-8")
    cur = new ByteCursor(tail, base + schemaSize)
    val metaEnd = tail.length - 16
    // `bytes` must remain in the meta block before the next read
    def need(bytes: Long, what: => String): Unit =
      if (bytes < 0 || bytes > metaEnd - cur.pos)
        throw corrupt(s"$what needs $bytes bytes, ${metaEnd - cur.pos} left in the meta block")
    need(4, "leaf count")
    val nLeaves = cur.getIntLE()
    need(nLeaves * 12L, s"leaf count $nLeaves") // u64 offset + u32 page count each
    val leaves = new Array[ColumnMeta](nLeaves)
    var i = 0
    while (i < nLeaves) {
      need(12, s"leaf $i")
      val offset = cur.getLongLE()
      val nPages = cur.getIntLE()
      need(nPages * 9L, s"leaf $i page count $nPages") // u32 len + u32 nv + u8 kind each
      val pages = new Array[PageMeta](nPages)
      var p = 0
      while (p < nPages) {
        need(9, s"leaf $i page $p")
        val len = cur.getIntLE()
        val nv = cur.getIntLE()
        val kindByte = cur.getByte()
        // known bits: 0x0f stats kind + 0x10 appended-bloom flag. A set
        // bit this reader doesn't know may imply appended bytes it cannot
        // skip — silently masking it would corrupt every following page
        // meta, so unknown high bits are a hard error (the same posture as
        // the magic version gate).
        if ((kindByte & 0xe0) != 0)
          throw new java.io.IOException(
            f"graft: page meta kind byte 0x$kindByte%02x has unknown flag bits — " +
              "file was written by a newer format version")
        val kind = (kindByte & 0x0f).toByte // bit 0x10 flags an appended bloom
        def stats = s"leaf $i page $p stats"
        val base =
          if (kind == 4) {
            need(1, stats)
            val minLen = cur.getByte() & 0xff
            need(minLen + 1, stats)
            val minBin = cur.getBytes(minLen)
            val maxLen = cur.getByte() & 0xff
            need((if (maxLen == 0xff) 0 else maxLen) + 4, stats)
            val maxBin = if (maxLen == 0xff) null else cur.getBytes(maxLen)
            PageMeta(len, nv, kind, 0L, 0L, cur.getIntLE(), minBin, maxBin)
          } else if (kind != 0) {
            need(20, stats)
            PageMeta(len, nv, kind, cur.getLongLE(), cur.getLongLE(), cur.getIntLE())
          } else PageMeta(len, nv)
        pages(p) =
          if ((kindByte & 0x10) != 0) {
            need(4, s"leaf $i page $p bloom")
            val bloomLen = cur.getIntLE()
            need(bloomLen, s"leaf $i page $p bloom length $bloomLen")
            base.copy(bloom = cur.getBytes(bloomLen))
          } else base
        p += 1
      }
      // v004: optional per-leaf KMV ndv synopsis after the page list
      val (kmv, kmvK) =
        if (!isV4) (null, 0)
        else if ({ need(1, s"leaf $i ndv flag"); cur.getByte() == 0 }) (null, 0)
        else {
          need(8, s"leaf $i ndv synopsis")
          val k = cur.getIntLE()
          val n = cur.getIntLE()
          need(n * 8L, s"leaf $i ndv synopsis size $n")
          val arr = new Array[Long](n)
          var j = 0
          while (j < n) { arr(j) = cur.getLongLE(); j += 1 }
          (arr, k)
        }
      leaves(i) = ColumnMeta(offset, pages, kmv, kmvK)
      i += 1
    }
    Footer(schemaJson, leaves)
  }
}

/** Decodes the pages of one leaf column. Without pruning, the whole leaf
  * byte range is fetched in ONE ranged read (object-store friendly). With a
  * `needed` page mask (zone-map pruning), only contiguous runs of needed
  * pages are fetched — pruned byte ranges are never read.
  */
final class LeafReader(in: SeekableInput, meta: ColumnMeta, lane: Int, nullable: Boolean,
    needed: Array[Boolean] = null) {
  private lazy val pageOffsets: Array[Int] = {
    val o = new Array[Int](meta.pages.length + 1)
    var i = 0
    while (i < meta.pages.length) { o(i + 1) = o(i) + meta.pages(i).length; i += 1 }
    o
  }

  // with a page mask, allocate only the span between the first and last
  // needed page — a page-range split of a large file must not allocate the
  // whole leaf per task
  private lazy val spanBase: Int = {
    if (needed == null) 0
    else {
      var p = 0
      while (p < meta.pages.length && !needed(p)) p += 1
      if (p >= meta.pages.length) 0 else pageOffsets(p)
    }
  }
  private lazy val bytes: Array[Byte] = {
    if (needed == null) in.readRange(meta.offset, meta.totalBytes.toInt)
    else {
      var last = meta.pages.length - 1
      while (last >= 0 && !needed(last)) last -= 1
      if (last < 0) new Array[Byte](0)
      else {
        val buf = new Array[Byte](pageOffsets(last + 1) - spanBase)
        var p = 0
        while (p <= last) {
          if (needed(p)) {
            var q = p
            while (q <= last && needed(q)) q += 1
            in.readFully(meta.offset + pageOffsets(p), buf,
              pageOffsets(p) - spanBase, pageOffsets(q) - pageOffsets(p))
            p = q
          } else p += 1
        }
        buf
      }
    }
  }

  def numPages: Int = meta.pages.length

  /** Force this leaf's ranged fetch NOW (async prefetch — the Spark scan
    * submits one of these per projected leaf to a shared pool, so a split's
    * leaf reads overlap instead of serializing on first decode access; on
    * an object store that turns latency x leaves into latency x 1).
    * `bytes` is a lazy val, so initialization is synchronized: the decode
    * thread either finds the fetch done or blocks on the in-flight one —
    * the range is never read twice. Hadoop positioned reads are
    * thread-safe by the PositionedReadable contract.
    */
  def prefetch(): Unit = { val _ = bytes; () }

  /** Raw page access for callers that decode straight into their own
    * columnar sinks (e.g. Spark vectors) without a Vec materialization.
    */
  def pageBytes: Array[Byte] = bytes
  def pageStart(p: Int): Int = pageOffsets(p) - spanBase

  def readPage(p: Int): Vec = {
    val cur = new ByteCursor(bytes, pageOffsets(p) - spanBase)
    PageDeserializer.readPage(lane, nullable, meta.pages(p).numValues, cur)
  }

  /** Decode all pages and concatenate into one Vec (batch-read path,
    * reference analogue `/root/reference/src/read/batch_read.rs`). The
    * leaf's bytes are fetched on the calling thread; a leaf of several
    * pages is then decoded one job per page on [[PageJobs]] and assembled
    * in parallel by [[VecConcat.concatParallel]]. The result equals
    * `VecConcat.concat` over `readPage` of every page, and the first page
    * failure is rethrown as the same exception.
    */
  def readAll(): Vec = {
    if (needed != null)
      throw new IllegalStateException("graft: readAll on a page-masked leaf reader; read its pages with readPage")
    if (numPages == 1) return readPage(0)
    prefetch()
    val pages = new Array[Vec](numPages)
    PageJobs.run(numPages)(p => pages(p) = readPage(p))
    VecConcat.concatParallel(lane, pages)
  }
}

object VecConcat {
  /** The pages' rows in order, as one Vec: a null mask only when some page
    * has one, binary offsets rebased onto the concatenated bytes.
    */
  def concat(lane: Int, pages: Seq[Vec]): Vec = {
    val total = pages.map(_.n).sum
    val anyNulls = pages.exists(_.nulls != null)
    val nulls = if (anyNulls) new Array[Boolean](total) else null
    if (anyNulls) {
      var p0 = 0
      pages.foreach { pg =>
        if (pg.nulls != null) System.arraycopy(pg.nulls, 0, nulls, p0, pg.n)
        p0 += pg.n
      }
    }
    lane match {
      case Lane.Bool =>
        val v = new Array[Boolean](total)
        var p0 = 0
        pages.foreach { pg => System.arraycopy(pg.asInstanceOf[BoolVec].values, 0, v, p0, pg.n); p0 += pg.n }
        BoolVec(total, nulls, v)
      case Lane.I8 | Lane.I16 | Lane.I32 =>
        val v = new Array[Int](total)
        var p0 = 0
        pages.foreach { pg => System.arraycopy(pg.asInstanceOf[IntVec].values, 0, v, p0, pg.n); p0 += pg.n }
        IntVec(total, nulls, v)
      case Lane.I64 =>
        val v = new Array[Long](total)
        var p0 = 0
        pages.foreach { pg => System.arraycopy(pg.asInstanceOf[LongVec].values, 0, v, p0, pg.n); p0 += pg.n }
        LongVec(total, nulls, v)
      case Lane.F32 =>
        val v = new Array[Float](total)
        var p0 = 0
        pages.foreach { pg => System.arraycopy(pg.asInstanceOf[FloatVec].values, 0, v, p0, pg.n); p0 += pg.n }
        FloatVec(total, nulls, v)
      case Lane.F64 =>
        val v = new Array[Double](total)
        var p0 = 0
        pages.foreach { pg => System.arraycopy(pg.asInstanceOf[DoubleVec].values, 0, v, p0, pg.n); p0 += pg.n }
        DoubleVec(total, nulls, v)
      case Lane.Bin =>
        val byteTotal = pages.map(p => p.asInstanceOf[BinaryVec].offsets(p.n)).sum
        val offs = new Array[Int](total + 1)
        val bytes = new Array[Byte](byteTotal)
        var p0 = 0
        var b0 = 0
        pages.foreach { pg =>
          val bv = pg.asInstanceOf[BinaryVec]
          var i = 0
          while (i < bv.n) { offs(p0 + i + 1) = b0 + bv.offsets(i + 1); i += 1 }
          System.arraycopy(bv.bytes, 0, bytes, b0, bv.offsets(bv.n))
          b0 += bv.offsets(bv.n)
          p0 += bv.n
        }
        BinaryVec(total, nulls, offs, bytes)
      case Lane.I128 =>
        val hi = new Array[Long](total)
        val lo = new Array[Long](total)
        var p0 = 0
        pages.foreach { pg =>
          val dv = pg.asInstanceOf[DecimalVec]
          System.arraycopy(dv.hi, 0, hi, p0, pg.n)
          System.arraycopy(dv.lo, 0, lo, p0, pg.n)
          p0 += pg.n
        }
        DecimalVec(total, nulls, hi, lo)
    }
  }

  /** [[concat]] with one copy job per page on [[PageJobs]]: each page's
    * values, null flags and, for binary pages, rebased offsets and bytes go
    * to its row offset in one preallocated output; binary byte offsets come
    * from one prefix sum over the pages' byte lengths.
    */
  private[format] def concatParallel(lane: Int, pages: Array[Vec]): Vec = {
    val np = pages.length
    val rowAt = pages.scanLeft(0)(_ + _.n)
    val total = rowAt(np)
    val nulls = if (pages.exists(_.nulls != null)) new Array[Boolean](total) else null
    val byteAt =
      if (lane != Lane.Bin) null
      else pages.scanLeft(0) { (b, pg) => val bv = pg.asInstanceOf[BinaryVec]; b + bv.offsets(bv.n) }
    val out: Vec = lane match {
      case Lane.Bool => BoolVec(total, nulls, new Array[Boolean](total))
      case Lane.I8 | Lane.I16 | Lane.I32 => IntVec(total, nulls, new Array[Int](total))
      case Lane.I64 => LongVec(total, nulls, new Array[Long](total))
      case Lane.F32 => FloatVec(total, nulls, new Array[Float](total))
      case Lane.F64 => DoubleVec(total, nulls, new Array[Double](total))
      case Lane.Bin => BinaryVec(total, nulls, new Array[Int](total + 1), new Array[Byte](byteAt(np)))
      case Lane.I128 => DecimalVec(total, nulls, new Array[Long](total), new Array[Long](total))
    }
    PageJobs.run(np) { p =>
      val pg = pages(p)
      val at = rowAt(p)
      if (pg.nulls != null) System.arraycopy(pg.nulls, 0, nulls, at, pg.n)
      (pg, out) match {
        case (a: BoolVec, b: BoolVec) => System.arraycopy(a.values, 0, b.values, at, a.n)
        case (a: IntVec, b: IntVec) => System.arraycopy(a.values, 0, b.values, at, a.n)
        case (a: LongVec, b: LongVec) => System.arraycopy(a.values, 0, b.values, at, a.n)
        case (a: FloatVec, b: FloatVec) => System.arraycopy(a.values, 0, b.values, at, a.n)
        case (a: DoubleVec, b: DoubleVec) => System.arraycopy(a.values, 0, b.values, at, a.n)
        case (a: BinaryVec, b: BinaryVec) =>
          val base = byteAt(p)
          var i = 0
          while (i < a.n) { b.offsets(at + i + 1) = base + a.offsets(i + 1); i += 1 }
          System.arraycopy(a.bytes, 0, b.bytes, base, a.offsets(a.n))
        case (a: DecimalVec, b: DecimalVec) =>
          System.arraycopy(a.hi, 0, b.hi, at, a.n)
          System.arraycopy(a.lo, 0, b.lo, at, a.n)
      }
    }
    out
  }
}
