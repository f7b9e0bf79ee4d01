package graft.format

import scala.collection.mutable.ArrayBuffer

/** Streaming writer for one `.graft` file.
  *
  * File layout (this library's spec; structural analogue of the reference's
  * `/root/reference/src/write/writer.rs:91-167`):
  * {{{
  *   magic (8B: "GRAFT002"; "GRAFT003" when blooms may be present;
  *          "GRAFT004" when per-leaf KMV ndv synopses may be present)
  *   leaf 0 pages | leaf 1 pages | ...          (depth-first leaf order)
  *   schema bytes (UTF-8 JSON of the Spark StructType)
  *   meta block:
  *     u32 leafCount
  *     per leaf: u64 offset | u32 pageCount
  *       per page: u32 length | u32 numValues | u8 statsKind
  *                 [u64 min | u64 max | u32 nullCount]  (iff statsKind != 0)
  *                 [u32 bloomLen | bloom bytes]         (iff v003+ bloom leaf)
  *       v004 only, per leaf after its page list: KMV ndv synopsis —
  *         u8 presence | [u32 k | u32 count | count x u64 hashes, ascending]
  *   u32 schemaSize | u32 metaSize | magic (8B)
  * }}}
  * Like the reference (writer.rs:108-112), exactly one chunk per file —
  * callers roll files. Within the chunk, pages are encoded in parallel on
  * the shared [[PageJobs.pool]] and written in the order above.
  */
final class GraftFileWriter(out: java.io.OutputStream, schemaJson: String,
    opts: WriteOptions = WriteOptions()) {

  private var pos: Long = 0L
  private var state = 0 // 0=new 1=started 2=chunk written 3=finished
  // bloom-bearing files declare format version 003 (a 002 reader would
  // misparse the appended bloom sections); bloom-less files stay 002
  private val magic: Array[Byte] =
    if (opts.ndvLeaves.nonEmpty) FormatConstants.MagicV4
    else if (opts.bloomLeaves.nonEmpty) FormatConstants.MagicV3
    else FormatConstants.Magic
  private val metasBuf = ArrayBuffer[ColumnMeta]()
  // the calling thread's encode buffers (each helper allocates its own)
  private val pageBuf = new ByteBuf(1 << 16)
  private val scratch = new ByteBuf(1 << 16)

  def metas: Array[ColumnMeta] = metasBuf.toArray
  def bytesWritten: Long = pos

  private def emit(b: ByteBuf): Unit = { b.writeTo(out); pos += b.length; b.reset() }

  def start(): Unit = {
    require(state == 0, "already started")
    out.write(magic)
    pos += magic.length
    state = 1
  }

  /** Encode and write the file's one chunk. Pages are encoded concurrently
    * (see [[encodeAll]]) and written in depth-first leaf order, each
    * leaf's pages in row order, so the bytes do not depend on which thread
    * encoded what. An exception from any page or synopsis propagates
    * unchanged.
    */
  def writeChunk(cols: Seq[ColumnTree], numRows: Int): Unit = {
    require(state == 1, "writeChunk: writer not in started state (one chunk per file)")
    val leaves = ArrayBuffer[LeafPlan]()
    val bounds = pageBounds(numRows, opts.pageSize)
    cols.foreach(planTree(_, bounds, leaves))
    encodeAll(leaves.toArray)
    leaves.foreach { lp =>
      val offset = pos
      lp.bytes.foreach { b => out.write(b); pos += b.length }
      metasBuf += ColumnMeta(offset, lp.pages, lp.kmv)
    }
    state = 2
  }

  private def pageBounds(n: Int, pageSize: Int): Array[Int] = {
    val nPages = if (n == 0) 0 else (n + pageSize - 1) / pageSize
    val b = new Array[Int](nPages + 1)
    var i = 0
    while (i <= nPages) { b(i) = math.min(i * pageSize, n); i += 1 }
    b
  }

  /** One leaf of the chunk: its values, page bounds and footer options,
    * and the slots its encoded pages and synopsis are stored in.
    */
  private final class LeafPlan(val lane: Int, val nullable: Boolean, val vec: Vec,
      val bounds: Array[Int], val withBloom: Boolean, val withKmv: Boolean) {
    val pages = new Array[PageMeta](math.max(bounds.length - 1, 0))
    val bytes = new Array[Array[Byte]](pages.length)
    var kmv: Array[Long] = null
  }

  /** Flatten a column tree into `leaves` in depth-first order: the
    * list/map length leaves and nullable-struct validity leaves in front
    * of their children, child leaves paged on the parent's row bounds.
    */
  private def planTree(t: ColumnTree, bounds: Array[Int], leaves: ArrayBuffer[LeafPlan]): Unit = {
    def leaf(lane: Int, nullable: Boolean, vec: Vec, bounds: Array[Int]): Unit = {
      // leaves.length IS this leaf's depth-first index — the same order
      // GraftSchema's leaf layout (and the bloomfilter option resolver) uses
      val i = leaves.length
      leaves += new LeafPlan(lane, nullable, vec, bounds,
        opts.bloomLeaves.contains(i), opts.ndvLeaves.contains(i))
    }
    t match {
      case LeafCol(lane, nullable, vec) =>
        leaf(lane, nullable, vec, bounds)
      case ListCol(nullable, lengths, child) =>
        leaf(Lane.I32, nullable, lengths, bounds)
        planTree(child, childBounds(lengths, bounds), leaves)
      case StructCol(nullable, n, nulls, children) =>
        if (nullable) leaf(Lane.Bool, nullable = true,
          BoolVec(n, nulls, new Array[Boolean](n)), bounds)
        children.foreach(planTree(_, bounds, leaves))
      case MapCol(nullable, lengths, key, value) =>
        leaf(Lane.I32, nullable, lengths, bounds)
        val cb = childBounds(lengths, bounds)
        planTree(key, cb, leaves)
        planTree(value, cb, leaves)
    }
  }

  /** Translate parent-level page bounds into child value bounds via the
    * running sum of per-row lengths.
    */
  private def childBounds(lengths: IntVec, bounds: Array[Int]): Array[Int] = {
    val cb = new Array[Int](bounds.length)
    var bi = 0
    var row = 0
    var cum = 0
    while (bi < bounds.length) {
      while (row < bounds(bi)) {
        if (lengths.nulls == null || !lengths.nulls(row)) cum += lengths.values(row)
        row += 1
      }
      cb(bi) = cum
      bi += 1
    }
    cb
  }

  /** The chunk's encode jobs, one per synopsis leaf and then one per
    * (leaf, page), run on [[PageJobs]] in that claim order (synopses first:
    * each is one serial pass over its leaf). Each thread encodes into its
    * own pair of buffers.
    */
  private def encodeAll(leaves: Array[LeafPlan]): Unit = {
    val kmvJobs = leaves.indices.filter(leaves(_).withKmv).map(i => (i, -1))
    val pageJobs = leaves.indices.flatMap(i => leaves(i).pages.indices.map(p => (i, p)))
    val (jobLeaf, jobPage) = (kmvJobs ++ pageJobs).toArray.unzip
    PageJobs.run(jobLeaf.length, (pageBuf, scratch), () => (new ByteBuf(1 << 16), new ByteBuf(1 << 16))) {
      case (j, (out, tmp)) =>
        val lp = leaves(jobLeaf(j))
        val page = jobPage(j)
        if (page < 0) lp.kmv = GraftFileWriter.buildKmv(lp.lane, lp.vec, lp.bounds.last, opts.ndvK)
        else {
          out.reset()
          lp.pages(page) = PageSerializer.writePage(lp.lane, lp.vec, lp.bounds(page),
            lp.bounds(page + 1), lp.nullable, opts, out, tmp, lp.withBloom)
          lp.bytes(page) = out.toArray
        }
    }
  }

  def finish(): Unit = {
    require(state == 2 || state == 1, "finish: bad state")
    val schemaBytes = schemaJson.getBytes("UTF-8")
    val buf = new ByteBuf(1 << 14)
    buf.putBytes(schemaBytes)
    val metaStart = buf.length
    buf.putIntLE(metasBuf.length)
    metasBuf.foreach { cm =>
      buf.putLongLE(cm.offset)
      buf.putIntLE(cm.pages.length)
      cm.pages.foreach { pm =>
        buf.putIntLE(pm.length)
        buf.putIntLE(pm.numValues)
        // bit 0x10 of the kind byte flags an appended bloom section; the
        // base stats layout is unchanged, so bloom-less files are byte-
        // identical to before
        val hasBloom = pm.bloom != null && pm.statsKind != 0
        buf.putByte(((pm.statsKind & 0x0f) | (if (hasBloom) 0x10 else 0)).toByte)
        if (pm.statsKind == 4) {
          // u8 minLen | minBytes | u8 maxLen | maxBytes | u32 nullCount
          // (maxLen 0xFF = no finite upper bound)
          buf.putByte(pm.minBin.length.toByte)
          buf.putBytes(pm.minBin)
          if (pm.maxBin == null) buf.putByte(0xFF.toByte)
          else { buf.putByte(pm.maxBin.length.toByte); buf.putBytes(pm.maxBin) }
          buf.putIntLE(pm.nullCount)
        } else if (pm.statsKind != 0) {
          buf.putLongLE(pm.minLong)
          buf.putLongLE(pm.maxLong)
          buf.putIntLE(pm.nullCount)
        }
        if (hasBloom) {
          buf.putIntLE(pm.bloom.length)
          buf.putBytes(pm.bloom)
        }
      }
      // v004: per-leaf KMV ndv-synopsis section after the page list
      // (presence u8 | u32 k | u32 count | count x u64 hashes, ascending)
      if (opts.ndvLeaves.nonEmpty) {
        if (cm.kmv == null) buf.putByte(0.toByte)
        else {
          buf.putByte(1.toByte)
          buf.putIntLE(opts.ndvK)
          buf.putIntLE(cm.kmv.length)
          cm.kmv.foreach(buf.putLongLE)
        }
      }
    }
    val metaSize = buf.length - metaStart
    buf.putIntLE(schemaBytes.length)
    buf.putIntLE(metaSize)
    buf.putBytes(magic)
    emit(buf)
    out.flush()
    state = 3
  }
}

object GraftFileWriter {
  /** Per-leaf KMV ndv synopsis: the k smallest distinct portable hashes of
    * the non-null values (KmvUtil hashing — reproducible outside the JVM).
    * Only integer and binary lanes carry one; the Spark layer validates the
    * option, this is the format-level backstop.
    */
  private[format] def buildKmv(lane: Int, vec: Vec, n: Int, k: Int): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    val nulls = vec.nulls
    @inline def live(i: Int) = nulls == null || !nulls(i)
    // once the set holds k hashes, a hash >= its largest is either already
    // in it or would be evicted at once: skip it before boxing
    var full = false
    var last = 0L
    @inline def add(h: Long): Unit =
      if (!full || h < last) {
        set.add(h)
        if (set.size > k) set.pollLast()
        if (k > 0 && set.size == k) { full = true; last = set.last }
      }
    vec match {
      case v: BinaryVec =>
        var i = 0
        while (i < n) {
          if (live(i)) {
            val o = v.offsets(i)
            add(KmvUtil.hashBytes(v.bytes, o, v.offsets(i + 1) - o))
          }
          i += 1
        }
      case v: IntVec if lane == Lane.I8 || lane == Lane.I16 || lane == Lane.I32 =>
        var i = 0
        while (i < n) { if (live(i)) add(KmvUtil.hashLong(v.values(i).toLong)); i += 1 }
      case v: LongVec if lane == Lane.I64 =>
        var i = 0
        while (i < n) { if (live(i)) add(KmvUtil.hashLong(v.values(i))); i += 1 }
      case _ =>
        throw new IllegalArgumentException(
          s"graft: ndv synopsis unsupported for lane $lane — only integer and " +
            "binary leaves have a portable value rendering")
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}
