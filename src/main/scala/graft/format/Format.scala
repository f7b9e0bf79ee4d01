package graft.format

/** Codec byte tags. Tag space mirrors the reference's
  * (`/root/reference/src/compression/mod.rs:64-107`) so the on-disk spec is
  * recognizable, but page payload layouts are THIS library's own spec.
  */
object Codec {
  val None: Byte = 0
  val Lz4: Byte = 1
  val Zstd: Byte = 2
  val Snappy: Byte = 3
  val Rle: Byte = 10
  val Dict: Byte = 11
  val OneValue: Byte = 12
  val Freq: Byte = 13
  val Bitpack: Byte = 14
  val DeltaBitpack: Byte = 15
  val Patas: Byte = 16
  /** i128 page whose values all sign-extend from 64 bits: payload is a
    * nested I64 value-body frame over the low words, so narrow decimals get
    * the whole integer codec family (reference analogue: i128 through the
    * integer traits, `/root/reference/src/compression/integer/traits.rs:30-39`).
    */
  val Wide: Byte = 17

  def isCommon(c: Byte): Boolean = c >= 0 && c <= 3

  def byName(s: String): Byte = s.toLowerCase match {
    case "none" | "uncompressed" => None
    case "lz4"                   => Lz4
    case "zstd"                  => Zstd
    case "snappy"                => Snappy
    case "rle"                   => Rle
    case "dict"                  => Dict
    case "onevalue"              => OneValue
    case "freq"                  => Freq
    case "bitpack" | "bitpacking" => Bitpack
    case "deltabitpack" | "delta_bitpacking" => DeltaBitpack
    case "patas"                 => Patas
    case other => throw new IllegalArgumentException(s"unknown codec: $other")
  }
}

/** Physical lanes. Logical Spark types (Date/Timestamp/Decimal/String) map
  * onto these; the logical type round-trips via the schema in the footer
  * (same approach as the reference, SURVEY.md §1.3).
  */
object Lane {
  val Bool = 0
  val I8 = 1
  val I16 = 2
  val I32 = 3
  val I64 = 4
  val F32 = 5
  val F64 = 6
  val Bin = 7 // strings, binary
  val I128 = 8 // decimals with precision 19-38 (two's-complement hi/lo words)

  /** plain-encoded bytes per value (Bin/Bool handled specially) */
  def width(lane: Int): Int = lane match {
    case I8 => 1
    case I16 => 2
    case I32 | F32 => 4
    case I64 | F64 => 8
    case I128 => 16
    case _ => -1
  }
}

/** 128-bit two's-complement helpers (hi word signed, lo word unsigned). */
object Int128 {
  def hiOf(bi: java.math.BigInteger): Long = bi.shiftRight(64).longValue
  def loOf(bi: java.math.BigInteger): Long = bi.longValue

  def compare(ahi: Long, alo: Long, bhi: Long, blo: Long): Int = {
    val c = java.lang.Long.compare(ahi, bhi)
    if (c != 0) c else java.lang.Long.compareUnsigned(alo, blo)
  }

  /** 16-byte big-endian with the sign bit flipped: unsigned lexicographic
    * order equals signed numeric order, so these slot into the binary
    * (statsKind 4) zone-map machinery with EXACT (untruncated) bounds.
    */
  def orderedBytes(hi: Long, lo: Long): Array[Byte] = {
    val b = new Array[Byte](16)
    writeBE(hi ^ Long.MinValue, lo, b)
    b
  }

  def fromOrderedBytes(b: Array[Byte]): java.math.BigInteger = {
    val raw = b.clone()
    raw(0) = (raw(0) ^ 0x80).toByte
    new java.math.BigInteger(raw)
  }

  def writeBE(hi: Long, lo: Long, b: Array[Byte]): Unit = {
    var i = 0
    while (i < 8) {
      b(i) = (hi >>> (56 - 8 * i)).toByte
      b(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
  }

  /** Length of the minimal two's-complement suffix of a 16-byte BE buffer
    * (drop redundant sign-extension bytes; parquet/Spark-compatible).
    */
  def minimalLen(b: Array[Byte]): Int = {
    var i = 0
    while (i < 15 && ((b(i) == 0 && (b(i + 1) & 0x80) == 0) ||
        (b(i) == -1 && (b(i + 1) & 0x80) != 0))) i += 1
    16 - i
  }
}

/** Writer knobs (reference analogue: `WriteOptions`,
  * `/root/reference/src/write/common.rs:36-45`).
  *
  * @param defaultCodec       the common (block) codec used when no special
  *                           codec wins
  * @param compressRatio      a special codec is chosen only if its estimated
  *                           ratio beats this threshold (and the sampled
  *                           common-codec ratio)
  * @param pageSize           rows per page (unit of compression + skipping)
  * @param forcedCodec        test hook: force one codec for every page
  * @param adaptive           enable the stats-driven per-page codec chooser
  */
final case class WriteOptions(
    defaultCodec: Byte = Codec.Lz4,
    compressRatio: Double = 1.2,
    pageSize: Int = 8192,
    forcedCodec: Option[Byte] = scala.None,
    /** per-lane-family forced codec OVERRIDING `forcedCodec`: keys "int"
      * (incl. decimal128/date/timestamp lanes), "float", "binary", "bool".
      * The graft analogue of the reference's per-codec debug env matrix
      * (`/root/reference/src/util/env.rs:20-83`) — lets a test force e.g.
      * Dict on strings while the integer lanes stay adaptive. */
    forcedFamily: Map[String, Byte] = Map.empty,
    adaptive: Boolean = true,
    zstdLevel: Int = 3,
    /** cross-check the analytic special-codec choice against a deterministic
      * sampled estimate of the block codec (reference analogue: the
      * trial-compression sampler, integer/mod.rs:310-347) */
    sampledChooser: Boolean = true,
    /** use the LZ4 high-compression encoder for block bodies (same frame,
      * same fast decode; slower writes, ~25% smaller text) */
    lz4hc: Boolean = false,
    /** depth-first leaf indices that get a per-page bloom filter (opt-in,
      * like parquet's column bloom filters — the Spark layer resolves
      * `.option("bloomfilter", "col,arr.element")` paths to indices) */
    bloomLeaves: Set[Int] = Set.empty,
    /** MAX bloom bytes per page (power of two). The actual size adapts to
      * the page's non-null value count (~10 bits/value rounded up to a
      * power of two, ≈1% false positives at k=3), clamped to this cap —
      * full 8192-row pages of unique values take 16 KiB. */
    bloomBytes: Int = 16384,
    /** depth-first leaf indices that get a per-leaf KMV (k-minimum-values)
      * distinct-count synopsis in the footer (opt-in; files that carry one
      * declare format version 004). Only integer and binary lanes — the
      * hash is over the value's portable decimal/byte rendering so the
      * synopsis is reproducible by any engine (see KmvUtil). */
    ndvLeaves: Set[Int] = Set.empty,
    /** synopsis size: the k smallest distinct 60-bit hashes per leaf */
    ndvK: Int = 256) {
  /** This options instance with `forcedCodec` resolved for one lane
    * family: the per-family override wins; absent, the global force (or
    * none) stays in effect.
    */
  def forFamily(family: String): WriteOptions =
    forcedFamily.get(family) match {
      case scala.None => this
      case some => copy(forcedCodec = some)
    }
}

/** Per-page metadata persisted in the footer.
  * `numValues` counts LEAF values (for nested children this can differ from
  * top-level row count). min/max are optional zone-map stats (our format
  * extension — the reference computes but never persists stats, SURVEY §2.2).
  * statsKind: 0=none, 1=long min/max, 2=double min/max (NaN-free),
  * 3=double min/max over non-NaN values with NaN present in the page
  * (min=max=NaN bits iff the page is all-NaN),
  * 4=binary bounds in minBin/maxBin (truncated like parquet: minBin is the
  * ≤16-byte prefix of the true min, so a valid lower bound; maxBin is the
  * exact max if ≤16 bytes, else the truncated prefix incremented upward —
  * null maxBin means no finite upper bound survived the increment).
  */
final case class PageMeta(
    length: Int,
    numValues: Int,
    statsKind: Byte = 0,
    minLong: Long = 0L,
    maxLong: Long = 0L,
    nullCount: Int = -1,
    minBin: Array[Byte] = null,
    maxBin: Array[Byte] = null,
    /** optional per-page bloom filter over the non-null values (opt-in per
      * column at write time) — prunes EQUALITY probes on unsorted data,
      * where min/max bounds are too wide to act. null = none.
      */
    bloom: Array[Byte] = null)

/** Split-block-free classic bloom filter over a power-of-two bit array,
  * k=3 probes via double hashing. Hashes are engine-internal (never cross
  * the format boundary), built from the splitmix64 finalizer — public
  * domain (Steele et al., "Fast splittable pseudorandom number
  * generators"); byte inputs run through FNV-1a 64 first.
  */
object BloomUtil {
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def hashLong(v: Long): Long = mix64(v)

  def hashBytes(a: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a 64
    var i = off
    val end = off + len
    while (i < end) { h ^= a(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  @inline private def set(bits: Array[Byte], idx: Long): Unit = {
    val i = idx.toInt
    bits(i >>> 3) = (bits(i >>> 3) | (1 << (i & 7))).toByte
  }
  @inline private def get(bits: Array[Byte], idx: Long): Boolean =
    (bits((idx >>> 3).toInt) & (1 << (idx & 7).toInt)) != 0

  /** Add a pre-hashed value; `bits.length` must be a power of two. */
  def add(bits: Array[Byte], h: Long): Unit = {
    val mask = bits.length.toLong * 8 - 1
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < 3) { set(bits, (h + i * h2) & mask); i += 1 }
  }

  def mightContain(bits: Array[Byte], h: Long): Boolean = {
    val mask = bits.length.toLong * 8 - 1
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < 3) {
      if (!get(bits, (h + i * h2) & mask)) return false
      i += 1
    }
    true
  }
}

/** Portable KMV hashing: the 60-bit integer folded from the first 15 hex
  * nibbles of md5 over the value's canonical rendering (binary lanes: the
  * raw bytes; integer lanes: the decimal string). Any SQL engine reproduces
  * it as list_reduce over substr(md5(x), i, 1) nibbles — the same fold the
  * oracle-checked t_distinct_sketch op pins — so a footer synopsis written
  * here is bit-comparable against one computed from the raw data elsewhere.
  */
object KmvUtil {
  val HashSpace: Double = 1152921504606846976.0 // 2^60

  /** One thread's reusable md5 state: the digest, its 16-byte output and
    * a buffer for a long's decimal digits (20 holds Long.MinValue). */
  private final class Scratch {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val digits = new Array[Byte](20)
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def hashBytes(a: Array[Byte], off: Int, len: Int): Long =
    md5Fold(scratch.get, a, off, len)

  /** The md5 fold of `Long.toString(v)`, rendered into a reused buffer. */
  def hashLong(v: Long): Long = {
    val s = scratch.get
    val buf = s.digits
    // digits written from the END, on the negative magnitude so that
    // Long.MinValue needs no special case
    var pos = buf.length
    var x = if (v < 0) v else -v
    while (x <= -10) {
      val q = x / 10
      pos -= 1; buf(pos) = ('0' - (x - q * 10)).toByte
      x = q
    }
    pos -= 1; buf(pos) = ('0' - x).toByte
    if (v < 0) { pos -= 1; buf(pos) = '-'.toByte }
    md5Fold(s, buf, pos, buf.length - pos)
  }

  private def md5Fold(s: Scratch, a: Array[Byte], off: Int, len: Int): Long = {
    s.md.update(a, off, len)
    s.md.digest(s.digest, 0, 16)
    fold(s.digest)
  }

  private def fold(digest: Array[Byte]): Long = {
    // hex nibble i (1-based, 1..15) of the md5 string = high nibble of
    // byte (i-1)/2 when i is odd, low nibble when even
    var h = 0L
    var i = 0
    while (i < 15) {
      val b = digest(i / 2) & 0xff
      val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
      h = h * 16 + nib
      i += 1
    }
    h
  }

  /** Merge k-min sketches (each sorted ascending, same k): the k smallest
    * DISTINCT hashes of the union — the standard KMV merge.
    */
  def merge(sketches: Seq[Array[Long]], k: Int): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    sketches.foreach(_.foreach { h =>
      set.add(h)
      if (set.size > k) set.remove(set.last)
    })
    val out = new Array[Long](set.size)
    val it = set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** NDV estimate from a merged sketch: exact when the sketch never filled
    * (every distinct hash is present), else the classic (k-1)/kth-fraction
    * estimator.
    */
  def estimate(kmv: Array[Long], k: Int): Double =
    if (kmv.length < k) kmv.length.toDouble
    else (k - 1).toDouble * HashSpace / kmv(k - 1).toDouble
}

/** Per-leaf-column metadata: byte offset of the first page + page list.
  * `kmv` is the optional footer NDV synopsis (format v004): the leaf's k
  * smallest distinct portable hashes, sorted ascending; null = none.
  * `kmvK` persists the write-time k (the sketch is only interpretable with
  * it — an unfilled array of length < k is an EXACT distinct set).
  */
final case class ColumnMeta(offset: Long, pages: Array[PageMeta],
    kmv: Array[Long] = null, kmvK: Int = 0) {
  def totalBytes: Long = {
    var s = 0L; var i = 0
    while (i < pages.length) { s += pages(i).length; i += 1 }
    s
  }
  def totalValues: Long = {
    var s = 0L; var i = 0
    while (i < pages.length) { s += pages(i).numValues; i += 1 }
    s
  }
}

object FormatConstants {
  // version bumped to 002 when decimals >18 digits moved from the binary
  // lane to the i128 lane (and patas gained ring references) — 001 files
  // would decode silently wrong under the new lane mapping, so the reader
  // rejects them by version instead
  val Magic: Array[Byte] = "GRAFT002".getBytes("UTF-8") // 8 bytes
  val MagicV1: Array[Byte] = "GRAFT001".getBytes("UTF-8")
  // version 003 = 002 plus optional per-page bloom sections (kind-byte bit
  // 0x10). A 002 reader would decode a bloom-bearing page meta silently
  // wrong (it parses the bloom bytes as the next page's meta), so files
  // that MAY carry blooms declare 003; bloom-less files keep writing 002 —
  // byte-identical to what a 002 reader expects. This reader accepts both.
  val MagicV3: Array[Byte] = "GRAFT003".getBytes("UTF-8")
  // version 004 = 003 plus an optional per-LEAF KMV ndv-synopsis section
  // (presence byte + count + hashes after each leaf's page list). A 003
  // reader would misparse the appended section as the next leaf's meta, so
  // files that MAY carry synopses declare 004; synopsis-less files keep
  // writing the oldest magic their features allow.
  val MagicV4: Array[Byte] = "GRAFT004".getBytes("UTF-8")
}
