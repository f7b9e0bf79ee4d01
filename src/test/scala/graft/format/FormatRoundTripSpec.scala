package graft.format

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-trip tests mirroring the reference corpus (FIXTURES.md F1/F2):
  * write -> read equality per codec, seed-42 random data with null densities.
  */
class FormatRoundTripSpec extends AnyFunSuite {

  private def rt(cols: Seq[(Int, Boolean, Vec)], numRows: Int, opts: WriteOptions): Seq[Vec] = {
    val f = Files.createTempFile("graft", ".graft")
    try {
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(f))
      val w = new GraftFileWriter(os, """{"t":"test"}""", opts)
      w.start()
      w.writeChunk(cols.map { case (lane, nullable, vec) => LeafCol(lane, nullable, vec) }, numRows)
      w.finish()
      os.close()
      val in = new LocalFileInput(f)
      try {
        val footer = GraftFileReader.readFooter(in)
        assert(footer.schemaJson == """{"t":"test"}""")
        assert(footer.leaves.length == cols.length)
        cols.zipWithIndex.map { case ((lane, nullable, _), i) =>
          new LeafReader(in, footer.leaves(i), lane, nullable).readAll()
        }
      } finally in.close()
    } finally Files.deleteIfExists(f)
  }

  private def assertVecEq(expected: Vec, got: Vec): Unit = {
    assert(got.n == expected.n)
    var i = 0
    while (i < expected.n) {
      val en = expected.isNull(i)
      assert(got.isNull(i) == en, s"null mismatch at $i")
      if (!en) (expected, got) match {
        case (a: BoolVec, b: BoolVec) => assert(a.values(i) == b.values(i), s"at $i")
        case (a: IntVec, b: IntVec) => assert(a.values(i) == b.values(i), s"at $i")
        case (a: LongVec, b: LongVec) => assert(a.values(i) == b.values(i), s"at $i")
        case (a: FloatVec, b: FloatVec) => assert(a.values(i) == b.values(i), s"at $i")
        case (a: DoubleVec, b: DoubleVec) => assert(a.values(i) == b.values(i), s"at $i")
        case (a: BinaryVec, b: BinaryVec) =>
          assert(java.util.Arrays.equals(a(i), b(i)), s"at $i")
        case other => fail(s"vec type mismatch: $other")
      }
      i += 1
    }
  }

  private def mkCols(n: Int, seed: Long, nullDensity: Double): Seq[(Int, Boolean, Vec)] = {
    val rnd = new scala.util.Random(seed)
    def nulls(): Array[Boolean] =
      if (nullDensity <= 0) null else Array.fill(n)(rnd.nextDouble() < nullDensity)
    val bools = BoolVec(n, nulls(), Array.fill(n)(rnd.nextBoolean()))
    val i8 = IntVec(n, nulls(), Array.fill(n)(rnd.nextInt(256) - 128))
    val i16 = IntVec(n, nulls(), Array.fill(n)(rnd.nextInt(65536) - 32768))
    val i32 = IntVec(n, nulls(), Array.fill(n)(rnd.nextInt()))
    val i64 = LongVec(n, nulls(), Array.fill(n)(rnd.nextLong()))
    val f32 = FloatVec(n, nulls(), Array.fill(n)(rnd.nextFloat()))
    val f64 = DoubleVec(n, nulls(), Array.fill(n)(rnd.nextDouble()))
    val bb = new BinaryVecBuilder()
    val binNulls = nulls()
    (0 until n).foreach { i =>
      if (binNulls != null && binNulls(i)) bb.appendNull()
      else bb.append(rnd.nextInt(100000).toString.getBytes("UTF-8"))
    }
    Seq(
      (Lane.Bool, nullDensity > 0, bools),
      (Lane.I8, nullDensity > 0, i8),
      (Lane.I16, nullDensity > 0, i16),
      (Lane.I32, nullDensity > 0, i32),
      (Lane.I64, nullDensity > 0, i64),
      (Lane.F32, nullDensity > 0, f32),
      (Lane.F64, nullDensity > 0, f64),
      (Lane.Bin, nullDensity > 0, bb.result()))
  }

  private val commonCodecs = Seq(Codec.None, Codec.Lz4, Codec.Zstd, Codec.Snappy)

  for (codec <- commonCodecs) {
    test(s"round-trip flat no-null codec=$codec") {
      val n = 10000
      val cols = mkCols(n, 42L, 0.0)
      val opts = WriteOptions(defaultCodec = if (codec == Codec.None) Codec.Lz4 else codec,
        forcedCodec = Some(codec), pageSize = 2048)
      val got = rt(cols, n, opts)
      cols.zip(got).foreach { case ((_, _, e), g) => assertVecEq(e, g) }
    }
  }

  for (density <- Seq(0.1, 0.5)) {
    test(s"round-trip flat nulls density=$density") {
      val n = 10000
      val cols = mkCols(n, 42L, density)
      val got = rt(cols, n, WriteOptions(pageSize = 2048))
      cols.zip(got).foreach { case ((_, _, e), g) => assertVecEq(e, g) }
    }
  }

  test("empty file (0 rows)") {
    val cols = Seq((Lane.I32, true, IntVec(0, null, Array.empty[Int]): Vec))
    val got = rt(cols, 0, WriteOptions())
    assert(got.head.n == 0)
  }

  test("format version 001 files are rejected with a clear error") {
    val n = 100
    val v = IntVec(n, null, Array.tabulate(n)(identity))
    val f = Files.createTempFile("graft-v1", ".graft")
    try {
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(f))
      val w = new GraftFileWriter(os, "{}", WriteOptions())
      w.start()
      w.writeChunk(Seq(LeafCol(Lane.I32, nullable = false, v)), n)
      w.finish()
      os.close()
      // rewrite the trailing magic to the previous version
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      raf.seek(raf.length() - 8)
      raf.write(FormatConstants.MagicV1)
      raf.close()
      val in = new LocalFileInput(f)
      try {
        val e = intercept[java.io.IOException](GraftFileReader.readFooter(in))
        assert(e.getMessage.contains("version 001"), e.getMessage)
      } finally in.close()
    } finally Files.deleteIfExists(f)
  }

  test("bloom-bearing files declare version 003; bloom-less stay 002") {
    def writeOne(opts: WriteOptions): Array[Byte] = {
      val n = 100
      val v = IntVec(n, null, Array.tabulate(n)(identity))
      val f = Files.createTempFile("graft-ver", ".graft")
      try {
        val os = new java.io.BufferedOutputStream(Files.newOutputStream(f))
        val w = new GraftFileWriter(os, "{}", opts)
        w.start()
        w.writeChunk(Seq(LeafCol(Lane.I32, nullable = false, v)), n)
        w.finish()
        os.close()
        // the reader must accept both versions
        val in = new LocalFileInput(f)
        try assert(new LeafReader(in, GraftFileReader.readFooter(in).leaves(0),
          Lane.I32, nullable = false).readAll().n == n)
        finally in.close()
        val raf = new java.io.RandomAccessFile(f.toFile, "r")
        val head = new Array[Byte](8); raf.readFully(head)
        raf.seek(raf.length() - 8)
        val tail = new Array[Byte](8); raf.readFully(tail)
        raf.close()
        assert(java.util.Arrays.equals(head, tail), "head/tail magic must agree")
        tail
      } finally Files.deleteIfExists(f)
    }
    assert(java.util.Arrays.equals(writeOne(WriteOptions()), FormatConstants.Magic))
    assert(java.util.Arrays.equals(writeOne(WriteOptions(bloomLeaves = Set(0))),
      FormatConstants.MagicV3))
  }

  /** Writes a 100-row single-leaf file, lets `patch` damage it in place,
    * then hands it to `check`. `patch` gets the file and the meta block's
    * start. Tail layout: ... | meta | u32 schemaSize | u32 metaSize |
    * magic; the meta block starts with u32 leafCount, u64 offset, u32
    * pageCount, then the first page's u32 len | u32 nv | u8 kind.
    */
  private def withPatchedFile(opts: WriteOptions = WriteOptions())(
      patch: (java.io.RandomAccessFile, Long) => Unit)(check: LocalFileInput => Unit): Unit = {
    val n = 100
    val v = IntVec(n, null, Array.tabulate(n)(identity))
    val f = Files.createTempFile("graft-patch", ".graft")
    try {
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(f))
      val w = new GraftFileWriter(os, "{}", opts)
      w.start()
      w.writeChunk(Seq(LeafCol(Lane.I32, nullable = false, v)), n)
      w.finish()
      os.close()
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      try patch(raf, raf.length() - 16 - intAt(raf, raf.length() - 12))
      finally raf.close()
      val in = new LocalFileInput(f)
      try check(in) finally in.close()
    } finally Files.deleteIfExists(f)
  }

  private def intAt(raf: java.io.RandomAccessFile, pos: Long): Int = {
    val b = new Array[Byte](4)
    raf.seek(pos); raf.readFully(b)
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
  }

  private def putInt(raf: java.io.RandomAccessFile, pos: Long, v: Int): Unit = {
    raf.seek(pos)
    raf.write(java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array())
  }

  test("unknown kind-byte flag bits are a hard error, not a silent misparse") {
    // set a hypothetical future flag bit on the first page's kind byte
    withPatchedFile() { (raf, metaStart) =>
      val kindPos = metaStart + 4 + 12 + 8
      raf.seek(kindPos)
      val kind = raf.read()
      raf.seek(kindPos)
      raf.write(kind | 0x80)
    } { in =>
      val e = intercept[java.io.IOException](GraftFileReader.readFooter(in))
      assert(e.getMessage.contains("unknown flag bits"), e.getMessage)
    }
  }

  test("corrupted footer lengths and counts fail with IOException") {
    // intercept fails the test on any other exception type
    // (NegativeArraySize, IllegalArgument, ArrayIndexOutOfBounds, OOM)
    val kmvOpts = WriteOptions(ndvLeaves = Set(0))
    val cases: Seq[(String, WriteOptions, (java.io.RandomAccessFile, Long) => Unit)] = Seq(
      ("metaSize 0x7fffffff", WriteOptions(), (raf, _) => putInt(raf, raf.length() - 12, 0x7fffffff)),
      ("metaSize beyond the file", WriteOptions(),
        (raf, _) => putInt(raf, raf.length() - 12, raf.length().toInt + 100)),
      ("negative metaSize", WriteOptions(), (raf, _) => putInt(raf, raf.length() - 12, -5)),
      ("negative schemaSize", WriteOptions(), (raf, _) => putInt(raf, raf.length() - 16, Int.MinValue)),
      ("schemaSize beyond the file", WriteOptions(),
        (raf, _) => putInt(raf, raf.length() - 16, raf.length().toInt)),
      ("leaf count 0x7fffffff", WriteOptions(), (raf, m) => putInt(raf, m, 0x7fffffff)),
      ("negative leaf count", WriteOptions(), (raf, m) => putInt(raf, m, -1)),
      ("leaf count one too many", WriteOptions(), (raf, m) => putInt(raf, m, 2)),
      ("page count 0x7fffffff", WriteOptions(), (raf, m) => putInt(raf, m + 12, 0x7fffffff)),
      ("negative page count", WriteOptions(), (raf, m) => putInt(raf, m + 12, -1)),
      ("page count one too many", WriteOptions(), (raf, m) => putInt(raf, m + 12, 2)),
      ("ndv synopsis size 0x7fffffff", kmvOpts, { (raf, _) =>
        // 100 distinct values: ... | u32 k | u32 n=100 | 100 x u64 | tail
        val nPos = raf.length() - 16 - 100 * 8 - 4
        assert(intAt(raf, nPos) == 100)
        putInt(raf, nPos, 0x7fffffff)
      }),
      ("negative ndv synopsis size", kmvOpts,
        (raf, _) => putInt(raf, raf.length() - 16 - 100 * 8 - 4, -3)))
    for ((label, opts, patch) <- cases)
      withPatchedFile(opts)(patch) { in =>
        val e = intercept[java.io.IOException](GraftFileReader.readFooter(in))
        assert(e.getMessage.startsWith("graft: "), s"$label: ${e.getMessage}")
      }
    withPatchedFile()((raf, _) => raf.setLength(20)) { in =>
      intercept[java.io.IOException](GraftFileReader.readFooter(in))
    }
  }

  /** Writes `vec` (100 rows) as one non-nullable single-page leaf with
    * `codec` forced and nested frames stored plain, lets `patch` change the
    * file bytes (the page's codec byte is at offset 8, its payload at 17)
    * and decodes the leaf.
    */
  private def fileOf(lane: Int, vec: Vec, codec: Byte): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new GraftFileWriter(bos, "{}", WriteOptions(forcedCodec = Some(codec), defaultCodec = Codec.None))
    w.start()
    w.writeChunk(Seq(LeafCol(lane, nullable = false, vec)), vec.n)
    w.finish()
    bos.toByteArray
  }

  private def decodePatched(lane: Int, vec: Vec, codec: Byte)(patch: Array[Byte] => Unit): Vec = {
    val bytes = fileOf(lane, vec, codec)
    assert(bytes(8) == codec)
    patch(bytes)
    val in = new SeekableInput {
      def length: Long = bytes.length
      def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit =
        System.arraycopy(bytes, pos.toInt, dst, off, len)
      def close(): Unit = ()
    }
    new LeafReader(in, GraftFileReader.readFooter(in).leaves(0), lane, nullable = false).readAll()
  }

  private def intAt(b: Array[Byte], p: Int): Int = PageDeserializer.getInt(b, p)
  private def putInt(b: Array[Byte], p: Int, v: Int): Unit = PageSerializer.putInt(b, p, v)

  test("corrupted dict and rle page fields fail with IOException") {
    val n = 100
    val ints = IntVec(n, null, Array.tabulate(n)(i => i % 4 * 1000))
    val runs = IntVec(n, null, Array.tabulate(n)(i => i / 10))
    val strs = {
      val b = new BinaryVecBuilder()
      (0 until n).foreach(i => b.append(s"v${i % 4}".getBytes("UTF-8")))
      b.result()
    }
    // int Dict: u32 dictN @17 | 4 x i32 | frame header @37 | u32 indices @46
    // Rle:      u32 runs @17 | (u32 count, i32 value) x 10 from 21
    // bin Dict: u32 dictN @17 | 5 x u32 offsets @21 | 8 bytes | frame | indices @58
    val layouts: Seq[(Int, Vec, Byte, Array[Byte] => Unit)] = Seq(
      (Lane.I32, ints, Codec.Dict, b => assert(intAt(b, 17) == 4 && intAt(b, 46) == 0 && intAt(b, 50) == 1)),
      (Lane.I32, runs, Codec.Rle, b => assert(intAt(b, 17) == 10 && intAt(b, 21) == 10)),
      (Lane.Bin, strs, Codec.Dict, b => assert(intAt(b, 17) == 4 && intAt(b, 37) == 8 && intAt(b, 62) == 1)))
    for ((lane, vec, codec, check) <- layouts) {
      val got = decodePatched(lane, vec, codec)(check)
      assertVecEq(vec, got)
    }
    val cases: Seq[(String, Int, Vec, Byte, Array[Byte] => Unit)] = Seq(
      ("int dict size 0x7fffffff", Lane.I32, ints, Codec.Dict, b => putInt(b, 17, 0x7fffffff)),
      ("negative int dict size", Lane.I32, ints, Codec.Dict, b => putInt(b, 17, -2)),
      ("int dict index past the dictionary", Lane.I32, ints, Codec.Dict, b => putInt(b, 46, 4)),
      ("negative int dict index", Lane.I32, ints, Codec.Dict, b => putInt(b, 50, -1)),
      ("rle run count 0x7fffffff", Lane.I32, runs, Codec.Rle, b => putInt(b, 17, 0x7fffffff)),
      ("negative rle run count", Lane.I32, runs, Codec.Rle, b => putInt(b, 17, -1)),
      ("negative rle run length", Lane.I32, runs, Codec.Rle, b => putInt(b, 21, -1)),
      ("rle runs past the page", Lane.I32, runs, Codec.Rle, b => putInt(b, 21, 11)),
      ("rle runs short of the page", Lane.I32, runs, Codec.Rle, b => putInt(b, 17, 9)),
      ("binary dict size 0x7fffffff", Lane.Bin, strs, Codec.Dict, b => putInt(b, 17, 0x7fffffff)),
      ("negative binary dict size", Lane.Bin, strs, Codec.Dict, b => putInt(b, 17, -1)),
      ("negative binary dict offset", Lane.Bin, strs, Codec.Dict, b => putInt(b, 21, -3)),
      ("binary dict offsets not monotone", Lane.Bin, strs, Codec.Dict, b => putInt(b, 25, 5)),
      ("binary dict offset past the page", Lane.Bin, strs, Codec.Dict, b => putInt(b, 37, 100000)),
      ("binary dict index past the dictionary", Lane.Bin, strs, Codec.Dict, b => putInt(b, 58, 4)))
    for ((label, lane, vec, codec, patch) <- cases) {
      // intercept fails on any other exception (AIOOBE, NegativeArraySize, OOM)
      val e = intercept[java.io.IOException](decodePatched(lane, vec, codec)(patch))
      assert(e.getMessage.startsWith("graft: corrupt page: "), s"$label: ${e.getMessage}")
    }
  }

  test("corrupted freq and bitpack page fields fail with IOException") {
    val n = 100
    val freq = IntVec(n, null, Array.tabulate(n)(i => if (i == 3) 1000 else if (i == 50) 2000 else 7))
    val packed = IntVec(n, null, Array.tabulate(n)(i => i * 3 % 50))
    val sorted = IntVec(n, null, Array.tabulate(n)(i => i * 3))
    def u16At(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | (b(p + 1) & 0xff) << 8
    // Freq:         i32 top @17 | u32 exCount @21 | u32 rbLen @25 | roaring @29
    //               (cookie, size, key, card - 1, offset, then the u16
    //               positions @45 and @47) | exceptions frame @49
    // Bitpack:      i64 base @17 | u8 bits @25 | 75 packed bytes @26
    // DeltaBitpack: i64 first @17 | u8 bits @25 | 25 packed bytes @26
    val layouts: Seq[(Vec, Byte, Array[Byte] => Unit)] = Seq(
      (freq, Codec.Freq, b => assert(intAt(b, 17) == 7 && intAt(b, 21) == 2 && intAt(b, 25) == 20 &&
        u16At(b, 45) == 3 && u16At(b, 47) == 50)),
      (packed, Codec.Bitpack, b => assert(b(25) == 6)),
      (sorted, Codec.DeltaBitpack, b => assert(b(25) == 2)))
    for ((vec, codec, check) <- layouts) assertVecEq(vec, decodePatched(Lane.I32, vec, codec)(check))
    val cases: Seq[(String, Vec, Byte, Array[Byte] => Unit)] = Seq(
      ("freq position past the page", freq, Codec.Freq, b => b(47) = n.toByte),
      ("freq exception count past the page", freq, Codec.Freq, b => putInt(b, 21, n + 1)),
      ("negative freq exception count", freq, Codec.Freq, b => putInt(b, 21, -1)),
      ("freq exception count below the bitmap's", freq, Codec.Freq, b => putInt(b, 21, 1)),
      ("freq bitmap length 0x7fffffff", freq, Codec.Freq, b => putInt(b, 25, 0x7fffffff)),
      ("negative freq bitmap length", freq, Codec.Freq, b => putInt(b, 25, -1)),
      ("bitpack width 65", packed, Codec.Bitpack, b => b(25) = 65),
      ("bitpack width 255", packed, Codec.Bitpack, b => b(25) = -1),
      ("bitpack payload past the frame", packed, Codec.Bitpack, b => b(25) = 64),
      ("deltabitpack width 65", sorted, Codec.DeltaBitpack, b => b(25) = 65),
      ("deltabitpack payload past the frame", sorted, Codec.DeltaBitpack, b => b(25) = 40))
    for ((label, vec, codec, patch) <- cases) {
      // intercept fails on any other exception (AIOOBE, NegativeArraySize, OOM)
      // and on a decode that returns garbage without one
      val e = intercept[java.io.IOException](decodePatched(Lane.I32, vec, codec)(patch))
      assert(e.getMessage.startsWith("graft: corrupt page: "), s"$label: ${e.getMessage}")
    }
  }

  test("corrupted patas, binary onevalue/freq and boolean rle fields fail with IOException") {
    val n = 100
    val doubles = DoubleVec(n, null, Array.tabulate(n)(i => i * 0.37))
    val same = {
      val b = new BinaryVecBuilder()
      (0 until n).foreach(_ => b.append("same".getBytes("UTF-8")))
      b.result()
    }
    val freq = {
      val b = new BinaryVecBuilder()
      (0 until n).foreach(i => b.append((if (i == 3) "x1" else if (i == 50) "yy2" else "top").getBytes("UTF-8")))
      b.result()
    }
    val bools = BoolVec(n, null, Array.tabulate(n)(i => i / 10 % 2 == 0))
    def u16At(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | (b(p + 1) & 0xff) << 8
    // every page: u8 codec @8 | u32 frame length @9 | u32 raw length @13 | payload @17
    // Patas:        one header byte per value from 17
    // bin OneValue: u32 len @17 | value @21
    // bin Freq:     u32 topLen @17 | "top" @21 | u32 exCount @24 | u32 rbLen @28 |
    //               roaring @32 (u16 positions @48 and @50) | 3 x u32 offsets @52 | bytes @64
    // bool Rle:     u32 runs @17 | (u32 count, u8 value) x 10 from 21
    val layouts: Seq[(Int, Vec, Byte, Array[Byte] => Unit)] = Seq(
      (Lane.F64, doubles, Codec.Patas, b => assert(b(17) == 0)),
      (Lane.Bin, same, Codec.OneValue, b => assert(intAt(b, 9) == 8 && intAt(b, 17) == 4)),
      (Lane.Bin, freq, Codec.Freq, b => assert(intAt(b, 17) == 3 && intAt(b, 24) == 2 && intAt(b, 28) == 20 &&
        u16At(b, 48) == 3 && u16At(b, 50) == 50 && intAt(b, 56) == 2 && intAt(b, 60) == 5)),
      (Lane.Bool, bools, Codec.Rle, b => assert(intAt(b, 17) == 10 && intAt(b, 21) == 10 && intAt(b, 26) == 10)))
    for ((lane, vec, codec, check) <- layouts) assertVecEq(vec, decodePatched(lane, vec, codec)(check))
    val patasLen = { val b = fileOf(Lane.F64, doubles, Codec.Patas); intAt(b, 9) }
    val cases: Seq[(String, Int, Vec, Byte, Array[Byte] => Unit)] = Seq(
      ("patas frame length past the file", Lane.F64, doubles, Codec.Patas, b => putInt(b, 9, 0x7fffffff)),
      ("negative patas frame length", Lane.F64, doubles, Codec.Patas, b => putInt(b, 9, -1)),
      ("patas values past the frame", Lane.F64, doubles, Codec.Patas, b => putInt(b, 9, patasLen / 2)),
      ("patas value bytes past the frame", Lane.F64, doubles, Codec.Patas, b => putInt(b, 9, 1)),
      ("binary onevalue length past the frame", Lane.Bin, same, Codec.OneValue, b => putInt(b, 17, 1000)),
      ("negative binary onevalue length", Lane.Bin, same, Codec.OneValue, b => putInt(b, 17, -1)),
      ("binary onevalue frame past the file", Lane.Bin, same, Codec.OneValue, b => putInt(b, 9, 0x7fffffff)),
      ("binary freq top length past the frame", Lane.Bin, freq, Codec.Freq, b => putInt(b, 17, 1000)),
      ("negative binary freq top length", Lane.Bin, freq, Codec.Freq, b => putInt(b, 17, -1)),
      ("binary freq exception count past the page", Lane.Bin, freq, Codec.Freq, b => putInt(b, 24, n + 1)),
      ("negative binary freq exception count", Lane.Bin, freq, Codec.Freq, b => putInt(b, 24, -1)),
      ("binary freq exception count below the bitmap's", Lane.Bin, freq, Codec.Freq, b => putInt(b, 24, 1)),
      ("binary freq bitmap length past the frame", Lane.Bin, freq, Codec.Freq, b => putInt(b, 28, 0x7fffffff)),
      ("negative binary freq bitmap length", Lane.Bin, freq, Codec.Freq, b => putInt(b, 28, -1)),
      ("binary freq position past the page", Lane.Bin, freq, Codec.Freq, b => b(50) = n.toByte),
      ("binary freq exception offsets decreasing", Lane.Bin, freq, Codec.Freq, b => putInt(b, 56, 6)),
      ("negative binary freq exception offset", Lane.Bin, freq, Codec.Freq, b => putInt(b, 52, -4)),
      ("binary freq exception offset past the frame", Lane.Bin, freq, Codec.Freq, b => putInt(b, 60, 100000)),
      ("boolean rle run count 0x7fffffff", Lane.Bool, bools, Codec.Rle, b => putInt(b, 17, 0x7fffffff)),
      ("negative boolean rle run count", Lane.Bool, bools, Codec.Rle, b => putInt(b, 17, -1)),
      ("negative boolean rle run length", Lane.Bool, bools, Codec.Rle, b => putInt(b, 21, -1)),
      ("boolean rle runs past the page", Lane.Bool, bools, Codec.Rle, b => putInt(b, 21, 11)),
      ("boolean rle runs short of the page", Lane.Bool, bools, Codec.Rle, b => putInt(b, 17, 9)))
    for ((label, lane, vec, codec, patch) <- cases) {
      // intercept fails on any other exception (AIOOBE, NegativeArraySize,
      // IllegalArgument, OOM) and on a decode that returns without one
      val e = intercept[java.io.IOException](decodePatched(lane, vec, codec)(patch))
      assert(e.getMessage.startsWith("graft: corrupt page: "), s"$label: ${e.getMessage}")
    }
  }

  test("page stats are persisted (zone maps)") {
    val n = 5000
    val v = IntVec(n, null, Array.tabulate(n)(i => i))
    val f = Files.createTempFile("graft", ".graft")
    try {
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(f))
      val w = new GraftFileWriter(os, "{}", WriteOptions(pageSize = 2048))
      w.start()
      w.writeChunk(Seq(LeafCol(Lane.I32, nullable = false, v)), n)
      w.finish()
      os.close()
      val in = new LocalFileInput(f)
      try {
        val footer = GraftFileReader.readFooter(in)
        val pages = footer.leaves(0).pages
        assert(pages.length == 3)
        assert(pages(0).statsKind == 1 && pages(0).minLong == 0 && pages(0).maxLong == 2047)
        assert(pages(2).minLong == 4096 && pages(2).maxLong == 4999)
      } finally in.close()
    } finally Files.deleteIfExists(f)
  }
}
