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
