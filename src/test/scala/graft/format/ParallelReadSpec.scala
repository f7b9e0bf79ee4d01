package graft.format

import org.scalatest.funsuite.AnyFunSuite

/** `LeafReader.readAll` decodes a leaf's pages on the JVM-wide page-job
  * pool: its result equals the serial page-by-page decode for every lane,
  * concurrent readers agree, a corrupt page fails it with the serial
  * decode's exception, a one-page leaf stays on the caller, and reads reuse
  * the pool's threads.
  */
class ParallelReadSpec extends AnyFunSuite {
  import ChooserGoldenSpec._
  import ParallelReadSpec._

  private val n = 10000

  /** every lane, with and without nulls, 20 pages of 512 rows each */
  private def flatCols: Seq[(Int, Boolean, Vec)] = {
    val r = new scala.util.Random(11)
    def nulls(on: Boolean): Array[Boolean] = if (on) Array.fill(n)(r.nextInt(5) == 0) else null
    Seq(false, true).flatMap { nl =>
      val bin = new BinaryVecBuilder()
      val binNulls = nulls(nl)
      (0 until n).foreach { i =>
        if (binNulls != null && binNulls(i)) bin.appendNull()
        else bin.append(s"s${r.nextInt(if (i < n / 2) 7 else 5000)}".getBytes("UTF-8"))
      }
      Seq(
        (Lane.Bool, nl, BoolVec(n, nulls(nl), Array.fill(n)(r.nextInt(9) == 0))),
        (Lane.I8, nl, IntVec(n, nulls(nl), Array.fill(n)(r.nextInt(256) - 128))),
        (Lane.I16, nl, IntVec(n, nulls(nl), Array.fill(n)(r.nextInt(65536) - 32768))),
        (Lane.I32, nl, IntVec(n, nulls(nl), Array.tabulate(n)(i => if (i < n / 2) i % 13 else r.nextInt()))),
        (Lane.I64, nl, LongVec(n, nulls(nl), Array.tabulate(n)(i => 1000L * i + r.nextInt(3)))),
        (Lane.F32, nl, FloatVec(n, nulls(nl), Array.fill(n)(r.nextInt(100) / 4f))),
        (Lane.F64, nl, DoubleVec(n, nulls(nl), Array.fill(n)(r.nextDouble()))),
        (Lane.Bin, nl, bin.result()),
        (Lane.I128, nl, DecimalVec(n, nulls(nl), Array.tabulate(n)(i => if (i % 3 == 0) r.nextLong() else 0L),
          Array.fill(n)(r.nextLong()))))
    }
  }

  /** (file bytes, (lane, nullable) per leaf) of the flat file and of the
    * nested.p64 golden fixture (list, map and struct child leaves)
    */
  private lazy val files: Seq[(Array[Byte], Seq[(Int, Boolean)])] = {
    val flat = flatCols
    val (_, nested, rows, opts) = nestedFixtures.head
    Seq(
      (fileBytes(flat.map { case (l, nl, v) => LeafCol(l, nl, v) }, n, WriteOptions(pageSize = 512)),
        flat.map(c => (c._1, c._2))),
      (fileBytes(nested, rows, opts), nested.flatMap(leafSpecs)))
  }

  /** each file's leaves decoded serially: readPage per page, then VecConcat */
  private lazy val serial: Seq[Seq[Vec]] = files.map { case (bytes, specs) =>
    readers(bytes, specs).map(lr => VecConcat.concat(lr.lane, (0 until lr.reader.numPages).map(lr.reader.readPage)))
  }

  test("readAll equals the serial page-by-page decode on every lane and nested leaf") {
    files.zip(serial).foreach { case ((bytes, specs), expected) =>
      val rs = readers(bytes, specs)
      assert(rs.exists(_.reader.numPages >= 20), rs.map(_.reader.numPages))
      rs.zip(expected).zipWithIndex.foreach { case ((lr, e), i) =>
        assertSame(e, lr.reader.readAll(), s"leaf $i (lane ${lr.lane}, ${lr.reader.numPages} pages)")
      }
    }
  }

  test("8 threads reading every leaf at once all get the serial result") {
    val shared = files.map { case (bytes, specs) => readers(bytes, specs) }
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = (0 until 8).map { t =>
      val f = new java.util.concurrent.FutureTask[Seq[Seq[Vec]]](() => {
        start.await()
        shared.map(_.map(_.reader.readAll()))
      })
      new Thread(f, s"reader-$t").start()
      f
    }
    start.countDown()
    results.zipWithIndex.foreach { case (f, t) =>
      val got = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
      got.zip(serial).foreach { case (g, e) =>
        g.zip(e).zipWithIndex.foreach { case ((gv, ev), i) => assertSame(ev, gv, s"thread $t leaf $i") }
      }
    }
  }

  test("a corrupt page in the middle of a leaf fails readAll with the serial decode's exception") {
    val rows = 20 * 512
    val vec = IntVec(rows, null, Array.tabulate(rows)(_ / 50))
    val bytes = fileBytes(Seq(LeafCol(Lane.I32, false, vec)), rows,
      WriteOptions(pageSize = 512, forcedCodec = Some(Codec.Rle)))
    val meta = GraftFileReader.readFooter(input(bytes)).leaves(0)
    assert(meta.pages.length == 20)
    // page 10: u8 codec | u32 frame length | u32 raw length | u32 run count
    val page10 = meta.offset.toInt + meta.pages.take(10).map(_.length).sum
    assert(bytes(page10) == Codec.Rle)
    PageSerializer.putInt(bytes, page10 + 9, 0x7fffffff)
    def reader() = new LeafReader(input(bytes), meta, Lane.I32, nullable = false)
    val expected = intercept[java.io.IOException] {
      val r = reader()
      (0 until r.numPages).foreach(r.readPage)
    }
    assert(expected.getMessage.startsWith("graft: corrupt page: rle run count"), expected.getMessage)
    val got = intercept[java.io.IOException](reader().readAll())
    assert(got.getClass == expected.getClass && got.getMessage == expected.getMessage)
    // the pool survives: the next read in this JVM succeeds
    val (okBytes, specs) = files.head
    assertSame(serial.head.head, readers(okBytes, specs).head.reader.readAll(), "after the failure")
  }

  test("the page-job runner rethrows the first failure as the same object") {
    val boom = new java.io.IOException("graft: corrupt page: job 7")
    val e = intercept[java.io.IOException](PageJobs.run(40)(j => if (j == 7) throw boom))
    assert(e eq boom)
  }

  test("a one-page leaf decodes on the caller and submits no helper") {
    val rows = 300
    val vec = LongVec(rows, null, Array.tabulate(rows)(_ * 7L))
    val bytes = fileBytes(Seq(LeafCol(Lane.I64, false, vec)), rows, WriteOptions())
    val meta = GraftFileReader.readFooter(input(bytes)).leaves(0)
    assert(meta.pages.length == 1)
    val pool = PageJobs.pool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    // helpers of earlier reads may still be starting: wait until none is
    // queued or running
    var idle = 0
    while (idle < 3) {
      idle = if (pool.getQueue.isEmpty && pool.getActiveCount == 0) idle + 1 else 0
      Thread.sleep(10)
    }
    val before = pool.getTaskCount
    val got = new LeafReader(input(bytes), meta, Lane.I64, nullable = false).readAll()
    assert(pool.getTaskCount == before, "a one-page leaf submitted helpers")
    assertSame(vec, got, "one-page leaf")
    // while a leaf of several pages does, on a machine with more than one core
    val (bytes2, specs) = files.head
    readers(bytes2, specs).head.reader.readAll()
    if (PageJobs.Threads > 1) assert(pool.getTaskCount > before)
  }

  test("readAll on a page-masked reader throws") {
    val (bytes, specs) = files.head
    val meta = GraftFileReader.readFooter(input(bytes)).leaves(0)
    val mask = Array.tabulate(meta.pages.length)(_ % 2 == 0)
    val r = new LeafReader(input(bytes), meta, specs.head._1, specs.head._2, mask)
    intercept[IllegalStateException](r.readAll())
  }

  test("100 reads run on at most one page-job thread per core") {
    val (bytes, specs) = files.last
    (1 to 100).foreach(_ => readers(bytes, specs).foreach(_.reader.readAll()))
    val threads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).count(_.getName == "graft-encode")
    val cores = Runtime.getRuntime.availableProcessors()
    assert(threads <= cores, s"$threads page-job threads on $cores cores")
    if (cores > 1) assert(threads > 0, "pages were not decoded on the shared pool")
  }
}

object ParallelReadSpec {
  final case class Leaf(lane: Int, reader: LeafReader)

  def input(bytes: Array[Byte]): SeekableInput = new SeekableInput {
    def length: Long = bytes.length
    def readFully(pos: Long, dst: Array[Byte], off: Int, len: Int): Unit =
      System.arraycopy(bytes, pos.toInt, dst, off, len)
    def close(): Unit = ()
  }

  def readers(bytes: Array[Byte], specs: Seq[(Int, Boolean)]): Seq[Leaf] = {
    val in = input(bytes)
    val footer = GraftFileReader.readFooter(in)
    assert(footer.leaves.length == specs.length)
    footer.leaves.toSeq.zip(specs).map { case (m, (lane, nullable)) =>
      Leaf(lane, new LeafReader(in, m, lane, nullable))
    }
  }

  /** (lane, nullable) of a tree's leaves in the writer's depth-first order */
  def leafSpecs(t: ColumnTree): Seq[(Int, Boolean)] = t match {
    case LeafCol(lane, nullable, _) => Seq((lane, nullable))
    case ListCol(nullable, _, child) => (Lane.I32, nullable) +: leafSpecs(child)
    case StructCol(nullable, _, _, children) =>
      (if (nullable) Seq((Lane.Bool, true)) else Nil) ++ children.flatMap(leafSpecs)
    case MapCol(nullable, _, key, value) => (Lane.I32, nullable) +: (leafSpecs(key) ++ leafSpecs(value))
  }

  /** same row count, same null mask (or both none) and identical values */
  def assertSame(expected: Vec, got: Vec, what: String): Unit = {
    import java.util.Arrays.{equals => same}
    assert(got.n == expected.n, s"$what: ${got.n} rows, expected ${expected.n}")
    assert((got.nulls == null) == (expected.nulls == null) &&
      (got.nulls == null || same(got.nulls, expected.nulls)), s"$what: null masks differ")
    val equal = (expected, got) match {
      case (a: BoolVec, b: BoolVec) => same(a.values, b.values)
      case (a: IntVec, b: IntVec) => same(a.values, b.values)
      case (a: LongVec, b: LongVec) => same(a.values, b.values)
      case (a: FloatVec, b: FloatVec) => same(a.values, b.values)
      case (a: DoubleVec, b: DoubleVec) => same(a.values, b.values)
      case (a: BinaryVec, b: BinaryVec) => same(a.offsets, b.offsets) && same(a.bytes, b.bytes)
      case (a: DecimalVec, b: DecimalVec) => same(a.hi, b.hi) && same(a.lo, b.lo)
      case _ => false
    }
    assert(equal, s"$what: values differ (${expected.getClass.getSimpleName} vs ${got.getClass.getSimpleName})")
  }
}
