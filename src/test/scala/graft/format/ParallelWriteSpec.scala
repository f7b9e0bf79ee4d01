package graft.format

import org.scalatest.funsuite.AnyFunSuite

/** The writer encodes a chunk's pages on a JVM-wide pool: concurrent
  * writers still produce the bytes a lone writer does, a failing job
  * surfaces from writeChunk unchanged without poisoning the pool, and
  * writes reuse the pool's threads instead of starting their own.
  */
class ParallelWriteSpec extends AnyFunSuite {
  import ChooserGoldenSpec._

  /** (name, trees, rows, options) of every golden fixture */
  private def goldens: Seq[(String, Seq[ColumnTree], Int, WriteOptions)] =
    fixtures.map { case (name, cols, rows) =>
      (name, cols.map { case (lane, nullable, vec) => LeafCol(lane, nullable, vec): ColumnTree },
        rows, WriteOptions(pageSize = 2048))
    } ++ nestedFixtures

  test("8 concurrent writers produce the single-writer bytes") {
    val fx = goldens
    val expected = fx.map { case (_, cols, rows, opts) => fileBytes(cols, rows, opts) }
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = (0 until 8).map { t =>
      val f = new java.util.concurrent.FutureTask[Seq[Array[Byte]]](() => {
        start.await()
        // each thread starts at a different fixture so different files overlap
        val order = fx.indices.map(i => (i + t) % fx.length)
        order.map { i => val (_, cols, rows, opts) = fx(i); i -> fileBytes(cols, rows, opts) }
          .sortBy(_._1).map(_._2)
      })
      new Thread(f, s"writer-$t").start()
      f
    }
    start.countDown()
    results.zipWithIndex.foreach { case (f, t) =>
      val got = f.get(300, java.util.concurrent.TimeUnit.SECONDS)
      fx.indices.foreach { i =>
        assert(java.util.Arrays.equals(got(i), expected(i)), s"writer $t, ${fx(i)._1}: bytes differ")
      }
    }
  }

  test("an ndv synopsis on a float leaf fails writeChunk with its own exception") {
    val n = 20000
    val r = new scala.util.Random(3)
    val cols = Seq(
      LeafCol(Lane.I64, false, LongVec(n, null, Array.tabulate(n)(_.toLong))),
      LeafCol(Lane.F64, true, DoubleVec(n, null, Array.fill(n)(r.nextDouble()))))
    val w = new GraftFileWriter(new java.io.ByteArrayOutputStream(), "{}",
      WriteOptions(pageSize = 512, ndvLeaves = Set(0, 1)))
    w.start()
    val e = intercept[IllegalArgumentException](w.writeChunk(cols, n))
    assert(e.getMessage == s"graft: ndv synopsis unsupported for lane ${Lane.F64} — only " +
      "integer and binary leaves have a portable value rendering")
    // the pool survives: the next writes in this JVM give the pinned bytes
    val (_, nested, rows, opts) = nestedFixtures.last
    assert(sha1Trees(nested, rows, opts) == "665c9fbebd04b6166023efe5c0d1925d0763e9f7")
    val ok = new java.io.ByteArrayOutputStream()
    val w2 = new GraftFileWriter(ok, "{}", WriteOptions(pageSize = 512, ndvLeaves = Set(0)))
    w2.start()
    w2.writeChunk(cols, n)
    w2.finish()
    assert(w2.metas.length == 2 && w2.metas(0).kmv.length == 256 && w2.metas(1).kmv == null)
  }

  test("a failing page job surfaces with its original type") {
    // an int lane over a double vector fails inside the page encoder
    val n = 10000
    val cols = Seq(
      LeafCol(Lane.I64, false, LongVec(n, null, Array.tabulate(n)(_.toLong))),
      LeafCol(Lane.I32, false, DoubleVec(n, null, Array.fill(n)(1.5))))
    val w = new GraftFileWriter(new java.io.ByteArrayOutputStream(), "{}", WriteOptions(pageSize = 256))
    w.start()
    intercept[ClassCastException](w.writeChunk(cols, n))
  }

  test("100 writes run on at most one encode thread per core") {
    val (_, cols, rows, opts) = nestedFixtures.head
    (1 to 100).foreach(_ => fileBytes(cols, rows, opts))
    val threads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).count(_.getName == "graft-encode")
    val cores = Runtime.getRuntime.availableProcessors()
    assert(threads <= cores, s"$threads encode threads on $cores cores")
    if (cores > 1) assert(threads > 0, "pages were not encoded on the shared pool")
  }
}
