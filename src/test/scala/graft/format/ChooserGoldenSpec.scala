package graft.format

import org.scalatest.funsuite.AnyFunSuite

/** Byte-identity of the writer: the FIXTURES.md F2/F3 shapes, a column of
  * 50 integer-valued doubles and a 3-value string column are written
  * through GraftFileWriter and each file's SHA-1 is pinned. The pins were
  * recorded before the codec chooser's stats kernels were rewritten, so a
  * change to any chooser decision or page byte fails here. The nested
  * fixtures (many small pages, list/map length leaves, struct validity
  * leaves, blooms and KMV synopses) were pinned on the serial writer,
  * before pages were encoded in parallel.
  */
class ChooserGoldenSpec extends AnyFunSuite {
  import ChooserGoldenSpec._

  private val pinned = Map(
    "F2" -> "d845297cac576800ba52ffc9663c83d08f4e7699",
    "F3.dict" -> "30e2acd367c60cc0190693af67ae9b335282e363",
    "F3.freq" -> "7a56c3c336231f20cc8c87709970b4efaf13dd1c",
    "F3.bitpacking" -> "5657038cfaf197dbcb4e1b39ed57d4b5d4922476",
    "F3.delta_bitpacking" -> "3464cace138e19efd6b54303db70b07317c19965",
    "F3.onevalue" -> "e408f47fa951cab982d2d0388b1cf0328c2cc30d",
    "F3.float" -> "0b389f21c59c3880c5db9a8c95140b0c83104461",
    "doubles50" -> "0d8fc89b69e0b55210d85ddc9ef801d1789f12c9",
    "strings3" -> "700ea76bdf3427a914946d134a531e3dbe88a80d")

  private val pinnedNested = Map(
    "nested.p64" -> "1c79fd8a5b888d0cd7fe2b5b834af01d2ecb1f5b",
    "nested.p64.bloom_ndv" -> "665c9fbebd04b6166023efe5c0d1925d0763e9f7")

  test("written fixture files are byte-identical to the pinned SHA-1s") {
    val got = fixtures.map { case (name, cols, rows) => name -> sha1(cols, rows) }
    got.foreach { case (name, h) => info(s"$name $h") }
    assert(got.map(_._1).toSet == pinned.keySet)
    got.foreach { case (name, h) => assert(h == pinned(name), s"$name: file bytes changed") }
  }

  test("nested and bloom/ndv fixture files are byte-identical to the pinned SHA-1s") {
    val got = nestedFixtures.map { case (name, cols, rows, opts) => name -> sha1Trees(cols, rows, opts) }
    got.foreach { case (name, h) => info(s"$name $h") }
    assert(got.map(_._1).toSet == pinnedNested.keySet)
    got.foreach { case (name, h) => assert(h == pinnedNested(name), s"$name: file bytes changed") }
  }
}

object ChooserGoldenSpec {

  def fileBytes(cols: Seq[ColumnTree], numRows: Int, opts: WriteOptions): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new GraftFileWriter(bos, "{}", opts)
    w.start()
    w.writeChunk(cols, numRows)
    w.finish()
    bos.toByteArray
  }

  def sha1Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  def sha1Trees(cols: Seq[ColumnTree], numRows: Int, opts: WriteOptions): String =
    sha1Hex(fileBytes(cols, numRows, opts))

  def sha1(cols: Seq[(Int, Boolean, Vec)], numRows: Int,
      opts: WriteOptions = WriteOptions(pageSize = 2048)): String =
    sha1Trees(cols.map { case (lane, nullable, vec) => LeafCol(lane, nullable, vec) }, numRows, opts)

  private def nullMask(r: scala.util.Random, n: Int, p: Double): Array[Boolean] =
    if (p <= 0) null else Array.fill(n)(r.nextDouble() < p)

  private def strings(n: Int, nulls: Array[Boolean])(f: Int => String): BinaryVec = {
    val b = new BinaryVecBuilder()
    (0 until n).foreach { i =>
      if (nulls != null && nulls(i)) b.appendNull() else b.append(f(i).getBytes("UTF-8"))
    }
    b.result().asInstanceOf[BinaryVec]
  }

  /** fixture name -> (leaf columns, row count) */
  def fixtures: Seq[(String, Seq[(Int, Boolean, Vec)], Int)] = {
    val r = new scala.util.Random(42)
    val n = 10000
    // F2: seeded random columns at varying null density
    val f2 = {
      val binNulls = nullMask(r, n, 0.4)
      Seq(
        (Lane.Bool, true, BoolVec(n, nullMask(r, n, 0.05), Array.fill(n)(r.nextBoolean()))),
        (Lane.I32, true, IntVec(n, nullMask(r, n, 0.25), Array.fill(n)(r.nextInt(n)))),
        (Lane.F64, true, DoubleVec(n, nullMask(r, n, 0.5), Array.fill(n)(r.nextDouble()))),
        (Lane.Bin, true, strings(n, binNulls)(_ => r.nextInt(n).toString)))
    }
    // F3 dict: 8 distinct values per lane
    val dict = {
      val ints = Array.tabulate(8)(k => k * 7919 - 20000)
      val dbls = Array.tabulate(8)(k => k * 1.25 - 3.0)
      val strs = Array.tabulate(8)(k => s"category-$k")
      val sNulls = nullMask(r, n, 0.3)
      Seq(
        (Lane.I32, true, IntVec(n, nullMask(r, n, 0.1), Array.fill(n)(ints(r.nextInt(8))))),
        (Lane.F64, true, DoubleVec(n, nullMask(r, n, 0.5), Array.fill(n)(dbls(r.nextInt(8))))),
        (Lane.Bin, true, strings(n, sNulls)(_ => strs(r.nextInt(8)))))
    }
    // F3 freq: 5 pages x 2048 of 20 with 3 outliers of 10000 per page
    val freq = {
      val v = Array.fill(5 * 2048)(20)
      (0 until 5).foreach(p => (0 until 3).foreach(_ => v(p * 2048 + r.nextInt(2048)) = 10000))
      Seq((Lane.I32, false, IntVec(v.length, null, v)))
    }
    // F3 bitpacking: 5 x 2048 uniform 0..8, nulls 0.1 and 0.5
    val bitpack = {
      val m = 5 * 2048
      Seq(
        (Lane.I32, true, IntVec(m, nullMask(r, m, 0.1), Array.fill(m)(r.nextInt(8)))),
        (Lane.I32, true, IntVec(m, nullMask(r, m, 0.5), Array.fill(m)(r.nextInt(8)))))
    }
    // F3 delta_bitpacking: 0..10240 sorted (int and long lanes)
    val delta = {
      val m = 10240
      Seq(
        (Lane.I32, false, IntVec(m, null, Array.tabulate(m)(identity))),
        (Lane.I64, false, LongVec(m, null, Array.tabulate(m)(i => 1700000000000L + i * 37L))))
    }
    // F3 onevalue: constant bools, ints, 1-unique int and string with nulls
    val onevalue = {
      val m = 4096
      Seq(
        (Lane.Bool, false, BoolVec(m, null, Array.fill(m)(true))),
        (Lane.Bool, false, BoolVec(m, null, Array.fill(m)(false))),
        (Lane.I32, false, IntVec(m, null, Array.fill(m)(3))),
        (Lane.I32, true, IntVec(m, nullMask(r, m, 0.3), Array.fill(m)(7))),
        (Lane.Bin, true, strings(m, nullMask(r, m, 0.3))(_ => "same")))
    }
    // F3 float: 1000 doubles, 50% null, integer-valued
    val float = {
      val m = 1000
      Seq((Lane.F64, true, DoubleVec(m, nullMask(r, m, 0.5), Array.fill(m)(r.nextInt(100).toDouble))))
    }
    // 50 integer-valued doubles (the quantity column's shape), f64 and f32
    val quantity = {
      val m = 30000
      Seq(
        (Lane.F64, false, DoubleVec(m, null, Array.fill(m)((1 + r.nextInt(50)).toDouble))),
        (Lane.F64, true, DoubleVec(m, nullMask(r, m, 0.2), Array.fill(m)((1 + r.nextInt(50)).toDouble))),
        (Lane.F32, false, FloatVec(m, null, Array.fill(m)((1 + r.nextInt(50)).toFloat))))
    }
    // 3 distinct strings (the flag columns' shape), plus a dominant one
    val flags = {
      val m = 30000
      val three = Array("A", "N", "R")
      Seq(
        (Lane.Bin, false, strings(m, null)(_ => three(r.nextInt(3)))),
        (Lane.Bin, true, strings(m, nullMask(r, m, 0.1))(_ => three(r.nextInt(3)))),
        (Lane.Bin, false, strings(m, null)(_ => if (r.nextInt(100) < 97) "DELIVER IN PERSON" else "NONE")))
    }
    Seq(("F2", f2, n), ("F3.dict", dict, n), ("F3.freq", freq, 5 * 2048),
      ("F3.bitpacking", bitpack, 5 * 2048), ("F3.delta_bitpacking", delta, 10240),
      ("F3.onevalue", onevalue, 4096), ("F3.float", float, 1000),
      ("doubles50", quantity, 30000), ("strings3", flags, 30000))
  }

  /** 5,000 rows of nested columns, depth-first leaves:
    * 0 id | 1 arr lengths, 2 element-struct validity, 3 a, 4 b |
    * 5 map lengths, 6 key, 7 value | 8 struct validity, 9 x, 10 y.
    */
  def nestedTrees(): Seq[ColumnTree] = {
    val r = new scala.util.Random(7)
    val n = NestedRows
    def or(a: Array[Boolean], b: Array[Boolean]): Array[Boolean] = Array.tabulate(a.length)(i => a(i) || b(i))
    val id = LeafCol(Lane.I64, false, LongVec(n, null, Array.tabulate(n)(i => 1000L + i * 3L)))
    // array<struct<a: int, b: string>>: null lists, empty lists, null elements
    val listNulls = nullMask(r, n, 0.1)
    val lens = Array.tabulate(n)(i => if (listNulls(i)) 0 else r.nextInt(6))
    val m = lens.sum
    val elemNulls = nullMask(r, m, 0.05)
    val aNulls = or(elemNulls, nullMask(r, m, 0.1))
    val arr = ListCol(nullable = true, IntVec(n, listNulls, lens),
      StructCol(nullable = true, m, elemNulls, Seq(
        LeafCol(Lane.I32, true, IntVec(m, aNulls, Array.tabulate(m)(i => if (aNulls(i)) 0 else r.nextInt(40)))),
        LeafCol(Lane.Bin, true, strings(m, elemNulls)(_ => s"tag-${r.nextInt(300)}")))))
    // map<string, int>
    val mapNulls = nullMask(r, n, 0.2)
    val mlens = Array.tabulate(n)(i => if (mapNulls(i)) 0 else r.nextInt(4))
    val k = mlens.sum
    val valNulls = nullMask(r, k, 0.15)
    val map = MapCol(nullable = true, IntVec(n, mapNulls, mlens),
      LeafCol(Lane.Bin, false, strings(k, null)(_ => s"k${r.nextInt(20)}")),
      LeafCol(Lane.I32, true, IntVec(k, valNulls, Array.tabulate(k)(i => if (valNulls(i)) 0 else r.nextInt(1000)))))
    // nullable struct<x: bigint not null, y: double>; x's builder vec keeps
    // the struct's null slots, which a non-nullable leaf must not persist
    val sNulls = nullMask(r, n, 0.3)
    val yNulls = or(sNulls, nullMask(r, n, 0.2))
    val st = StructCol(nullable = true, n, sNulls, Seq(
      LeafCol(Lane.I64, false, LongVec(n, sNulls, Array.tabulate(n)(i => if (sNulls(i)) 0L else r.nextInt(50) * 1000L))),
      LeafCol(Lane.F64, true, DoubleVec(n, yNulls, Array.tabulate(n)(i => if (yNulls(i)) 0.0 else r.nextInt(10000) / 100.0)))))
    Seq(id, arr, map, st)
  }

  val NestedRows = 5000

  /** fixture name -> (column trees, row count, write options) */
  def nestedFixtures: Seq[(String, Seq[ColumnTree], Int, WriteOptions)] = Seq(
    ("nested.p64", nestedTrees(), NestedRows, WriteOptions(pageSize = 64)),
    ("nested.p64.bloom_ndv", nestedTrees(), NestedRows,
      WriteOptions(pageSize = 64, bloomLeaves = Set(0, 4, 6, 7), ndvLeaves = Set(0, 3, 6), ndvK = 64)))
}
