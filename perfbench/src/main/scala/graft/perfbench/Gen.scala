package graft.perfbench

import graft.format._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded inputs the benchmark makes itself: the FIXTURES.md F2/F3 codec
  * shapes, the random draws behind each workload's choices (amplification
  * perturbation, pruned range, DML victims), and the leaf vectors that
  * codec_file builds from the vendored tables.
  */
object Gen {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-row random stream: `u(f)` and `below(f, n)` derive field `f`. */
  final class Draw(seed: Long, salt: Long, row: Long) {
    private val h = mix(mix(seed * 0x632be59bd9b4e019L + salt) + row)
    def bits(f: Int): Long = mix(h + f * 0x9e3779b97f4a7c15L)
    def u(f: Int): Double = (bits(f) >>> 11) * (1.0 / (1L << 53))
    def below(f: Int, n: Long): Long = java.lang.Long.remainderUnsigned(bits(f), n)
  }

  def salt(t: String): Long = t.hashCode.toLong * 0x100000001b3L

  // ------------------------------------------------------------ columnar

  /** A table materialized as leaf vectors, in the writer's depth-first
    * leaf order, plus the column trees that produced them.
    */
  final case class Columns(name: String, schema: StructType, rows: Int,
      trees: Seq[ColumnTree], leaves: Seq[(Int, Boolean, Vec)]) {
    def rawBytes: Long = leaves.map { case (_, _, v) => Vecs.rawBytes(v) }.sum
  }

  /** Leaf vectors of collected rows. Timestamp columns must hold epoch
    * microseconds (Long), the value the Spark writer stores on the I64 lane.
    */
  def columns(t: String, schema: StructType, data: Array[Row]): Columns = {
    val n = data.length
    def nulls(c: Int): Array[Boolean] =
      if (data.exists(_.isNullAt(c))) data.map(_.isNullAt(c)) else null
    def leaf(f: StructField, c: Int): ColumnTree = {
      val nl = nulls(c)
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          LeafCol(Lane.I64, f.nullable, LongVec(n, nl, data.map(r => if (r.isNullAt(c)) 0L else r.getLong(c))))
        case IntegerType =>
          LeafCol(Lane.I32, f.nullable, IntVec(n, nl, data.map(r => if (r.isNullAt(c)) 0 else r.getInt(c))))
        case DoubleType =>
          LeafCol(Lane.F64, f.nullable, DoubleVec(n, nl, data.map(r => if (r.isNullAt(c)) 0.0 else r.getDouble(c))))
        case StringType =>
          LeafCol(Lane.Bin, f.nullable, Vecs.binary(data.map(r => if (r.isNullAt(c)) "" else r.getString(c)), nl))
        case ArrayType(FloatType, containsNull) =>
          val arrs = data.map(r => if (r.isNullAt(c)) Seq.empty[java.lang.Float] else r.getSeq[java.lang.Float](c))
          val flat = arrs.flatten
          val en = if (flat.contains(null)) flat.map(_ == null) else null
          ListCol(f.nullable, IntVec(n, nl, arrs.map(_.length)),
            LeafCol(Lane.F32, containsNull, FloatVec(flat.length, en, flat.map(x => if (x == null) 0f else x.floatValue))))
        case other => throw new IllegalStateException(s"no leaf mapping for $other")
      }
    }
    val trees = schema.fields.indices.map(c => leaf(schema.fields(c), c))
    Columns(t, schema, n, trees, trees.flatMap(Vecs.leaves))
  }

  // ------------------------------------------------ F2/F3 codec shapes

  /** One forced-codec case: the codec, the seeded shape that targets it
    * (FIXTURES.md F2/F3), and the shape's lane.
    */
  final case class CodecCase(codec: String, lane: Int, nullable: Boolean, vec: Vec)

  val codecNames: Seq[String] = Seq("none", "lz4", "zstd", "snappy", "rle", "dict", "onevalue",
    "freq", "bitpack", "deltabp", "patas")

  /** Shapes of `pages` x 2048 rows each. */
  def codecCases(seed: Long, pages: Int): Seq[CodecCase] = {
    val n = pages * 2048
    val st = salt("codec")
    def d(shape: Int, i: Int) = new Draw(seed, st + shape, i)
    def nulls(shape: Int, p: Double): Array[Boolean] = Array.tabulate(n)(i => d(shape, i).u(99) < p)
    // F2 random: binary of stringified ints, null 0.4
    val f2Bin = Vecs.binary(Array.tabulate(n)(i => d(1, i).below(0, n).toString), nulls(1, 0.4))
    // F3 dict: 8 distinct strings, nulls 0.3
    val dictVals = Array.tabulate(8)(k => s"value_${d(2, -1 - k).below(0, 1000000)}")
    val f3Dict = Vecs.binary(Array.tabulate(n)(i => dictVals(d(2, i).below(0, 8).toInt)), nulls(2, 0.3))
    // F3 freq: constant 20 with 3 outliers 10000 per 2048-row page
    val f3Freq = LongVec(n, null, Array.tabulate(n) { i =>
      val p = i / 2048
      val hits = (0 until 3).map(k => d(3, p).below(k, 2048).toInt)
      if (hits.contains(i % 2048)) 10000L else 20L
    })
    // F3 bitpacking: i32 uniform 0..8, nulls 0.1
    val f3Bp = IntVec(n, nulls(4, 0.1), Array.tabulate(n)(i => d(4, i).below(0, 8).toInt))
    // F3 delta_bitpacking: sorted 0..n from a seeded start
    val start = d(5, -1).below(0, 1000000)
    val f3Delta = LongVec(n, null, Array.tabulate(n)(i => start + i))
    // F3 onevalue: constant u32 = 3
    val f3One = LongVec(n, null, Array.fill(n)(3L))
    // F3 float: integer-valued doubles, 50% null
    val f3Float = DoubleVec(n, nulls(7, 0.5), Array.tabulate(n)(i => d(7, i).below(0, 1000).toDouble))
    // runs for RLE: integer-valued doubles held for 1-64 rows at a time
    val runs = {
      val a = new Array[Double](n); var i = 0; var k = 0
      while (i < n) {
        val len = 1 + d(8, k).below(0, 64).toInt; val v = d(8, k).below(1, 1000).toDouble
        var j = 0
        while (j < len && i < n) { a(i) = v; i += 1; j += 1 }
        k += 1
      }
      DoubleVec(n, null, a)
    }
    Seq(
      CodecCase("none", Lane.Bin, true, f2Bin),
      CodecCase("lz4", Lane.Bin, true, f2Bin),
      CodecCase("zstd", Lane.Bin, true, f2Bin),
      CodecCase("snappy", Lane.Bin, true, f2Bin),
      CodecCase("rle", Lane.F64, false, runs),
      CodecCase("dict", Lane.Bin, true, f3Dict),
      CodecCase("onevalue", Lane.I64, false, f3One),
      CodecCase("freq", Lane.I64, false, f3Freq),
      CodecCase("bitpack", Lane.I32, true, f3Bp),
      CodecCase("deltabp", Lane.I64, false, f3Delta),
      CodecCase("patas", Lane.F64, true, f3Float))
  }

  def codecTag(name: String): Byte =
    if (name == "deltabp") Codec.DeltaBitpack else Codec.byName(name)
}

/** Leaf-vector helpers: construction, flattening, size and equality. */
object Vecs {
  def binary(values: Array[String], nulls: Array[Boolean]): BinaryVec = {
    val bs = values.map(_.getBytes("UTF-8"))
    val offsets = new Array[Int](bs.length + 1)
    var i = 0
    while (i < bs.length) { offsets(i + 1) = offsets(i) + bs(i).length; i += 1 }
    val bytes = new Array[Byte](offsets(bs.length))
    i = 0
    while (i < bs.length) { System.arraycopy(bs(i), 0, bytes, offsets(i), bs(i).length); i += 1 }
    BinaryVec(bs.length, nulls, offsets, bytes)
  }

  /** Depth-first (lane, nullable, vec) of every leaf of a column tree. */
  def leaves(t: ColumnTree): Seq[(Int, Boolean, Vec)] = t match {
    case LeafCol(lane, nullable, vec) => Seq((lane, nullable, vec))
    case ListCol(nullable, lengths, child) => (Lane.I32, nullable, lengths: Vec) +: leaves(child)
    case other => throw new IllegalStateException(s"benchmark tables have no $other columns")
  }

  /** Plain-encoded size of a leaf: fixed width x n, or value bytes plus
    * one 4-byte offset per value for the binary lane, plus a null bitmap.
    */
  def rawBytes(v: Vec): Long = {
    val bitmap = if (v.nulls == null) 0L else (v.n + 7) / 8
    bitmap + (v match {
      case b: BinaryVec => b.offsets(b.n).toLong + 4L * b.n
      case _: BoolVec => (v.n + 7) / 8
      case _: IntVec => 4L * v.n
      case _: FloatVec => 4L * v.n
      case _ => 8L * v.n
    })
  }

  /** Value equality under the Vec contract: null masks agree, and values
    * agree wherever the row is not null.
    */
  def same(a: Vec, b: Vec): Boolean = {
    if (a.n != b.n) return false
    var i = 0
    while (i < a.n) {
      if (a.isNull(i) != b.isNull(i)) return false
      if (!a.isNull(i)) {
        val eq = (a, b) match {
          case (x: BoolVec, y: BoolVec) => x.values(i) == y.values(i)
          case (x: IntVec, y: IntVec) => x.values(i) == y.values(i)
          case (x: LongVec, y: LongVec) => x.values(i) == y.values(i)
          case (x: FloatVec, y: FloatVec) =>
            java.lang.Float.floatToIntBits(x.values(i)) == java.lang.Float.floatToIntBits(y.values(i))
          case (x: DoubleVec, y: DoubleVec) =>
            java.lang.Double.doubleToLongBits(x.values(i)) == java.lang.Double.doubleToLongBits(y.values(i))
          case (x: BinaryVec, y: BinaryVec) =>
            java.util.Arrays.equals(x.bytes, x.offsets(i), x.offsets(i + 1),
              y.bytes, y.offsets(i), y.offsets(i + 1))
          case _ => false
        }
        if (!eq) return false
      }
      i += 1
    }
    true
  }

  /** Hex fingerprint of the values and null masks of `vs`, in order. */
  def fingerprint(vs: Seq[Vec]): String = {
    import java.util.Arrays.{hashCode => h}
    val acc = vs.foldLeft(17L) { (a, v) =>
      val x = v match {
        case b: BinaryVec => h(b.offsets) * 31 + h(b.bytes)
        case b: BoolVec => h(b.values)
        case b: IntVec => h(b.values)
        case b: LongVec => h(b.values)
        case b: FloatVec => h(b.values)
        case b: DoubleVec => h(b.values)
        case _ => 0
      }
      Gen.mix(a * 1000003L + x * 31L + h(v.nulls) + v.n)
    }
    java.lang.Long.toHexString(acc)
  }

  /** A copy of `v` with one value changed — the fault the benchmark's own
    * tests inject to prove a wrong result is counted as a failed op.
    */
  def corrupt(v: Vec): Vec = {
    val i = (0 until v.n).find(!v.isNull(_)).getOrElse(0)
    v match {
      case x: IntVec => x.copy(values = x.values.updated(i, x.values(i) + 1))
      case x: LongVec => x.copy(values = x.values.updated(i, x.values(i) + 1))
      case x: FloatVec => x.copy(values = x.values.updated(i, x.values(i) + 1))
      case x: DoubleVec => x.copy(values = x.values.updated(i, x.values(i) + 1))
      case x: BinaryVec => x.copy(bytes = x.bytes.updated(x.offsets(i), (x.bytes(x.offsets(i)) + 1).toByte))
      case x: BoolVec => x.copy(values = x.values.updated(i, !x.values(i)))
      case x => x
    }
  }
}

/** A SeekableInput over an in-memory file image. */
final class BytesInput(bytes: Array[Byte], len: Int) extends SeekableInput {
  def length: Long = len.toLong
  def readFully(pos: Long, dst: Array[Byte], off: Int, n: Int): Unit = {
    if (pos + n > len) throw new java.io.EOFException(s"read past end: $pos+$n > $len")
    System.arraycopy(bytes, pos.toInt, dst, off, n)
  }
  def close(): Unit = ()
}
