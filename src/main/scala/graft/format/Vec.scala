package graft.format

/** In-memory columnar leaf vectors — shared between the encode and decode
  * paths. `nulls(i) == true` means row i is NULL; `nulls eq null` means no
  * nulls. Values under null positions are don't-care but occupy slots
  * (same contract as the reference, SURVEY.md §7.4).
  */
sealed trait Vec {
  def n: Int
  def nulls: Array[Boolean]
  final def isNull(i: Int): Boolean = nulls != null && nulls(i)
}

final case class BoolVec(n: Int, nulls: Array[Boolean], values: Array[Boolean]) extends Vec
/** lanes I8/I16/I32 (byte/short/int/date) */
final case class IntVec(n: Int, nulls: Array[Boolean], values: Array[Int]) extends Vec
/** lane I64 (long/timestamp/decimal<=18) */
final case class LongVec(n: Int, nulls: Array[Boolean], values: Array[Long]) extends Vec
final case class FloatVec(n: Int, nulls: Array[Boolean], values: Array[Float]) extends Vec
final case class DoubleVec(n: Int, nulls: Array[Boolean], values: Array[Double]) extends Vec
/** lane Bin: value i = bytes[offsets(i) until offsets(i+1)); offsets has n+1 entries */
final case class BinaryVec(n: Int, nulls: Array[Boolean], offsets: Array[Int], bytes: Array[Byte]) extends Vec {
  def apply(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, offsets(i), offsets(i + 1))
}
/** lane I128 (decimal 19-38): two's-complement (hi, lo) word pairs */
final case class DecimalVec(n: Int, nulls: Array[Boolean], hi: Array[Long], lo: Array[Long]) extends Vec

// ---------------------------------------------------------------------------
// Growable builders (used by the Spark DataWriter and by tests)
// ---------------------------------------------------------------------------

sealed trait VecBuilder {
  def appendNull(): Unit
  def size: Int
  def result(): Vec
  def clear(): Unit
}

final class BoolVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var vals = new Array[Boolean](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
    if (nullsArr != null && n >= nullsArr.length)
      nullsArr = java.util.Arrays.copyOf(nullsArr, nullsArr.length * 2)
  }
  def append(v: Boolean): Unit = { ensure(); vals(n) = v; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null) nullsArr = new Array[Boolean](vals.length)
    else if (n >= nullsArr.length) nullsArr = java.util.Arrays.copyOf(nullsArr, vals.length)
    nullsArr(n) = true; hasNull = true; vals(n) = false; n += 1
  }
  def size: Int = n
  def result(): Vec = BoolVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(vals, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

final class IntVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var vals = new Array[Int](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
  }
  def append(v: Int): Unit = { ensure(); vals(n) = v; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](vals.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    // null slots carry a deterministic 0 — nested lengths leaves depend on it
    nullsArr(n) = true; hasNull = true; vals(n) = 0; n += 1
  }
  def size: Int = n
  def result(): Vec = IntVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(vals, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

final class LongVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var vals = new Array[Long](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
  }
  def append(v: Long): Unit = { ensure(); vals(n) = v; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](vals.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    nullsArr(n) = true; hasNull = true; vals(n) = 0L; n += 1
  }
  def size: Int = n
  def result(): Vec = LongVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(vals, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

final class FloatVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var vals = new Array[Float](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
  }
  def append(v: Float): Unit = { ensure(); vals(n) = v; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](vals.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    nullsArr(n) = true; hasNull = true; vals(n) = 0f; n += 1
  }
  def size: Int = n
  def result(): Vec = FloatVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(vals, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

final class DoubleVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var vals = new Array[Double](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
  }
  def append(v: Double): Unit = { ensure(); vals(n) = v; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](vals.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    nullsArr(n) = true; hasNull = true; vals(n) = 0d; n += 1
  }
  def size: Int = n
  def result(): Vec = DoubleVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(vals, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

final class BinaryVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var offs = new Array[Int](initial + 1)
  private var bytes = new Array[Byte](initial * 8)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var byteLen = 0
  private var hasNull = false
  private def ensure(extraBytes: Int): Unit = {
    if (n + 1 >= offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
    if (byteLen + extraBytes > bytes.length) {
      var cap = bytes.length
      while (cap < byteLen + extraBytes) cap *= 2
      bytes = java.util.Arrays.copyOf(bytes, cap)
    }
  }
  def append(v: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(v, off, bytes, byteLen, len)
    byteLen += len
    n += 1
    offs(n) = byteLen
  }
  def append(v: Array[Byte]): Unit = append(v, 0, v.length)
  def appendNull(): Unit = {
    ensure(0)
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](offs.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    nullsArr(n) = true; hasNull = true
    n += 1
    offs(n) = byteLen
  }
  def size: Int = n
  def result(): Vec = BinaryVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(offs, n + 1),
    java.util.Arrays.copyOf(bytes, byteLen))
  def clear(): Unit = { n = 0; byteLen = 0; hasNull = false; nullsArr = null; offs(0) = 0 }
}

final class DecimalVecBuilder(initial: Int = 1024) extends VecBuilder {
  private var his = new Array[Long](initial)
  private var los = new Array[Long](initial)
  private var nullsArr: Array[Boolean] = null
  private var n = 0
  private var hasNull = false
  private def ensure(): Unit = {
    if (n >= his.length) {
      his = java.util.Arrays.copyOf(his, his.length * 2)
      los = java.util.Arrays.copyOf(los, los.length * 2)
    }
  }
  def append(hi: Long, lo: Long): Unit = { ensure(); his(n) = hi; los(n) = lo; n += 1 }
  def appendNull(): Unit = {
    ensure()
    if (nullsArr == null || n >= nullsArr.length) {
      val prev = nullsArr
      nullsArr = new Array[Boolean](his.length)
      if (prev != null) System.arraycopy(prev, 0, nullsArr, 0, prev.length)
    }
    nullsArr(n) = true; hasNull = true; his(n) = 0L; los(n) = 0L; n += 1
  }
  def size: Int = n
  def result(): Vec = DecimalVec(n,
    if (hasNull) java.util.Arrays.copyOf(nullsArr, n) else null,
    java.util.Arrays.copyOf(his, n),
    java.util.Arrays.copyOf(los, n))
  def clear(): Unit = { n = 0; hasNull = false; nullsArr = null }
}

object VecBuilder {
  def forLane(lane: Int): VecBuilder = lane match {
    case Lane.Bool => new BoolVecBuilder()
    case Lane.I8 | Lane.I16 | Lane.I32 => new IntVecBuilder()
    case Lane.I64 => new LongVecBuilder()
    case Lane.F32 => new FloatVecBuilder()
    case Lane.F64 => new DoubleVecBuilder()
    case Lane.Bin => new BinaryVecBuilder()
    case Lane.I128 => new DecimalVecBuilder()
  }
}
