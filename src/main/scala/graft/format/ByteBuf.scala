package graft.format

/** Growable little-endian byte buffer used by all page encoders.
  * (Reference analogue: strawboat's `util/byte_writer.rs`; re-designed for JVM.)
  */
final class ByteBuf(initialCapacity: Int = 1 << 16) {
  private[format] var arr: Array[Byte] = new Array[Byte](initialCapacity)
  private[format] var len: Int = 0

  def length: Int = len
  def reset(): Unit = len = 0

  private def ensure(extra: Int): Unit = {
    val need = len + extra
    if (need > arr.length) {
      var cap = arr.length
      while (cap < need) cap <<= 1
      arr = java.util.Arrays.copyOf(arr, cap)
    }
  }

  def putByte(v: Int): Unit = { ensure(1); arr(len) = v.toByte; len += 1 }

  def putShortLE(v: Int): Unit = {
    ensure(2)
    arr(len) = v.toByte
    arr(len + 1) = (v >>> 8).toByte
    len += 2
  }

  def putIntLE(v: Int): Unit = {
    ensure(4)
    arr(len) = v.toByte
    arr(len + 1) = (v >>> 8).toByte
    arr(len + 2) = (v >>> 16).toByte
    arr(len + 3) = (v >>> 24).toByte
    len += 4
  }

  def putLongLE(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { arr(len + i) = (v >>> (8 * i)).toByte; i += 1 }
    len += 8
  }


  def putBytes(src: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n)
    System.arraycopy(src, off, arr, len, n)
    len += n
  }
  def putBytes(src: Array[Byte]): Unit = putBytes(src, 0, src.length)

  /** Reserve n bytes and return their start position (for later patch). */
  def reserve(n: Int): Int = { ensure(n); val p = len; len += n; p }

  def patchIntLE(pos: Int, v: Int): Unit = {
    arr(pos) = v.toByte
    arr(pos + 1) = (v >>> 8).toByte
    arr(pos + 2) = (v >>> 16).toByte
    arr(pos + 3) = (v >>> 24).toByte
  }

  def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  def writeTo(out: java.io.OutputStream): Unit = out.write(arr, 0, len)
}

/** Little-endian cursor over a byte array (decode side). */
final class ByteCursor(val arr: Array[Byte], var pos: Int) {
  def getByte(): Int = { val v = arr(pos) & 0xff; pos += 1; v }
  def getShortLE(): Int = {
    val v = (arr(pos) & 0xff) | ((arr(pos + 1) & 0xff) << 8)
    pos += 2; v
  }
  def getIntLE(): Int = {
    val v = (arr(pos) & 0xff) | ((arr(pos + 1) & 0xff) << 8) |
      ((arr(pos + 2) & 0xff) << 16) | ((arr(pos + 3) & 0xff) << 24)
    pos += 4; v
  }
  def getLongLE(): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (arr(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8; v
  }
  def skip(n: Int): Unit = pos += n
  def getBytes(n: Int): Array[Byte] = {
    val b = java.util.Arrays.copyOfRange(arr, pos, pos + n)
    pos += n
    b
  }
}
