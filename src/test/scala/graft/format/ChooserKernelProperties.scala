package graft.format

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** The writer's codec-chooser kernels against naive references:
  *
  *  - `IntCodecs.computeStats` against a `HashMap`/`BigInt` reference,
  *    field by field, on adversarial pages: integer-valued double bit
  *    patterns (zero low bits), dense ranges (the direct-address path),
  *    sparse values (the hashed path), spans from Long.MinValue to
  *    Long.MaxValue (max - min overflows), all-equal pages, sorted
  *    pages whose deltas wrap and sorted runs that tie for the top;
  *  - `BinaryCodecs.intern` and the binary zone map against a String-keyed
  *    reference: equal bytes at different offsets, empty strings,
  *    null-filled slots and shared prefixes, on a sub-range of the vector.
  */
object ChooserKernelProperties extends Properties("graft.format.chooserKernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300).withWorkers(1).withInitialSeed(Seed(20261017L))

  // ---- integer pages ----

  private def pageOf(pool: Gen[Long]): Gen[Array[Long]] =
    Gen.chooseNum(1, 3000).flatMap(n => Gen.containerOfN[Array, Long](n, pool))

  private val intDoubles: Gen[Array[Long]] = for {
    distinct <- Gen.chooseNum(1, 120)
    f32 <- Gen.oneOf(false, true)
    page <- pageOf(Gen.chooseNum(1, distinct).map { k =>
      if (f32) java.lang.Float.floatToRawIntBits(k.toFloat).toLong & 0xffffffffL
      else java.lang.Double.doubleToRawLongBits(k.toDouble)
    })
  } yield page

  private val dense: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(1, 3000)
    range <- Gen.chooseNum(0L, 2L * n - 1)
    base <- Gen.oneOf(Gen.chooseNum(-1000000L, 1000000L),
      Gen.const(Long.MaxValue - range), Gen.const(Long.MinValue))
    page <- Gen.containerOfN[Array, Long](n, Gen.chooseNum(0L, range).map(base + _))
  } yield page

  private val sparse: Gen[Array[Long]] = for {
    pool <- Gen.containerOfN[Array, Long](50, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    page <- pageOf(Gen.oneOf(pool.toSeq))
  } yield page

  private val span: Gen[Array[Long]] =
    pageOf(Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue),
      Gen.const(0L), Gen.chooseNum(Long.MinValue, Long.MaxValue)))

  private val allEqual: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(1, 3000)
    x <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
  } yield Array.fill(n)(x)

  private val wrappedSorted: Gen[Array[Long]] =
    pageOf(Gen.oneOf(Gen.const(Long.MinValue), Gen.chooseNum(Long.MinValue, -1L << 62),
      Gen.chooseNum(-5L, 5L), Gen.chooseNum(1L << 62, Long.MaxValue), Gen.const(Long.MaxValue)))
      .map(_.sorted)

  /** sorted runs of equal length: every value ties for the top count */
  private val tiedRuns: Gen[Array[Long]] = for {
    k <- Gen.chooseNum(1, 50)
    run <- Gen.chooseNum(1, 60)
    values <- Gen.containerOfN[Array, Long](k, Gen.chooseNum(Long.MinValue, Long.MaxValue))
  } yield values.distinct.sorted.flatMap(x => Array.fill(run)(x))

  private val intPages: Gen[Array[Long]] =
    Gen.oneOf(intDoubles, dense, sparse, span, allEqual, wrappedSorted, tiedRuns)

  private def checkStats(v: Array[Long]): Prop = {
    val s = IntCodecs.computeStats(v)
    val counts = new java.util.HashMap[Long, Int]()
    var topCount = 0
    var topValue = 0L
    var runs = 0
    var sorted = true
    var maxDelta = BigInt(0)
    var overflow = false
    v.indices.foreach { i =>
      val x = v(i)
      val c = counts.getOrDefault(x, 0) + 1
      counts.put(x, c)
      if (c > topCount) { topCount = c; topValue = x }
      if (i == 0 || x != v(i - 1)) runs += 1
      if (i > 0 && x < v(i - 1)) sorted = false
    }
    // deltas are defined for sorted pages only (DeltaBitpack's domain)
    if (sorted) (1 until v.length).foreach { i =>
      val d = BigInt(v(i)) - BigInt(v(i - 1))
      if (d > BigInt(Long.MaxValue)) overflow = true
      else if (d > maxDelta) maxDelta = d
    }
    Prop.all(
      (s.min == v.min) :| "min",
      (s.max == v.max) :| "max",
      (s.runCount == runs) :| "runs",
      (s.uniqueCount == counts.size) :| "unique",
      (s.topValue == topValue) :| "top value",
      (s.topCount == topCount) :| "top count",
      (s.sorted == sorted) :| "sorted",
      (BigInt(s.maxDelta) == maxDelta) :| "maxDelta",
      (s.deltaOverflow == overflow) :| "deltaOverflow")
  }

  property("computeStats matches a HashMap reference") =
    Prop.forAllNoShrink(intPages)(checkStats)

  // ---- binary pages ----

  /** Value pool: empty strings, shared prefixes and high bytes. */
  private val binValue: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const(Array.emptyByteArray),
    Gen.oneOf("a", "ab", "abc", "abcd", "abcdefghijklmnopq", "abcdefghijklmnopqr", "b")
      .map(_.getBytes("ISO-8859-1")),
    Gen.chooseNum(1, 40).flatMap(k => Gen.containerOfN[Array, Byte](k,
      Gen.oneOf(0.toByte, 0x7f.toByte, 0x80.toByte, 0xff.toByte, 'x'.toByte))))

  private val binPages: Gen[(BinaryVec, Int, Int)] = for {
    pool <- Gen.containerOfN[Array, Array[Byte]](12, binValue)
    total <- Gen.chooseNum(1, 2000)
    nullP <- Gen.oneOf(0.0, 0.3, 0.9)
    picks <- Gen.containerOfN[Array, Int](total, Gen.chooseNum(0, pool.length - 1))
    draws <- Gen.containerOfN[Array, Double](total, Gen.chooseNum(0.0, 1.0))
    from <- Gen.chooseNum(0, total - 1)
    until <- Gen.chooseNum(from + 1, total)
  } yield {
    val b = new BinaryVecBuilder()
    picks.indices.foreach { i =>
      if (draws(i) < nullP) b.appendNull() else b.append(pool(picks(i)))
    }
    (b.result().asInstanceOf[BinaryVec], from, until)
  }

  property("binary interning matches a String-keyed reference") =
    Prop.forAllNoShrink(binPages) { case (vec, from, until) =>
      val n = until - from
      val p = BinaryCodecs.intern(vec, from, until)
      def str(i: Int) = new String(vec.bytes, vec.offsets(i), vec.offsets(i + 1) - vec.offsets(i),
        "ISO-8859-1")
      val firstSeen = new java.util.LinkedHashMap[String, Int]()
      val counts = new java.util.HashMap[String, Int]()
      val live = new java.util.HashSet[String]()
      var last = ""
      var topCount = 0
      var topKey = ""
      var totalBytes = 0L
      val keys = (0 until n).map { i =>
        val isNull = vec.nulls != null && vec.nulls(from + i)
        if (!isNull) { last = str(from + i); live.add(last) }
        if (!firstSeen.containsKey(last)) firstSeen.put(last, firstSeen.size)
        val c = counts.getOrDefault(last, 0) + 1
        counts.put(last, c)
        if (c > topCount) { topCount = c; topKey = last }
        totalBytes += last.length
        last
      }
      val dict = new Array[String](firstSeen.size)
      firstSeen.asScala.foreach { case (k, d) => dict(d) = k }
      def entry(d: Int) = new String(p.bytes, p.start(d), p.length(d), "ISO-8859-1")
      val liveSorted = live.toArray(new Array[String](0)).sortWith((a, b) =>
        java.util.Arrays.compareUnsigned(a.getBytes("ISO-8859-1"), b.getBytes("ISO-8859-1")) < 0)
      val zone = PageStats.binStats(p)
      def trunc(s: String) = s.getBytes("ISO-8859-1").take(PageStats.BinStatTrunc)
      val zoneOk =
        if (liveSorted.isEmpty) zone.kind == 0
        else {
          val mx = liveSorted.last
          val maxB = if (mx.length <= PageStats.BinStatTrunc) trunc(mx) else PageStats.incrementUp(trunc(mx))
          zone.kind == 4 && java.util.Arrays.equals(zone.minBin, trunc(liveSorted.head)) &&
            java.util.Arrays.equals(zone.maxBin, maxB)
        }
      Prop.all(
        (p.unique == dict.length) :| "unique",
        (0 until p.unique).forall(d => entry(d) == dict(d)) :| "entries in first-seen order",
        (0 until n).forall(i => p.ids(i) == firstSeen.get(keys(i))) :| "row ids",
        (0 until p.unique).forall(d => p.count(d) == counts.get(dict(d))) :| "counts",
        (0 until p.unique).forall(d => p.live(d) == live.contains(dict(d))) :| "live",
        (p.topCount == topCount && entry(p.topId) == topKey) :| "top",
        (p.totalBytes == totalBytes) :| "total bytes",
        zoneOk :| "zone map")
    }
}
