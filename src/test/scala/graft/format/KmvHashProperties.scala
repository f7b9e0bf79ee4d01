package graft.format

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.rng.Seed

/** The KMV hash's definition, pinned against a from-scratch reference:
  * `hashLong(v)` is the md5 fold of the UTF-8 bytes of `Long.toString(v)`
  * and `hashBytes` the md5 fold of the given slice, with a fresh
  * `MessageDigest` per value. `KmvUtil` renders digits into a reused
  * buffer and reuses one digest per thread; these properties check that
  * the reuse never changes a hash, including right after a value of a
  * different length. Seeded so a failure reproduces.
  */
object KmvHashProperties extends Properties("graft.format.kmvHash") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(500).withWorkers(1).withInitialSeed(Seed(20261019L))

  private def fold15(digest: Array[Byte]): Long = {
    val hex = digest.map(b => f"$b%02x").mkString
    hex.take(15).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
  }

  private def refLong(v: Long): Long = {
    val s = java.lang.Long.toString(v).getBytes("UTF-8")
    fold15(java.security.MessageDigest.getInstance("MD5").digest(s))
  }

  private def refBytes(a: Array[Byte], off: Int, len: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(a, off, len)
    fold15(md.digest())
  }

  private val edges = Seq(0L, 1L, -1L, 9L, -9L, 10L, -10L, Long.MinValue, Long.MaxValue,
    Long.MinValue + 1, Int.MinValue.toLong, Int.MaxValue.toLong)

  private val genLong: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(edges),
    2 -> Gen.chooseNum(-1000L, 1000L),
    4 -> Gen.choose(Long.MinValue, Long.MaxValue))

  property("hashLong = md5 fold of Long.toString, edge values") =
    Prop(edges.forall(v => KmvUtil.hashLong(v) == refLong(v)))

  property("hashLong = md5 fold of Long.toString, random sequences") =
    Prop.forAllNoShrink(Gen.listOfN(16, genLong)) { vs =>
      vs.forall(v => KmvUtil.hashLong(v) == refLong(v))
    }

  property("hashBytes = md5 fold of the slice, interleaved with hashLong") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))),
        genLong) { (arrays, v) =>
      arrays.forall { l =>
        val a = l.toArray
        val off = if (a.isEmpty) 0 else a.length / 3
        val len = a.length - off - (if (a.length > 2) 1 else 0)
        KmvUtil.hashBytes(a, off, len) == refBytes(a, off, len) &&
          KmvUtil.hashLong(v) == refLong(v)
      }
    }
}
