package graft.format

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** The writer's per-leaf KMV synopsis (`GraftFileWriter.buildKmv`, which
  * skips a hash once it cannot enter the k smallest) against a naive
  * reference: hash every live value, sort, distinct, take k. Leaves mix
  * duplicates, all-equal values, fewer than k distinct values, null-heavy
  * masks and binary values (empty and high bytes included).
  */
object KmvBuildProperties extends Properties("graft.format.kmvBuild") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200).withWorkers(1).withInitialSeed(Seed(20261018L))

  private final case class Leaf(lane: Int, vec: Vec, k: Int) {
    override def toString: String = s"Leaf(lane=$lane, n=${vec.n}, k=$k)"
  }

  /** 1-8 bytes of the value, or none for about 1 value in 11 */
  private def bytesOf(x: Long): Array[Byte] =
    if (x % 11 == 0) Array.emptyByteArray
    else java.nio.ByteBuffer.allocate(8).putLong(x).array().take((x & 7).toInt + 1)

  private val genLeaf: Gen[Leaf] = for {
    n <- Gen.chooseNum(0, 1500)
    k <- Gen.oneOf(1, 2, 16, 64, 256)
    // all-equal, a few distinct (heavy duplicates) or mostly distinct
    distinct <- Gen.oneOf(1, 5, 40, 5000)
    pool <- Gen.containerOfN[Array, Long](distinct, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    nullP <- Gen.oneOf(0.0, 0.3, 0.95)
    seed <- Gen.long
    lane <- Gen.oneOf(Lane.I32, Lane.I64, Lane.Bin)
  } yield {
    val r = new scala.util.Random(seed)
    val vs = Array.fill(n)(pool(r.nextInt(pool.length)))
    val nulls = if (nullP == 0.0) null else Array.fill(n)(r.nextDouble() < nullP)
    val vec: Vec = lane match {
      case Lane.I32 => IntVec(n, nulls, vs.map(_.toInt))
      case Lane.I64 => LongVec(n, nulls, vs)
      case _ =>
        val b = new BinaryVecBuilder()
        vs.indices.foreach(i => if (nulls != null && nulls(i)) b.appendNull() else b.append(bytesOf(vs(i))))
        b.result()
    }
    Leaf(lane, vec, k)
  }

  private def reference(leaf: Leaf): Array[Long] = {
    val v = leaf.vec
    val live = (0 until v.n).filter(i => v.nulls == null || !v.nulls(i))
    val hashes = v match {
      case b: BinaryVec => live.map(i => KmvUtil.hashBytes(b.bytes, b.offsets(i), b.offsets(i + 1) - b.offsets(i)))
      case iv: IntVec => live.map(i => KmvUtil.hashLong(iv.values(i).toLong))
      case lv: LongVec => live.map(i => KmvUtil.hashLong(lv.values(i)))
      case other => sys.error(s"unexpected $other")
    }
    hashes.sorted.distinct.take(leaf.k).toArray
  }

  property("buildKmv equals sort-distinct-take-k of the live hashes") =
    Prop.forAllNoShrink(genLeaf) { leaf =>
      val got = GraftFileWriter.buildKmv(leaf.lane, leaf.vec, leaf.vec.n, leaf.k)
      val want = reference(leaf)
      got.sameElements(want) :| s"got ${got.length} hashes, want ${want.length}"
    }
}
