package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.rng.Seed

/** The bench times both dedup families with `portable = false` (xxhash64),
  * while the oracle gates check `portable = true` (md5-fold). This pins the
  * xxhash64 variants end to end: on a corpus of distinct random-word
  * documents plus k planted exact-duplicate pairs, read through
  * `Tables.load`, `minhashLsh` confirms exactly k pairs and `simhashDedup`
  * reports exactly k near-duplicate pairs — and the portable variants give
  * the same counts. Seeded and bounded: a handful of small corpora.
  */
object DedupVariantProperties extends Properties("graft.queries.dedupVariants") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3).withWorkers(1).withInitialSeed(Seed(20261017L))

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (doc_id, text): `nDocs` documents of 30-60 words drawn from a 4000-word
    * random vocabulary (no two share a word 3-gram in practice), then `k`
    * of them copied verbatim under fresh ids. */
  private def corpus(nDocs: Int, k: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(4000)(
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(3 + rnd.nextInt(7)).mkString)
    val texts = Iterator.continually(
      Seq.fill(30 + rnd.nextInt(31))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      .distinct.take(nDocs).toVector
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val planted = rnd.shuffle(docs).take(k).zipWithIndex.map {
      case ((_, t), j) => ((nDocs + j).toLong, t)
    }
    docs ++ planted
  }

  property("xxhash64 and portable variants both find exactly the planted duplicates") =
    Prop.forAllNoShrink(Gen.chooseNum(80, 200), Gen.chooseNum(1, 6), Gen.long) {
      (nDocs, k, seed) =>
        import spark.implicits._
        val sfDir = s"/tmp/graft-test/dedup-props/$seed"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sfDir))
        corpus(nDocs, k, seed).toDF("doc_id", "text").coalesce(2)
          .write.parquet(s"$sfDir/documents.parquet")
        try {
          def count(df: org.apache.spark.sql.DataFrame, c: String): Long =
            df.head().getAs[Long](c)
          val got = for (portable <- Seq(false, true)) yield (
            count(TrainingData.minhashLsh(spark, sfDir, portable), "confirmed_pairs"),
            count(TrainingData.simhashDedup(spark, sfDir, portable), "near_dup_pairs"))
          Prop(got.forall(_ == ((k.toLong, k.toLong)))) :|
            s"nDocs=$nDocs k=$k seed=$seed (minhash, simhash) xxhash64/portable = $got"
        } finally {
          val converted = new java.io.File(graft.Tables.graftDir(spark, sfDir, "documents"))
          spark.catalog.clearCache()
          org.apache.commons.io.FileUtils.deleteQuietly(converted.getParentFile)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sfDir))
        }
    }
}
