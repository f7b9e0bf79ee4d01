package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's tables: the repository's seed-42 testdata (TESTDATA.md,
  * the TPC-H-ish star schema plus events, documents and embeddings), copied
  * unchanged into perfbench/data so a checkout reads nothing outside itself.
  * sf0.01 feeds the measured runs, sf0.001 the smoke runs.
  *
  * Larger inputs are the same tables amplified: copy 0 is the table as
  * stored, copy c > 0 shifts its keys past every earlier copy and is
  * perturbed by draws from the workload seed, after Bench.stageAmplified.
  * Copies are laid out one after the other, so lineitem stays clustered by
  * l_orderkey.
  */
object Data {
  val large: Seq[String] = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part") ++ large

  /** Directory of the tables a run reads. */
  def dir(args: Args): String =
    new java.io.File(args.data, if (args.smoke) "sf0.001" else "sf0.01").getAbsolutePath

  /** Table `t` as the query library reads its parquet (events.ts normalized). */
  def table(spark: SparkSession, dir: String, t: String): DataFrame = graft.Tables.parquet(spark, dir, t)

  private def keyEnd(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1

  /** `t` amplified `factor` times from the seed's perturbation. */
  def amplified(spark: SparkSession, dir: String, t: String, factor: Int, seed: Long): DataFrame = {
    val src = table(spark, dir, t)
    if (factor <= 1) return src
    def draw(c: Int) = new Gen.Draw(seed, Gen.salt(t), c)
    val copy: Int => DataFrame = t match {
      case "orders" | "lineitem" =>
        val k = if (t == "orders") "o_orderkey" else "l_orderkey"
        val end = keyEnd(table(spark, dir, "orders"), "o_orderkey")
        c => src.withColumn(k, col(k) + c * end)
      case "events" =>
        val (ids, users) = (keyEnd(src, "event_id"), keyEnd(src, "user_id"))
        // shift ts by a seeded few microseconds so sessions and windows don't stack
        c => src.withColumn("event_id", col("event_id") + c * ids)
          .withColumn("user_id", col("user_id") + c * users)
          .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + (c * 1000L + draw(c).below(0, 1000))))
      case "documents" =>
        val ids = keyEnd(src, "doc_id")
        // a seeded tag appended: each copy is a near duplicate, not a clone
        c => {
          val tag = s" c${draw(c).below(0, 100000)}"
          src.withColumn("doc_id", col("doc_id") + c * ids)
            .withColumn("text", concat(col("text"), lit(tag)))
            .withColumn("n_chars", col("n_chars") + tag.length.toLong)
        }
      case "embeddings" =>
        val ids = keyEnd(src, "vec_id")
        c => {
          val jitter = (c * 1e-4 * (1 + draw(c).u(0))).toFloat
          src.withColumn("vec_id", col("vec_id") + c * ids)
            .withColumn("embedding", transform(col("embedding"), x => x + lit(jitter)))
        }
      case other => throw new IllegalArgumentException(s"no amplification for $other")
    }
    (1 until factor).map(copy).foldLeft(src)(_ union _)
  }

  /** `df` collected into leaf vectors, timestamps as epoch microseconds. */
  def columns(t: String, df: DataFrame): Gen.Columns = {
    val rows = df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType => unix_micros(col(f.name).cast(TimestampType)).as(f.name)
        case _ => col(f.name)
      }
    }: _*).collect()
    Gen.columns(t, df.schema, rows)
  }

  /** Content hash of the tables under `dir` (keys the query oracle cache). */
  def digest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    new java.io.File(dir).listFiles().sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
