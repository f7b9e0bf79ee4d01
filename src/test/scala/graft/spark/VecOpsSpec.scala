package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native vector kernels must be drop-in replacements for the SQL
  * higher-order-function forms they accelerate: identical values (incl.
  * two's-complement overflow), identical NULL contract (length mismatch or
  * null element ⇒ NULL), and identical results interpreted vs
  * whole-stage-codegen — the oracle hash compare tolerates zero drift.
  */
class VecOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val n = if (i % 17 == 0) 63 else 64 // occasional length mismatch vs b
      val a = Array.fill(n)(rnd.nextLong() % 2000L)
      val b = Array.fill(64)(rnd.nextLong() % 2000L)
      (i.toLong, a, b)
    }
    rows.toDF("id", "a", "b")
  }

  test("dot / normSq / l2 match the SQL aggregate-zip_with forms exactly") {
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      val got = fixture
        .withColumn("dot_sql", expr(
          "aggregate(zip_with(a, b, (x, y) -> x*y), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("dot_native", VecOps.longDot(col("a"), col("b")))
        .withColumn("nrm_sql", expr(
          "aggregate(a, cast(0 as bigint), (acc, x) -> acc + x*x)"))
        .withColumn("nrm_native", VecOps.longNormSq(col("a")))
        .withColumn("l2_sql", expr(
          "aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("l2_native", VecOps.longL2(col("a"), col("b")))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        def pair(s: String, n: String): Unit = {
          val i1 = r.fieldIndex(s); val i2 = r.fieldIndex(n)
          assert(r.isNullAt(i1) == r.isNullAt(i2),
            s"codegen=$codegen null drift on $n at id=${r.getLong(0)}")
          if (!r.isNullAt(i1)) assert(r.getLong(i1) == r.getLong(i2),
            s"codegen=$codegen value drift on $n at id=${r.getLong(0)}")
        }
        pair("dot_sql", "dot_native")
        pair("nrm_sql", "nrm_native")
        pair("l2_sql", "l2_native")
      }
      // length mismatch rows must be NULL (zip_with null-padding semantics)
      val mismatch = got.filter(_.getLong(0) % 17 == 0)
      assert(mismatch.nonEmpty && mismatch.forall(_.isNullAt(mismatch.head.fieldIndex("dot_native"))))
    }
    spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("null elements propagate to NULL") {
    val df = spark.sql(
      "SELECT array(1L, NULL, 3L) AS a, array(1L, 2L, 3L) AS b")
    val r = df.select(
      VecOps.longDot(col("a"), col("b")).as("d"),
      VecOps.longNormSq(col("a")).as("n"),
      VecOps.longL2(col("a"), col("b")).as("l")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("kernels are reachable from pure SQL via registered function names") {
    val r = spark.sql(
      """SELECT graft_long_dot(array(1L,2L,3L), array(4L,5L,6L)) AS d,
        |       graft_long_norm_sq(array(3L,4L)) AS n,
        |       graft_long_l2(array(1L,2L), array(4L,6L)) AS l""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 32L && r.getLong(1) == 25L && r.getLong(2) == 25L)
  }

  test("non-array input is an analysis error, not an executor crash") {
    val e = intercept[Exception] {
      spark.range(1).select(VecOps.longDot(col("id"), col("id"))).collect()
    }
    assert(e.getMessage.contains("ARRAY<BIGINT>"))
  }
}
