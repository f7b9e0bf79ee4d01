package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The diagnostics entry point's subcommands run against a caller's
  * session and leave it running: only `Probe.main` stops a session.
  */
class ProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("stat reports lane, codec names, raw and disk bytes per leaf") {
    val dir = "/tmp/graft-test/probe-stat"
    spark.range(20000)
      .selectExpr("id", "7L AS k", "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS s")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val st = Probe.stat(dir)
    val leaves = st.leaves
    assert(leaves.map(_.name) == Seq("id", "k", "s"))
    val byName = leaves.map(l => l.name -> l).toMap
    assert(byName("id").lane == graft.format.Lane.I64)
    assert(byName("k").codecs.keySet == Set("onevalue"), byName("k").codecs)
    assert(byName("s").codecs.keySet == Set("dict"), byName("s").codecs)
    assert(leaves.forall(l => l.codecs.values.sum == 3), leaves) // 20000 rows, 8192-row pages
    assert(leaves.forall(l => l.diskBytes > 0 && l.rawBytes > 0), leaves)
    assert(byName("id").rawBytes == 20000L * 8)
    assert(byName("k").diskBytes < byName("k").rawBytes)
    assert(Probe.formatLeaf(byName("k")).contains("onevalue x3"))
    // every leaf is re-encoded through the page writer and timed
    assert(leaves.forall(l => l.encodeMs > 0 && l.encodeMs < 60000), leaves)
    assert(Probe.formatLeaf(byName("s")).matches(".* encode_ms=[0-9]+\\.[0-9]{2} \\[dict x3\\]"),
      Probe.formatLeaf(byName("s")))
    // one line per file: the whole file written again through GraftFileWriter
    assert(st.files.length == 1 && st.files.head.rows == 20000L, st.files)
    assert(st.files.head.writeMs > 0 && st.files.head.writeMs < 60000, st.files)
    assert(st.files.head.readMs > 0 && st.files.head.readMs < 60000, st.files)
    assert(Probe.formatFile(st.files.head).matches(
      "file part-.*\\.graft rows=20,000 write_ms=[0-9]+\\.[0-9]{2} read_ms=[0-9]+\\.[0-9]{2}"),
      Probe.formatFile(st.files.head))
    assert(!spark.sparkContext.isStopped)
  }

  test("stat rewrites nested files from their decoded leaves") {
    val dir = "/tmp/graft-test/probe-stat-nested"
    spark.range(3000)
      .selectExpr("id",
        "IF(id % 7 = 0, NULL, sequence(0, id % 5)) AS arr",
        "IF(id % 5 = 0, NULL, map(CAST(id % 3 AS STRING), id)) AS m",
        "IF(id % 4 = 0, NULL, named_struct('x', id, 'y', CAST(id AS STRING))) AS s")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val st = Probe.stat(dir)
    assert(st.leaves.map(_.name).length == 9, st.leaves.map(_.name))
    assert(st.files.length == 1 && st.files.head.rows == 3000L, st.files)
    assert(st.files.head.writeMs > 0, st.files)
  }

  test("rows counts query results and leaves the session running") {
    // oracle: the same queries in DuckDB over the sf0.001 parquet
    val counts = Probe.rows(spark, Seq("q1_pricing_summary", "q3_shipping_priority"),
      "/root/testdata/sf0.001")
    assert(counts == Seq("q1_pricing_summary" -> 6L, "q3_shipping_priority" -> 10L))
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("query lists expand headline and all") {
    assert(Probe.names("a,b") == Seq("a", "b"))
    assert(Probe.names("headline") == graft.Bench.headline)
    assert(Probe.names("all").contains("q1_pricing_summary"))
  }
}
