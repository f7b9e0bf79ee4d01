package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CALL-style SQL lifecycle surface (`graft_compact` / `graft_zorder` /
  * `graft_vacuum` / `graft_expire_manifests` table functions): the side
  * effect runs at EXECUTION time (EXPLAIN never mutates), stat rows
  * mirror the library stats, and a pure-SQL user can run the whole
  * lifecycle — including folding deletion vectors away via compaction —
  * without touching a library API.
  */
class MaintSqlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = s"/tmp/graft-test/maintsql-$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def nFiles(dir: String): Int =
    GraftUtil.listDataFiles(dir, spark.sessionState.newHadoopConf()).size

  private def contentSum(dir: String): Long =
    spark.read.format("graft").load(dir)
      .agg(sum(col("k"))).collect()(0).getLong(0)

  test("EXPLAIN of a maintenance call mutates nothing; execution runs it once") {
    val dir = fresh("explain")
    spark.range(0, 500).selectExpr("id AS k").repartition(8)
      .write.format("graft").mode("overwrite").save(dir)
    spark.sql(s"EXPLAIN SELECT * FROM graft_compact('$dir', 2)").collect()
    assert(nFiles(dir) == 8, "EXPLAIN must not compact")
    val stats = spark.sql(s"SELECT * FROM graft_compact('$dir', 2)")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(nFiles(dir) <= 2)
    assert(stats("files_before") == 8 && stats("rows") == 500, stats)
    assert(contentSum(dir) == (0L until 500L).sum)
  }

  test("graft_zorder re-clusters through pure SQL") {
    val dir = fresh("zorder")
    spark.range(0, 2000).selectExpr("id AS k", "(id * 37) % 1000 AS v")
      .repartition(4)
      .write.format("graft").option("maxrowsperfile", "500")
      .mode("overwrite").save(dir)
    val before = contentSum(dir)
    val stats = spark.sql(s"SELECT * FROM graft_zorder('$dir', 'k,v', 2)")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("rows") == 2000, stats)
    assert(contentSum(dir) == before, "re-clustering must preserve content")
    assert(nFiles(dir) <= 2)
  }

  test("graft_vacuum sweeps aged junk via SQL") {
    val dir = fresh("vacuum")
    spark.range(0, 100).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a crashed load's staging leftover
    val junk = new org.apache.hadoop.fs.Path(dir,
      s".junk${GraftUtil.Extension}.a1.tmp")
    val out = fs.create(junk, true); out.write(1); out.close()
    val stats = spark.sql(s"SELECT * FROM graft_vacuum('$dir', " +
      s"${System.currentTimeMillis() + 60000})")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("staging_tmps") == 1, stats)
    assert(!fs.exists(junk))
    assert(contentSum(dir) == (0L until 100L).sum)
  }

  test("graft_expire_manifests applies retention via SQL") {
    val dir = fresh("expire")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("append").save(dir)
    val stats = spark.sql(s"SELECT * FROM graft_expire_manifests('$dir', " +
      s"${System.currentTimeMillis() + 60000})")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("manifests_removed") == 2, stats)
    assert(contentSum(dir) == (0L until 20L).sum,
      "expiry touches snapshot granularity, never data")
  }

  test("graft_apply_changes syncs a keyed derived table through pure SQL") {
    val src = fresh("applysrc"); val tgt = fresh("applytgt")
    spark.range(0, 200).selectExpr("id AS k", "id * 3 AS v").coalesce(2)
      .write.format("graft").mode("overwrite").save(src)
    GraftMaintenance.deleteWhere(spark, src, col("k") % 5 === 1,
      changelog = true)
    val stats = spark.sql(s"SELECT * FROM graft_apply_changes('$src', 0, " +
      s"${Long.MaxValue}L, '$tgt', 'k')")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("rows_appended") == 160, stats)
    val got = spark.read.format("graft").load(tgt)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 200L).filterNot(_ % 5 == 1))
    // idempotent: replaying the same window is recognized and a no-op
    val replay = spark.sql(s"SELECT * FROM graft_apply_changes('$src', 0, " +
      s"${Long.MaxValue}L, '$tgt', 'k')")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(replay("rows_appended") == 0 && replay("delete_keys_applied") == 0,
      replay)
  }

  test("graft_dv lists sidecar generations with postures and currency") {
    val dir = fresh("dvlist")
    spark.range(0, 100).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") < 10,
      takedown = false)
    Thread.sleep(5)
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") >= 90,
      takedown = false)
    val rows = spark.sql(s"SELECT gen, posture, cardinality, current " +
      s"FROM graft_dv('$dir') ORDER BY gen").collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows.forall(_.getString(1) == "versioned"))
    // cumulative: gen 1 masks 10, gen 2 masks 20; only gen 2 is current
    assert(rows.map(r => (r.getInt(0), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1, 10L, false), (2, 20L, true)), rows.mkString("; "))
  }

  test("a SQL-only user folds deletion vectors away through graft_compact") {
    val dir = fresh("dvfold")
    spark.conf.set("spark.sql.catalog.gms", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gms.warehouse", "/tmp/graft-test")
    spark.range(0, 300).selectExpr("id AS k").repartition(3)
      .write.format("graft").mode("overwrite").save(dir)
    spark.conf.set("graft.delete.mode", "dv")
    try spark.sql(s"DELETE FROM gms.`maintsql-dvfold` WHERE k < 30")
    finally spark.conf.unset("graft.delete.mode")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(GraftDv.hasAny(fs, new org.apache.hadoop.fs.Path(dir)))
    spark.sql(s"SELECT * FROM graft_compact('$dir', 1)").collect()
    assert(!GraftDv.hasAny(fs, new org.apache.hadoop.fs.Path(dir)),
      "compaction must fold the masks away")
    assert(spark.read.format("graft").load(dir)
      .agg(sum(col("k"))).collect()(0).getLong(0) == (30L until 300L).sum)
  }

  test("graft_partitions reports per-partition files/rows and dv masks") {
    val dir = "/tmp/graft-test/maintsql-parts"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.range(0, 200)
      .selectExpr("id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS p")
      .write.format("graft").option("partitionby", "p")
      .mode("overwrite").save(dir)
    def parts() = spark.sql(s"SELECT * FROM graft_partitions('$dir') ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val before = parts()
    assert(before.map(x => (x._1, x._3, x._4)).toSeq ==
      Seq(("p=a", 100L, 0L), ("p=b", 100L, 0L)), before.toSeq)
    // a dv delete shows up as masked rows and reduced LIVE rows
    GraftMaintenance.deleteWhereDv(spark, dir,
      col("p") === "a" && col("k") < 50)
    val after = parts()
    assert(after.map(x => (x._1, x._3, x._4)).toSeq ==
      Seq(("p=a", 75L, 25L), ("p=b", 100L, 0L)), after.toSeq)
    // unpartitioned: one <all> row
    val flat = "/tmp/graft-test/maintsql-parts-flat"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(flat))
    spark.range(0, 10).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(flat)
    val f = spark.sql(s"SELECT partition, rows FROM graft_partitions('$flat')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(f == Seq(("<all>", 10L)), f)
  }
}
