package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL partition management over the hive directory layout
  * (SupportsPartitionManagement): SHOW PARTITIONS walks dirs, ADD
  * PARTITION is a mkdir, DROP/TRUNCATE PARTITION are whole-partition
  * retirement through the dynamic-overwrite scaffold — O(partition
  * files), manifests healed, untouched partitions byte-identical.
  */
class PartitionMgmtSpec extends AnyFunSuite {
  private val wh = "/tmp/graft-test/partmgmt-wh"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.pm", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.pm.warehouse", wh)
      .getOrCreate()
  }

  private def mkTable(name: String): Unit = {
    spark.sql(s"CREATE TABLE pm.$name (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO pm.$name SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'd1' WHEN id % 3 = 1 THEN 'd2' ELSE 'd3' END " +
      "FROM range(300)")
  }

  test("SHOW PARTITIONS lists the hive layout") {
    mkTable("t1")
    val parts = spark.sql("SHOW PARTITIONS pm.t1").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("day=d1", "day=d2", "day=d3"), parts)
    val one = spark.sql("SHOW PARTITIONS pm.t1 PARTITION (day='d2')")
      .collect().map(_.getString(0)).toSeq
    assert(one == Seq("day=d2"), one)
  }

  test("ALTER TABLE DROP PARTITION retires exactly that partition") {
    mkTable("t2")
    val untouched = GraftUtil.listDataFiles(s"$wh/t2",
      spark.sessionState.newHadoopConf())
      .filter(!_.getPath.toString.contains("day=d1"))
      .map(f => (f.getPath.toString, f.getLen)).toSet
    spark.sql("ALTER TABLE pm.t2 DROP PARTITION (day='d1')")
    val after = GraftUtil.listDataFiles(s"$wh/t2",
      spark.sessionState.newHadoopConf())
      .map(f => (f.getPath.toString, f.getLen)).toSet
    assert(after == untouched, "other partitions must stay byte-identical")
    assert(spark.sql("SELECT count(*) FROM pm.t2 WHERE day = 'd1'")
      .head.getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM pm.t2").head.getLong(0) == 200)
    val parts = spark.sql("SHOW PARTITIONS pm.t2").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("day=d2", "day=d3"), parts)
  }

  test("ADD PARTITION creates an empty partition dir that lists") {
    mkTable("t3")
    spark.sql("ALTER TABLE pm.t3 ADD PARTITION (day='d9')")
    val parts = spark.sql("SHOW PARTITIONS pm.t3").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts.contains("day=d9"), parts)
    assert(spark.sql("SELECT count(*) FROM pm.t3").head.getLong(0) == 300,
      "an empty partition adds no rows")
    intercept[Exception] {
      spark.sql("ALTER TABLE pm.t3 ADD PARTITION (day='d9')")
    }
  }

  test("TRUNCATE TABLE PARTITION empties the slice, keeps the dir") {
    mkTable("t4")
    spark.sql("TRUNCATE TABLE pm.t4 PARTITION (day='d3')")
    assert(spark.sql("SELECT count(*) FROM pm.t4").head.getLong(0) == 200)
    val parts = spark.sql("SHOW PARTITIONS pm.t4").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("day=d1", "day=d2", "day=d3"),
      s"truncated partition keeps its dir: $parts")
  }

  test("compactPartition compacts one partition, others byte-identical") {
    spark.sql("CREATE TABLE pm.t6 (id BIGINT, day STRING) PARTITIONED BY (day)")
    // fragment each partition into many small files
    (0 until 5).foreach { i =>
      spark.sql(s"INSERT INTO pm.t6 SELECT id + ${i * 1000}, " +
        "CASE WHEN id % 2 = 0 THEN 'd1' ELSE 'd2' END FROM range(100)")
    }
    val dir = s"$wh/t6"
    val conf = spark.sessionState.newHadoopConf()
    def filesIn(p: String): Set[(String, Long)] =
      GraftUtil.listDataFiles(dir, conf)
        .filter(_.getPath.toString.contains(s"day=$p"))
        .map(f => (f.getPath.toString, f.getLen)).toSet
    val d2Before = filesIn("d2")
    val sumBefore = spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM pm.t6")
      .head.getLong(0)
    val d1Before = filesIn("d1").size
    assert(d1Before > 1, s"staging must fragment d1, got $d1Before files")
    val stats = spark.sql(
      s"SELECT * FROM graft_compact_partition('$dir', 'day=d1', 1)")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("files_before") == d1Before && stats("files_after") == 1, stats)
    assert(filesIn("d1").size == 1)
    assert(filesIn("d2") == d2Before, "the other partition must not move")
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM pm.t6")
      .head.getLong(0) == sumBefore, "content preserved bit-for-bit")
  }

  test("compactPartition folds deletion vectors for that partition") {
    spark.sql("CREATE TABLE pm.t8 (id BIGINT, day STRING) PARTITIONED BY (day)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO pm.t8 SELECT id + ${i * 1000}, " +
        "CASE WHEN id % 2 = 0 THEN 'd1' ELSE 'd2' END FROM range(100)")
    }
    val dir = s"$wh/t8"
    GraftMaintenance.deleteWhereDv(spark,
      dir, col("id") % 10 === 2, takedown = false)
    val before = spark.sql("SELECT count(*) FROM pm.t8").head.getLong(0)
    spark.sql(s"SELECT * FROM graft_compact_partition('$dir', 'day=d1', 1)")
      .collect()
    assert(spark.sql("SELECT count(*) FROM pm.t8").head.getLong(0) == before,
      "masked rows stay masked: the rewrite read through the scan")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val survivingDvIdents = GraftDv.list(fs, new org.apache.hadoop.fs.Path(dir))
    assert(survivingDvIdents.keys.forall(_.contains("day=d2")),
      s"d1's sidecars must fold away with its files: ${survivingDvIdents.keys}")
  }

  test("partition values round-trip the write path's escaping (a/b, null)") {
    spark.sql("CREATE TABLE pm.t9 (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO pm.t9 VALUES (1, 'a/b'), (2, 'x'), (3, NULL)")
    val fs = new org.apache.hadoop.fs.Path(s"$wh/t9").getFileSystem(
      spark.sessionState.newHadoopConf())
    // the writer escaped the separator and rendered null as the hive token
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wh/t9/day=a%2Fb")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$wh/t9/day=__HIVE_DEFAULT_PARTITION__")))
    // SHOW PARTITIONS must neither crash on the null token nor leak the
    // escaped rendering as a LOGICAL value
    val parts = spark.sql("SHOW PARTITIONS pm.t9").collect()
      .map(_.getString(0)).toSet
    assert(parts.size == 3, parts.mkString(", "))
    // DROP by the LOGICAL value resolves to the escaped directory
    spark.sql("ALTER TABLE pm.t9 DROP PARTITION (day = 'a/b')")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/t9/day=a%2Fb")))
    assert(spark.sql("SELECT count(*) FROM pm.t9").head.getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM pm.t9 WHERE day IS NULL")
      .head.getLong(0) == 1, "the null partition survives unrelated drops")
  }

  test("dropPartition sweeps staging junk but never a fresh live file") {
    spark.sql("CREATE TABLE pm.t10 (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO pm.t10 VALUES (1, 'd1'), (2, 'd2')")
    val d1 = new org.apache.hadoop.fs.Path(s"$wh/t10/day=d1")
    val fs = d1.getFileSystem(spark.sessionState.newHadoopConf())
    val junk = new org.apache.hadoop.fs.Path(d1, ".crashed.graft.a1.tmp")
    val out = fs.create(junk, true); out.write(7); out.close()
    spark.sql("ALTER TABLE pm.t10 DROP PARTITION (day='d1')")
    assert(!fs.exists(d1), "junk-only leftovers must not strand the dir")
    assert(spark.sql("SELECT count(*) FROM pm.t10").head.getLong(0) == 1)
  }

  test("a stream over the table never redelivers after a partition drop") {
    mkTable("t5")
    val dir = s"$wh/t5"
    // incremental `since` window cut before the drop: the drop retires
    // files and heals manifests — the window must not resurrect them
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val t0 = GraftManifest.list(fs, new org.apache.hadoop.fs.Path(dir))
      .filterNot(GraftManifest.isCatchup).map(GraftManifest.nameT).max
    Thread.sleep(3)
    spark.sql("ALTER TABLE pm.t5 DROP PARTITION (day='d2')")
    val windowRows = spark.read.format("graft")
      .option("since", t0).load(dir).count()
    assert(windowRows == 0,
      s"a drop adds no commits — the since window must be empty, got $windowRows")
  }
}
