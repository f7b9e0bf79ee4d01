package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hidden-partitioning transforms (`PARTITIONED BY (days(ts))`,
  * `bucket(n,col)`, `truncate(w,col)`, months/years/hours): the table
  * schema keeps the source column, the directory layout carries the
  * derived value, and the scan compiles source-column predicates into
  * derived-dir pruning — no hand-materialized date column, no
  * remember-to-filter-on-it. The writer and pruner share ONE derivation
  * (GraftPartTransform.deriveLogical), asserted here by layout checks +
  * filesPruned metrics on source-column predicates.
  */
class PartitionTransformSpec extends AnyFunSuite {
  private val wh = "/tmp/graft-test/parttx-wh"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.tx", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.tx.warehouse", wh)
      .getOrCreate()
  }

  private def conf = spark.sessionState.newHadoopConf()
  private def dirsOf(table: String): Seq[String] =
    GraftUtil.listDataFiles(s"$wh/$table", conf)
      .flatMap(f => GraftUtil.partitionSegments(
        new org.apache.hadoop.fs.Path(s"$wh/$table"), f.getPath)
        .map(s => s"${s._1}=${s._2}"))
      .distinct.sorted

  private def prunedBy(sql: String): Long = {
    GraftMetrics.filesPruned.set(0)
    spark.sql(sql).collect()
    GraftMetrics.filesPruned.get()
  }

  test("days(ts) lays out derived dirs and prunes on ts predicates") {
    spark.sql("CREATE TABLE tx.ev (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.ev SELECT id, " +
      "timestamp'2026-01-01 06:30:00' + make_dt_interval(CAST(id % 5 AS INT), 0, 0, 0) " +
      "FROM range(100)")
    assert(dirsOf("ev") == (1 to 5).map(d => f"ts_day=2026-01-$d%02d"),
      dirsOf("ev"))
    // equality on the SOURCE column prunes to one derived dir
    assert(spark.sql("SELECT count(*) FROM tx.ev " +
      "WHERE ts = timestamp'2026-01-03 06:30:00'").head.getLong(0) == 20)
    assert(prunedBy("SELECT * FROM tx.ev " +
      "WHERE ts = timestamp'2026-01-03 06:30:00'") > 0,
      "equality must prune derived day dirs")
    // RANGE on the source column prunes (monotonic derivation)
    assert(spark.sql("SELECT count(*) FROM tx.ev " +
      "WHERE ts >= timestamp'2026-01-04 00:00:00'").head.getLong(0) == 40)
    assert(prunedBy("SELECT * FROM tx.ev " +
      "WHERE ts >= timestamp'2026-01-04 00:00:00'") > 0,
      "range must prune derived day dirs")
    // SHOW PARTITIONS surfaces the derived layout
    val parts = spark.sql("SHOW PARTITIONS tx.ev").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == (1 to 5).map(d => f"ts_day=2026-01-$d%02d"), parts)
  }

  test("null source values land in the default dir and IS NULL prunes exactly") {
    spark.sql("CREATE TABLE tx.evn (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.evn VALUES " +
      "(1, timestamp'2026-02-01 00:00:00'), (2, NULL), (3, NULL)")
    assert(dirsOf("evn").contains("ts_day=null"), dirsOf("evn"))
    assert(spark.sql("SELECT count(*) FROM tx.evn WHERE ts IS NULL")
      .head.getLong(0) == 2)
    assert(prunedBy("SELECT * FROM tx.evn WHERE ts IS NULL") > 0)
    assert(spark.sql("SELECT count(*) FROM tx.evn WHERE ts IS NOT NULL")
      .head.getLong(0) == 1)
    assert(prunedBy("SELECT * FROM tx.evn WHERE ts IS NOT NULL") > 0)
  }

  test("months(ts) prunes a month-range predicate before any footer IO") {
    spark.sql("CREATE TABLE tx.evm (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts))")
    spark.sql("INSERT INTO tx.evm SELECT id, " +
      "timestamp'2026-01-15 12:00:00' + make_dt_interval(CAST(id % 4 AS INT) * 31, 0, 0, 0) " +
      "FROM range(80)")
    assert(dirsOf("evm") == Seq("ts_month=2026-01", "ts_month=2026-02",
      "ts_month=2026-03", "ts_month=2026-04"), dirsOf("evm"))
    assert(spark.sql("SELECT count(*) FROM tx.evm " +
      "WHERE ts >= timestamp'2026-03-01 00:00:00' " +
      "AND ts < timestamp'2026-05-01 00:00:00'").head.getLong(0) == 40)
    assert(prunedBy("SELECT * FROM tx.evm " +
      "WHERE ts >= timestamp'2026-03-01 00:00:00' " +
      "AND ts < timestamp'2026-05-01 00:00:00'") > 0)
  }

  test("bucket(8,id) buckets with pmod(hash(id),8) semantics and prunes equality") {
    spark.sql("CREATE TABLE tx.evb (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(8, id))")
    spark.sql("INSERT INTO tx.evb SELECT id, CONCAT('v', id) FROM range(64)")
    // the layout must agree with SQL's own pmod(hash(id), 8)
    val expect = spark.sql(
      "SELECT DISTINCT CONCAT('id_bucket=', pmod(hash(id), 8)) FROM range(64)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dirsOf("evb") == expect, dirsOf("evb"))
    assert(spark.sql("SELECT v FROM tx.evb WHERE id = 17").head.getString(0) == "v17")
    assert(prunedBy("SELECT * FROM tx.evb WHERE id = 17") > 0,
      "bucket equality must prune other buckets")
    assert(spark.sql("SELECT count(*) FROM tx.evb WHERE id IN (3, 9)")
      .head.getLong(0) == 2)
  }

  test("truncate(4,s) prefixes strings and prunes equality and ranges") {
    spark.sql("CREATE TABLE tx.evt (id BIGINT, s STRING) " +
      "PARTITIONED BY (truncate(4, s))")
    spark.sql("INSERT INTO tx.evt SELECT id, " +
      "CONCAT(CASE WHEN id % 2 = 0 THEN 'aaaa' ELSE 'bbbb' END, id) FROM range(40)")
    assert(dirsOf("evt") == Seq("s_trunc=aaaa", "s_trunc=bbbb"), dirsOf("evt"))
    assert(spark.sql("SELECT count(*) FROM tx.evt WHERE s = 'aaaa0'")
      .head.getLong(0) == 1)
    assert(prunedBy("SELECT * FROM tx.evt WHERE s = 'aaaa0'") > 0)
    assert(spark.sql("SELECT count(*) FROM tx.evt WHERE s > 'b'")
      .head.getLong(0) == 20)
    assert(prunedBy("SELECT * FROM tx.evt WHERE s > 'b'") > 0,
      "string-prefix truncation is monotonic: ranges prune")
  }

  test("startsWith prunes identity and truncate dirs") {
    spark.sql("CREATE TABLE tx.evsw (id BIGINT, s STRING) " +
      "PARTITIONED BY (truncate(4, s))")
    spark.sql("INSERT INTO tx.evsw SELECT id, " +
      "CONCAT(CASE WHEN id % 2 = 0 THEN 'alpha' ELSE 'bravo' END, id) FROM range(40)")
    // long prefix (>= width): exactly one dir survives
    // even ids whose decimal rendering starts with '1': 10,12,14,16,18
    assert(spark.sql("SELECT count(*) FROM tx.evsw WHERE s LIKE 'alpha1%'")
      .head.getLong(0) == 5)
    assert(prunedBy("SELECT * FROM tx.evsw WHERE s LIKE 'alpha1%'") > 0,
      "a long prefix must prune other truncate dirs")
    // short prefix (< width): still prunes the non-matching dir
    assert(prunedBy("SELECT * FROM tx.evsw WHERE s LIKE 'br%'") > 0)
    assert(spark.sql("SELECT count(*) FROM tx.evsw WHERE s LIKE 'br%'")
      .head.getLong(0) == 20)
  }

  test("string-truncate dirs prune under LEXICOGRAPHIC order, never numeric") {
    // dir values that happen to parse as numbers must still compare as
    // strings: '9' > '11' lexicographically. A numeric compare would
    // prune the dir holding matching rows (review finding, round 17).
    spark.sql("CREATE TABLE tx.evlex (id BIGINT, s STRING) " +
      "PARTITIONED BY (truncate(2, s))")
    spark.sql("INSERT INTO tx.evlex VALUES (1, '9'), (2, '123'), (3, '105')")
    // dirs: s_trunc=9, s_trunc=12, s_trunc=10
    assert(spark.sql("SELECT count(*) FROM tx.evlex WHERE s > '11'")
      .head.getLong(0) == 2, "rows '9' and '123' are > '11' as strings")
    assert(spark.sql("SELECT count(*) FROM tx.evlex WHERE s < '2'")
      .head.getLong(0) == 2, "'123' and '105' are < '2' as strings")
  }

  test("path writes inherit and restate the declared transform layout") {
    val p = s"$wh/.pathlayout"
    spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft").option("partitionby", "bucket(4,k)")
      .mode("overwrite").save(p)
    // a conflicting later layout must fail loudly — it would poison
    // derived-dir pruning (reads derive literals through the sidecar)
    val e = intercept[Exception] {
      spark.range(20, 30).selectExpr("id AS k", "id * 2 AS v")
        .write.format("graft").option("partitionby", "bucket(8,k)")
        .mode("append").save(p)
    }
    assert(e.getMessage.contains("declared layout"), e.getMessage)
    // an append WITHOUT the option inherits the declared layout
    spark.range(20, 30).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft").mode("append").save(p)
    val fs2 = GraftUtil.listDataFiles(p, conf)
    assert(fs2.forall(_.getPath.getParent.getName.startsWith("k_bucket=")),
      "inherited layout must route the append into derived dirs")
    assert(spark.read.format("graft").load(p).count() == 30)
    // equality pruning stays sound across both generations
    assert(spark.read.format("graft").load(p)
      .filter("k = 25").count() == 1)
  }

  test("ALTER cannot add or rename a column onto a derived dir name") {
    spark.sql("CREATE TABLE tx.evcol (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE tx.evcol ADD COLUMN ts_day STRING") }
    assert(e1.getMessage.contains("derived partition directory"), e1.getMessage)
    spark.sql("ALTER TABLE tx.evcol ADD COLUMN note STRING")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE tx.evcol RENAME COLUMN note TO ts_day") }
    assert(e2.getMessage.contains("derived partition directory"), e2.getMessage)
  }

  test("multi-dimension days(ts) + bucket(4,id) nests and prunes conjunctions") {
    spark.sql("CREATE TABLE tx.evdb (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts), bucket(4, id))")
    spark.sql("INSERT INTO tx.evdb SELECT id, " +
      "timestamp'2026-03-01 12:00:00' + make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0) " +
      "FROM range(60)")
    val ds = dirsOf("evdb")
    assert(ds.forall(_.startsWith("ts_day=")) || ds.exists(_.startsWith("id_bucket=")),
      ds)
    assert(spark.sql("SELECT count(*) FROM tx.evdb " +
      "WHERE ts >= timestamp'2026-03-03 00:00:00' AND id = 5").head.getLong(0) == 1)
    assert(prunedBy("SELECT * FROM tx.evdb " +
      "WHERE ts >= timestamp'2026-03-03 00:00:00' AND id = 5") > 0)
  }

  test("DELETE and dynamic overwrite keep the derived layout") {
    spark.sql("CREATE TABLE tx.evd (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.evd SELECT id, " +
      "timestamp'2026-04-01 01:00:00' + make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0) " +
      "FROM range(30)")
    // copy-on-write DELETE must re-land survivors under their derived dirs
    spark.sql("DELETE FROM tx.evd WHERE id < 15")
    assert(spark.sql("SELECT count(*) FROM tx.evd").head.getLong(0) == 15)
    assert(dirsOf("evd").forall(_.startsWith("ts_day=2026-04-0")), dirsOf("evd"))
    // dynamic overwrite replaces exactly the derived days it writes
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE tx.evd SELECT id + 1000, " +
        "timestamp'2026-04-02 09:00:00' FROM range(5)")
      assert(spark.sql("SELECT count(*) FROM tx.evd " +
        "WHERE ts >= timestamp'2026-04-02 00:00:00' " +
        "AND ts < timestamp'2026-04-03 00:00:00'").head.getLong(0) == 5,
        "the touched day must hold only the overwrite's rows")
      assert(spark.sql("SELECT count(*) FROM tx.evd " +
        "WHERE ts < timestamp'2026-04-02 00:00:00'").head.getLong(0) == 5,
        "untouched days survive")
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("DROP PARTITION by derived value retires exactly that day") {
    spark.sql("CREATE TABLE tx.evp (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.evp SELECT id, " +
      "timestamp'2026-05-01 00:30:00' + make_dt_interval(CAST(id % 2 AS INT), 0, 0, 0) " +
      "FROM range(20)")
    spark.sql("ALTER TABLE tx.evp DROP PARTITION (ts_day='2026-05-01')")
    assert(spark.sql("SELECT count(*) FROM tx.evp").head.getLong(0) == 10)
    assert(dirsOf("evp") == Seq("ts_day=2026-05-02"), dirsOf("evp"))
  }

  test("path-based transform writes record the layout and prune on read") {
    val p = s"$wh/.pathtx"
    spark.range(0, 50).selectExpr("id",
      "timestamp'2026-06-01 03:00:00' + make_dt_interval(CAST(id % 5 AS INT), 0, 0, 0) AS ts")
      .write.format("graft").option("partitionby", "days(ts)")
      .mode("overwrite").save(p)
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p, "_graft_table.json")),
      "a path-based transform write must self-describe its layout")
    val df = spark.read.format("graft").load(p)
    assert(df.filter("ts >= timestamp'2026-06-04 00:00:00'").count() == 20)
    GraftMetrics.filesPruned.set(0)
    df.filter("ts >= timestamp'2026-06-04 00:00:00'").collect()
    assert(GraftMetrics.filesPruned.get() > 0, "path reads prune too")
  }

  test("the transform source column is immovable and unsupported specs reject") {
    spark.sql("CREATE TABLE tx.evg (id BIGINT, ts TIMESTAMP, x STRING) " +
      "PARTITIONED BY (days(ts))")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE tx.evg DROP COLUMN ts") }
    assert(e1.getMessage.contains("partition"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE tx.bad (id BIGINT, s STRING) " +
        "PARTITIONED BY (days(s))") }
    assert(e2.getMessage.contains("timestamp"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE tx.bad2 (id BIGINT, ts TIMESTAMP, ts_day STRING) " +
        "PARTITIONED BY (days(ts))") }
    assert(e3.getMessage.contains("collides"), e3.getMessage)
  }

  test("hours(ts) derives zero-padded hour dirs") {
    spark.sql("CREATE TABLE tx.evh (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    spark.sql("INSERT INTO tx.evh VALUES " +
      "(1, timestamp'2026-07-01 04:15:00'), (2, timestamp'2026-07-01 13:45:00')")
    assert(dirsOf("evh") == Seq("ts_hour=2026-07-01-04", "ts_hour=2026-07-01-13"),
      dirsOf("evh"))
    assert(spark.sql("SELECT count(*) FROM tx.evh " +
      "WHERE ts >= timestamp'2026-07-01 13:00:00'").head.getLong(0) == 1)
    assert(prunedBy("SELECT * FROM tx.evh " +
      "WHERE ts >= timestamp'2026-07-01 13:00:00'") > 0)
  }

  test("CTAS with PARTITIONED BY (days(ts)) stages and swaps the derived layout") {
    spark.sql("CREATE TABLE tx.evcta PARTITIONED BY (days(ts)) AS " +
      "SELECT id, timestamp'2026-09-01 08:00:00' + " +
      "make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0) AS ts FROM range(30)")
    assert(dirsOf("evcta") == Seq("ts_day=2026-09-01", "ts_day=2026-09-02",
      "ts_day=2026-09-03"), dirsOf("evcta"))
    assert(spark.sql("SELECT count(*) FROM tx.evcta " +
      "WHERE ts < timestamp'2026-09-02 00:00:00'").head.getLong(0) == 10)
    // REPLACE keeps working over a transformed layout
    spark.sql("CREATE OR REPLACE TABLE tx.evcta PARTITIONED BY (months(ts)) AS " +
      "SELECT id, timestamp'2026-10-15 00:00:00' AS ts FROM range(5)")
    assert(dirsOf("evcta") == Seq("ts_month=2026-10"), dirsOf("evcta"))
    assert(spark.sql("SELECT count(*) FROM tx.evcta").head.getLong(0) == 5)
  }

  test("SHOW CREATE TABLE round-trips the transform layout") {
    spark.sql("CREATE TABLE tx.evsc (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts), bucket(4, id))")
    val ddl = spark.sql("SHOW CREATE TABLE tx.evsc").head.getString(0)
    assert(ddl.contains("days(ts)") && ddl.contains("bucket(4, id)"), ddl)
  }

  test("a streaming write lands rows under the derived layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE TABLE tx.evst (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("id", "ts")
      .writeStream
      .option("checkpointLocation",
        s"/tmp/graft-test/parttx-ckpt-${System.nanoTime()}")
      .toTable("tx.evst")
    try {
      mem.addData((1L, java.sql.Timestamp.valueOf("2026-11-01 10:00:00")),
        (2L, java.sql.Timestamp.valueOf("2026-11-02 11:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    assert(dirsOf("evst") == Seq("ts_day=2026-11-01", "ts_day=2026-11-02"),
      dirsOf("evst"))
    assert(spark.sql("SELECT count(*) FROM tx.evst " +
      "WHERE ts >= timestamp'2026-11-02 00:00:00'").head.getLong(0) == 1)
  }

  test("distributeby=partition collapses to one file per derived partition") {
    // without the distribution, a 4-task unsorted write puts every day's
    // rows in every task: tasks x days files. Clustered on the derived
    // day, each day lands whole on one task.
    spark.conf.set("graft.write.distributeby", "partition")
    try {
      spark.sql("CREATE TABLE tx.evdist (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
      spark.sql("INSERT INTO tx.evdist SELECT id, " +
        "timestamp'2026-12-01 01:00:00' + make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0) " +
        "FROM range(3000)")
      val files = GraftUtil.listDataFiles(s"$wh/evdist", conf)
      val perDir = files.groupBy(_.getPath.getParent.getName)
      assert(perDir.size == 3, perDir.keys.toSeq.sorted)
      assert(perDir.values.forall(_.size == 1),
        s"expected ONE file per derived day, got " +
          perDir.view.mapValues(_.size).toMap)
      assert(spark.sql("SELECT count(*) FROM tx.evdist").head.getLong(0) == 3000)
    } finally spark.conf.unset("graft.write.distributeby")
    // control: the same insert WITHOUT the distribution fans out
    spark.sql("CREATE TABLE tx.evdist2 (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.evdist2 SELECT id, " +
      "timestamp'2026-12-01 01:00:00' + make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0) " +
      "FROM range(3000)")
    val files2 = GraftUtil.listDataFiles(s"$wh/evdist2", conf)
    assert(files2.groupBy(_.getPath.getParent.getName).values.exists(_.size > 1),
      "control write should fan out without the clustering")
  }

  test("distributeby=partition composes with sortby: one per-day file, sorted") {
    // transform distribution resolves through the table's FunctionCatalog
    // — catalog tables only (a path write would fail resolution); the
    // declared graft.sortby rides along, giving the "distribute by day,
    // sort by user" ingest shape in pure SQL
    spark.conf.set("graft.write.distributeby", "partition")
    try {
      spark.sql("CREATE TABLE tx.evds (id BIGINT, ts TIMESTAMP, u BIGINT) " +
        "PARTITIONED BY (days(ts)) TBLPROPERTIES ('graft.sortby'='u')")
      spark.sql("INSERT INTO tx.evds SELECT id, " +
        "timestamp'2027-01-01 01:00:00' + make_dt_interval(CAST(id % 3 AS INT), 0, 0, 0), " +
        "CAST(hash(id) AS BIGINT) FROM range(3000)")
    } finally spark.conf.unset("graft.write.distributeby")
    val files = GraftUtil.listDataFiles(s"$wh/evds", conf)
    val perDir = files.groupBy(_.getPath.getParent.getName)
    assert(perDir.size == 3 && perDir.values.forall(_.size == 1),
      perDir.view.mapValues(_.size).toMap)
    // each file internally sorted on u
    files.foreach { f =>
      val us = spark.read.format("graft").load(f.getPath.toString)
        .select("u").collect().map(_.getLong(0)).toSeq
      assert(us == us.sorted, s"${f.getPath.getName} not sorted on u")
    }
    assert(spark.sql("SELECT count(*) FROM tx.evds").head.getLong(0) == 3000)
  }

  test("graft_compact_partition compacts one derived day") {
    spark.sql("CREATE TABLE tx.evc (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO tx.evc SELECT id + ${i * 100}, " +
        "timestamp'2026-08-01 10:00:00' + make_dt_interval(CAST(id % 2 AS INT), 0, 0, 0) " +
        "FROM range(10)")
    }
    val before = GraftUtil.listDataFiles(s"$wh/evc", conf)
      .filter(_.getPath.toString.contains("ts_day=2026-08-01"))
    assert(before.size >= 3)
    val stats = GraftMaintenance.compactPartition(spark, s"$wh/evc",
      Map("ts_day" -> "2026-08-01"), targetFiles = 1)
    val after = GraftUtil.listDataFiles(s"$wh/evc", conf)
      .filter(_.getPath.toString.contains("ts_day=2026-08-01"))
    assert(after.size == 1, s"expected 1 file, got ${after.size}")
    assert(spark.sql("SELECT count(*) FROM tx.evc").head.getLong(0) == 30)
    assert(stats.filesBefore >= 3)
  }

  test("string-truncate dirs prune in UTF-8 BINARY order, not UTF-16") {
    // Spark compares strings by UTF-8 bytes; Java String.compareTo by
    // UTF-16 code units. A supplementary-plane char (U+1F600, UTF-16
    // surrogates D83D DE00) sorts BELOW a BMP private-use char (U+E000)
    // in UTF-16 but ABOVE it in UTF-8 bytes (F0 9F... > EE 80 80). A
    // UTF-16 dir compare would prune the dir holding matching rows.
    spark.sql("CREATE TABLE tx.evutf (id BIGINT, s STRING) " +
      "PARTITIONED BY (truncate(1, s))")
    spark.sql("INSERT INTO tx.evutf VALUES (1, '😀x'), (2, 'a')")
    assert(spark.sql("SELECT count(*) FROM tx.evutf WHERE s > ''")
      .head.getLong(0) == 1, "the emoji row is > U+E000 in binary order")
    assert(spark.sql("SELECT count(*) FROM tx.evutf WHERE s < ''")
      .head.getLong(0) == 1, "'a' stays below U+E000 in both orders")
  }

  test("bucket(0) and truncate(0) fail at plan time, not per-task") {
    Seq("bucket(0,id)", "truncate(0,s)").foreach { spec =>
      val e = intercept[Exception] {
        spark.range(0, 5).selectExpr("id", "CAST(id AS STRING) AS s")
          .write.format("graft").option("partitionby", spec)
          .mode("overwrite").save(s"$wh/.zeroarg")
      }
      assert(e.getMessage.contains("must be positive"),
        s"$spec: ${e.getMessage}")
    }
  }

  test("partitionby restates the declared layout case-insensitively") {
    spark.sql("CREATE TABLE tx.evcase (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO tx.evcase VALUES (1, timestamp'2026-08-01 10:00:00')")
    // days(TS) names the same column as the declared days(ts) — column
    // resolution is case-insensitive everywhere else, so restating in a
    // different case must be accepted, not rejected as a conflict
    spark.range(2, 4).selectExpr("id",
        "timestamp'2026-08-02 10:00:00' AS TS")
      .write.format("graft").option("partitionby", "days(TS)")
      .mode("append").saveAsTable("tx.evcase")
    assert(spark.sql("SELECT count(*) FROM tx.evcase").head.getLong(0) == 3)
    assert(dirsOf("evcase").forall(_.startsWith("ts_day=")))
  }

  test("distributeby=partition on a PATH write: identity ok, transform errors specifically") {
    // Spark resolves transform-distribution expressions through the
    // relation's FunctionCatalog; a path relation has none, and Spark's
    // own failure is a generic mid-analysis error. The builder must fail
    // with the actual fix (use a catalog table / pre-cluster manually).
    val p = s"$wh/.pathdist"
    // identity layouts resolve everywhere: stays allowed
    spark.range(0, 100).selectExpr("id % 4 AS k", "id AS v")
      .write.format("graft").option("partitionby", "k")
      .option("distributeby", "partition").mode("overwrite").save(p)
    assert(spark.read.format("graft").load(p).count() == 100)
    val e = intercept[Exception] {
      spark.range(0, 100)
        .selectExpr("id AS v", "timestamp'2026-08-01 10:00:00' AS ts")
        .write.format("graft").option("partitionby", "days(ts)")
        .option("distributeby", "partition").mode("overwrite")
        .save(s"$wh/.pathdist2")
    }
    assert(e.getMessage.contains("requires a CATALOG table"), e.getMessage)
  }

  test("a lost first-writer race with a DIFFERENT layout fails loudly") {
    // Two concurrent FIRST writers to one path: the restate check runs
    // against an empty sidecar for both, one wins create(overwrite=false),
    // and the loser must re-read the winner's specs and refuse a
    // conflicting layout (it would mix two directory schemes). Exercised
    // via the arbitration helper, which is exactly the lost-race path.
    val dir = new org.apache.hadoop.fs.Path(s"$wh/.sidecar-race")
    val fs = dir.getFileSystem(conf)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    GraftWriteBuilder.publishPathSidecar(fs, dir, schema, Seq("bucket(4,k)"))
    // same layout restated: benign
    GraftWriteBuilder.publishPathSidecar(fs, dir, schema, Seq("bucket(4,k)"))
    // different layout: must fail, not proceed with mixed dirs
    val e = intercept[IllegalArgumentException] {
      GraftWriteBuilder.publishPathSidecar(fs, dir, schema, Seq("bucket(8,k)"))
    }
    assert(e.getMessage.contains("concurrent first write"), e.getMessage)
  }
}
