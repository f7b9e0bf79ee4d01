package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** graft_analyze: the DDL (TBLPROPERTIES graft.bloomfilter/graft.ndvsketch)
  * reaches only FUTURE writes — files are immutable — so this CALL
  * materializes the declaration onto the files that predate it. The spec
  * pins the O(missing-files) contract: only stat-less files rewrite,
  * re-running is a footer-only no-op, content survives byte-exactly, and
  * SHOW CREATE TABLE round-trips the declaration.
  */
class AnalyzeBackfillSpec extends AnyFunSuite {
  private val wh = "/tmp/graft-test/analyze-wh"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.anz", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.anz.warehouse", wh)
      .getOrCreate()
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def footerOf(f: org.apache.hadoop.fs.FileStatus): graft.format.Footer = {
    val fs = f.getPath.getFileSystem(conf)
    val in = new HadoopSeekableInput(fs, f.getPath, f.getLen)
    try graft.format.GraftFileReader.readFooter(in) finally in.close()
  }

  private def statsCoverage(dir: String): (Int, Int, Int) = {
    val files = GraftUtil.listDataFiles(dir, conf)
    val withBloom = files.count { f =>
      val ft = footerOf(f)
      val schema = org.apache.spark.sql.types.DataType.fromJson(ft.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      GraftSchema.leafIndexOfPath(schema, "lang")
        .exists(li => ft.leaves(li).pages.exists(_.bloom != null))
    }
    val withNdv = files.count { f =>
      val ft = footerOf(f)
      val schema = org.apache.spark.sql.types.DataType.fromJson(ft.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      GraftSchema.leafIndexOfPath(schema, "doc_id")
        .exists(li => ft.leaves(li).kmv != null)
    }
    (files.size, withBloom, withNdv)
  }

  test("graft_analyze backfills declared blooms+ndv onto pre-declaration files only") {
    val t = "anz.db.backfill"
    val dir = s"$wh/db/backfill"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, n BIGINT)")
    // two pre-declaration commits -> 2+ stat-less files
    spark.range(0, 400).selectExpr("id AS doc_id", "concat('l', id % 5) AS lang", "id AS n")
      .coalesce(1).writeTo(t).append()
    spark.range(400, 800).selectExpr("id AS doc_id", "concat('l', id % 5) AS lang", "id AS n")
      .coalesce(1).writeTo(t).append()
    val preFiles = GraftUtil.listDataFiles(dir, conf).size
    assert(preFiles >= 2)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      "'graft.bloomfilter'='lang', 'graft.ndvsketch'='doc_id')")
    // one post-declaration commit carries stats at write time
    spark.range(800, 1000).selectExpr("id AS doc_id", "concat('l', id % 5) AS lang", "id AS n")
      .coalesce(1).writeTo(t).append()
    val (n0, b0, k0) = statsCoverage(dir)
    assert(b0 == n0 - preFiles && k0 == n0 - preFiles,
      s"staging: only the post-DDL file should carry stats ($n0/$b0/$k0)")
    // ndv off footers must THROW while any file lacks the synopsis
    intercept[Exception] { GraftNdv.estimate(spark, dir, Seq("doc_id")) }
    val before = spark.table(t).orderBy("doc_id").collect().toSeq

    val st = spark.sql(s"SELECT * FROM graft_analyze('$dir')")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(st("files") == n0)
    assert(st("files_missing_stats") == preFiles,
      s"must rewrite exactly the pre-DDL files: $st")
    assert(st("files_rewritten") == preFiles)
    val (n1, b1, k1) = statsCoverage(dir)
    assert(b1 == n1 && k1 == n1, s"post-analyze coverage must be total ($n1/$b1/$k1)")
    // content identical; footer ndv now resolves for the whole table
    assert(spark.table(t).orderBy("doc_id").collect().toSeq == before)
    val ndv = GraftNdv.estimate(spark, dir, Seq("doc_id"))
    assert(ndv.head.estimate > 900 && ndv.head.estimate < 1100,
      s"doc_id ndv ~1000, got ${ndv.head.estimate}")
    // convergence: a second run is a footer-only no-op
    val st2 = spark.sql(s"SELECT * FROM graft_analyze('$dir')")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(st2("files_missing_stats") == 0 && st2("files_rewritten") == 0,
      s"re-run must converge: $st2")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("graft_analyze refuses a table with no declared stats") {
    val t = "anz.db.nodecl"
    val dir = s"$wh/db/nodecl"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").writeTo(t).append()
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_analyze('$dir')").collect()
    }
    assert(e.getMessage.contains("declares no per-page stats"),
      s"actionable error expected, got: ${e.getMessage}")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("SHOW CREATE TABLE emits the stats TBLPROPERTIES and the DDL round-trips") {
    val t = "anz.db.sct"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING) TBLPROPERTIES (" +
      "'graft.bloomfilter'='lang', 'graft.ndvsketch'='doc_id')")
    val ddl = spark.sql(s"SHOW CREATE TABLE $t").collect()(0).getString(0)
    assert(ddl.contains("graft.bloomfilter") && ddl.contains("'lang'"), ddl)
    assert(ddl.contains("graft.ndvsketch") && ddl.contains("'doc_id'"), ddl)
    // executing the emitted DDL (renamed) recreates the declaration
    val t2 = "anz.db.sct2"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(ddl.replace("anz.db.sct", "anz.db.sct2"))
    val props = spark.sql(s"SHOW TBLPROPERTIES $t2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.bloomfilter").contains("lang"), props.toString)
    assert(props.get("graft.ndvsketch").contains("doc_id"), props.toString)
    // the round-tripped declaration is LIVE: an insert carries the stats
    spark.range(0, 50).selectExpr("id AS doc_id", "concat('l', id % 3) AS lang")
      .writeTo(t2).append()
    val ndv = GraftNdv.estimate(spark, s"$wh/db/sct2", Seq("doc_id"))
    assert(ndv.head.estimate > 40 && ndv.head.estimate < 60)
    val f = GraftUtil.listDataFiles(s"$wh/db/sct2", conf).head
    val ft = footerOf(f)
    val schema = org.apache.spark.sql.types.DataType.fromJson(ft.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(GraftSchema.leafIndexOfPath(schema, "lang")
      .exists(li => ft.leaves(li).pages.exists(_.bloom != null)))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
  }

  test("backfill respects hive partition layout and deletion vectors") {
    val t = "anz.db.partdv"
    val dir = s"$wh/db/partdv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, day STRING) PARTITIONED BY (day)")
    spark.range(0, 200).selectExpr("id AS doc_id", "concat('l', id % 5) AS lang",
      "CASE WHEN id % 2 = 0 THEN 'd1' ELSE 'd2' END AS day").writeTo(t).append()
    // a DV on a pre-declaration file: the identity rewrite must bake it in
    GraftMaintenance.deleteWhereDv(spark, dir, col("doc_id") % 10 === 3)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloomfilter'='lang')")
    val before = spark.table(t).orderBy("doc_id").collect().toSeq
    assert(before.size == 180)
    val st = spark.sql(s"SELECT * FROM graft_analyze('$dir')")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(st("files_rewritten") == st("files_missing_stats") &&
      st("files_rewritten") > 0, st.toString)
    // layout preserved, content identical (DV applied exactly once)
    val files = GraftUtil.listDataFiles(dir, conf)
    assert(files.forall(f => f.getPath.toString.contains("day=d1") ||
      f.getPath.toString.contains("day=d2")),
      "partition dirs must survive the backfill")
    assert(spark.table(t).orderBy("doc_id").collect().toSeq == before)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("analyze preserves commit history: since/asof windows survive the backfill") {
    val t = "anz.db.hist"
    val dir = s"$wh/db/hist"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING)")
    spark.range(0, 100).selectExpr("id AS doc_id", "concat('l', id % 3) AS lang")
      .coalesce(1).writeTo(t).append()
    Thread.sleep(20)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    spark.range(100, 150).selectExpr("id AS doc_id", "concat('l', id % 3) AS lang")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      "'graft.bloomfilter'='lang', 'graft.ndvsketch'='doc_id')")
    val st = GraftMaintenance.analyzeTable(spark, dir)
    assert(st.rewritten == 2, st.toString)
    // the backfill retired BOTH pre-declaration commits' files — exactly
    // like a delete, the heal must re-point their commit history at the
    // -anz outputs, or incremental readers and snapshots break:
    // an incremental (since) reader still sees exactly commit 2's rows ...
    assert(spark.read.format("graft").option("since", t1.toString)
      .load(dir).count() == 50,
      "the since window spanning commit 2 must survive the backfill")
    // ... a snapshot at t1 still reconstructs exactly commit 1 ...
    assert(spark.read.format("graft").option("asof", t1.toString)
      .load(dir).count() == 100,
      "the asof snapshot between the commits must survive the backfill")
    // ... and no commit manifest references a retired file (a fresh
    // manifest-mode stream replay fails loudly on missing files)
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val fs = tableDir.getFileSystem(conf)
    val live = GraftUtil.listDataFiles(dir, conf)
      .map(f => fs.makeQualified(f.getPath).toString).toSet
    GraftManifest.list(fs, tableDir).filterNot(GraftManifest.isCatchup)
      .foreach { m =>
        GraftManifest.read(fs, tableDir, m).foreach { case (rel, _) =>
          val q = fs.makeQualified(
            new org.apache.hadoop.fs.Path(tableDir, rel)).toString
          assert(live.contains(q),
            s"manifest $m references retired file $rel — analyze must heal " +
              "manifests exactly like the delete/update rewrites do")
        }
      }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
