package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Atomic CREATE/REPLACE TABLE AS SELECT through StagingTableCatalog.
  * The point under test is the failure shape: a REPLACE whose query dies
  * must leave the old table byte-identical (the non-staged fallback plans
  * drop-then-create — the old table would already be gone), and the
  * two-rename commit window must self-heal through the swap-intent
  * marker, never strand a vanished table.
  */
class ReplaceTableSpec extends AnyFunSuite {
  private val wh = "/tmp/graft-test/replace-wh"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.rep", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.rep.warehouse", wh)
      .getOrCreate()
    s
  }

  private def fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
    spark.sessionState.newHadoopConf())

  private def sum(table: String): Long =
    spark.sql(s"SELECT CAST(sum(k) AS BIGINT) FROM $table").head.getLong(0)

  test("CREATE OR REPLACE TABLE AS SELECT swaps content and schema atomically") {
    spark.sql("CREATE TABLE rep.t1 AS SELECT id AS k FROM range(10)")
    assert(sum("rep.t1") == 45)
    spark.sql("CREATE OR REPLACE TABLE rep.t1 AS " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(100, 105)")
    assert(spark.table("rep.t1").schema.fieldNames.toSeq == Seq("k", "s"),
      "replace must apply the NEW schema")
    assert(sum("rep.t1") == (100L until 105L).sum)
    // no staged/trash/intent leftovers
    val junk = fs.listStatus(new org.apache.hadoop.fs.Path(wh))
      .map(_.getPath.getName)
      .filter(n => n.contains(".staged-") || n.contains(".replaced-") ||
        n.endsWith(".swap"))
    assert(junk.isEmpty, junk.mkString(", "))
  }

  test("a failed REPLACE query leaves the old table untouched") {
    spark.sql("CREATE TABLE rep.t2 AS SELECT id AS k FROM range(20)")
    val before = GraftUtil.listDataFiles(s"$wh/t2",
      spark.sessionState.newHadoopConf())
      .map(f => (f.getPath.toString, f.getLen)).toSet
    intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE rep.t2 AS " +
        "SELECT assert_true(id < 5, 'boom') AS a, id AS k FROM range(10)")
    }
    val after = GraftUtil.listDataFiles(s"$wh/t2",
      spark.sessionState.newHadoopConf())
      .map(f => (f.getPath.toString, f.getLen)).toSet
    assert(after == before, "old generation must stay byte-identical")
    assert(sum("rep.t2") == (0L until 20L).sum)
    // abortStagedChanges deletes the staging dir, but a STRAGGLER write
    // task of the failed job can race it and re-create the dir with its
    // own leftovers (task teardown is asynchronous to the driver-side
    // abort) — that residue is invisible to the catalog and is exactly
    // what graft_vacuum_staged exists to sweep, so the assertion here is
    // catalog invisibility, not filesystem emptiness
    val names = spark.sql("SHOW TABLES IN rep").collect()
      .map(_.getString(1)).toSet
    assert(!names.exists(_.contains("staged")), names.mkString(", "))
  }

  test("REPLACE TABLE without AS SELECT leaves an empty table with the new schema") {
    spark.sql("CREATE TABLE rep.t3 AS SELECT id AS k FROM range(5)")
    spark.sql("REPLACE TABLE rep.t3 (a BIGINT, b STRING)")
    assert(spark.table("rep.t3").schema.fieldNames.toSeq == Seq("a", "b"))
    assert(spark.table("rep.t3").count() == 0)
  }

  test("a crashed swap heals forward on the next catalog resolution") {
    spark.sql("CREATE TABLE rep.t4 AS SELECT id AS k FROM range(10)")
    // fabricate the crash window: staged dir complete, intent published,
    // old dir already renamed to trash, promotion rename never ran
    val parent = new org.apache.hadoop.fs.Path(wh)
    val staged = new org.apache.hadoop.fs.Path(wh, ".t4.staged-deadbeef")
    val trash = new org.apache.hadoop.fs.Path(wh, ".t4.replaced-deadbeef")
    spark.range(500, 510).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(staged.toString)
    val intent = new org.apache.hadoop.fs.Path(parent, ".t4.swap")
    val out = fs.create(intent, true)
    out.write(s"${staged.getName}\n${trash.getName}".getBytes("UTF-8"))
    out.close()
    require(fs.rename(new org.apache.hadoop.fs.Path(wh, "t4"), trash))
    // the table dir is GONE; resolution must finish the swap, not error
    assert(sum("rep.t4") == (500L until 510L).sum,
      "heal must roll the staged generation forward")
    assert(!fs.exists(intent) && !fs.exists(trash) && !fs.exists(staged))
  }

  test("heal rolls BACK to trash when the staged dir was lost") {
    // the total-loss seam: intent published, old dir retired to trash,
    // promote never ran, and the staged dir was then deleted (an abort
    // by an older binary, or manual cleanup). The trash is the ONLY
    // surviving copy — heal must restore it, never delete it.
    spark.sql("CREATE TABLE rep.t8 AS SELECT id AS k FROM range(10)")
    val trash = new org.apache.hadoop.fs.Path(wh, ".t8.replaced-deadbeef")
    val intent = new org.apache.hadoop.fs.Path(wh, ".t8.swap")
    val out = fs.create(intent, true)
    out.write(s".t8.staged-deadbeef\n${trash.getName}".getBytes("UTF-8"))
    out.close()
    require(fs.rename(new org.apache.hadoop.fs.Path(wh, "t8"), trash))
    // staged dir intentionally absent; resolution must roll back
    assert(sum("rep.t8") == (0L until 10L).sum,
      "heal must restore the retired old generation from trash")
    assert(!fs.exists(intent) && !fs.exists(trash))
  }

  test("abortStagedChanges after the intent published heals, not deletes") {
    spark.sql("CREATE TABLE rep.t9 AS SELECT id AS k FROM range(10)")
    val cat = spark.sessionState.catalogManager.catalog("rep")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "t9")
    val staged = cat.stageReplace(ident,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      Array.empty, new java.util.HashMap[String, String]())
    // write one file into the staged dir through the path API
    val stagedDir = fs.listStatus(new org.apache.hadoop.fs.Path(wh))
      .map(_.getPath).find(_.getName.startsWith(".t9.staged-")).get
    spark.range(100, 105).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("append").save(stagedDir.toString)
    // fabricate the mid-commit crash: intent published, old dir retired,
    // promote rename never ran — then Spark calls abortStagedChanges
    val trash = new org.apache.hadoop.fs.Path(wh, ".t9.replaced-deadbeef")
    val intent = new org.apache.hadoop.fs.Path(wh, ".t9.swap")
    val out = fs.create(intent, true)
    out.write(s"${stagedDir.getName}\n${trash.getName}".getBytes("UTF-8"))
    out.close()
    require(fs.rename(new org.apache.hadoop.fs.Path(wh, "t9"), trash))
    staged.abortStagedChanges()
    // the abort must have healed (rolled the complete staged gen forward),
    // not deleted the staging dir and stranded/destroyed the table
    assert(sum("rep.t9") == (100L until 105L).sum,
      "abort after intent must finish the swap")
    assert(!fs.exists(intent) && !fs.exists(trash) && !fs.exists(stagedDir))
  }

  test("graft_vacuum_staged skips dirs a pending swap intent references") {
    spark.sql("CREATE TABLE rep.t10 AS SELECT id AS k FROM range(6)")
    val staged = new org.apache.hadoop.fs.Path(wh, ".t10.staged-00c0ffee")
    spark.range(50, 55).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(staged.toString)
    val trash = new org.apache.hadoop.fs.Path(wh, ".t10.replaced-00c0ffee")
    val intent = new org.apache.hadoop.fs.Path(wh, ".t10.swap")
    val out = fs.create(intent, true)
    out.write(s"${staged.getName}\n${trash.getName}".getBytes("UTF-8"))
    out.close()
    require(fs.rename(new org.apache.hadoop.fs.Path(wh, "t10"), trash))
    def ageAll(d: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(d, 1000L, 1000L)
      fs.listStatus(d).foreach(f =>
        if (f.isDirectory) ageAll(f.getPath)
        else fs.setTimes(f.getPath, 1000L, 1000L))
    }
    ageAll(staged); ageAll(trash)
    // aged WAY past the cutoff, but the intent owns both dirs: vacuum
    // must leave them for healSwap (deleting either defeats the swap's
    // roll-forward/back and can destroy the only copy of the table)
    spark.sql(s"SELECT * FROM graft_vacuum_staged('$wh', " +
      s"${System.currentTimeMillis() - 60000})").collect()
    assert(fs.exists(staged) && fs.exists(trash),
      "intent-owned dirs must survive the vacuum")
    assert(sum("rep.t10") == (50L until 55L).sum,
      "heal still completes after the vacuum")
  }

  test("staged dirs and trash are invisible to listTables") {
    spark.sql("CREATE TABLE rep.t5 AS SELECT id AS k FROM range(3)")
    // a plausible mid-CTAS staging sibling with a sidecar inside
    spark.range(0, 3).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite")
      .save(s"$wh/.t5.staged-cafebabe")
    val names = spark.sql("SHOW TABLES IN rep").collect()
      .map(_.getString(1)).toSet
    assert(names.contains("t5") && !names.exists(_.contains("staged")),
      names.mkString(", "))
    fs.delete(new org.apache.hadoop.fs.Path(s"$wh/.t5.staged-cafebabe"), true)
  }

  test("graft_vacuum_staged sweeps crashed CTAS staging, keeps live dirs") {
    spark.sql("CREATE TABLE rep.t7 AS SELECT id AS k FROM range(4)")
    // a crashed CTAS's staging (driver died before commit/abort) + trash
    val dead = new org.apache.hadoop.fs.Path(wh, ".t7.staged-0ddba11")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dead.toString)
    val trash = new org.apache.hadoop.fs.Path(wh, ".t7.replaced-0ddba11")
    fs.mkdirs(trash)
    val fresh = new org.apache.hadoop.fs.Path(wh, ".t7.staged-f4e5h000")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .write.format("graft").mode("overwrite").save(fresh.toString)
    // age the dead ones past the cutoff; the fresh one stays young
    def ageAll(d: org.apache.hadoop.fs.Path): Unit = {
      fs.setTimes(d, 1000L, 1000L)
      fs.listStatus(d).foreach(f =>
        if (f.isDirectory) ageAll(f.getPath)
        else fs.setTimes(f.getPath, 1000L, 1000L))
    }
    ageAll(dead); ageAll(trash)
    val stats = spark.sql(s"SELECT * FROM graft_vacuum_staged('$wh', " +
      s"${System.currentTimeMillis() - 60000})")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("staged_dirs_removed") == 2, stats)
    assert(!fs.exists(dead) && !fs.exists(trash), "aged junk must go")
    assert(fs.exists(fresh), "a live staging dir must survive")
    assert(sum("rep.t7") == 6, "live tables untouched")
    fs.delete(fresh, true)
  }

  test("CTAS through stageCreate is invisible until commit") {
    val cat = spark.sessionState.catalogManager.catalog("rep")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "t6")
    val staged = cat.stageCreate(ident,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))),
      Array.empty, new java.util.HashMap[String, String]())
    assert(!cat.tableExists(ident), "staged table must be invisible")
    staged.commitStagedChanges()
    assert(cat.tableExists(ident), "committed table must resolve")
    assert(spark.table("rep.t6").count() == 0)
  }
}
