package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE (physical rollback to a registered version) + the
  * `graft_history` commit-history frame. Contract under test: after
  * `restore(v)`, a CURRENT read equals what `VERSION AS OF v` read before
  * — exactly, for append-only and DV-versioned histories; as the asof
  * view for CoW-collapsed ones. Takedown masks survive every restore
  * (compliance wins), version ordinals never renumber, and both surfaces
  * work through pure SQL (`graft_restore` / `graft_history`).
  */
class RestoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = s"/tmp/graft-test/restore-$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def ks(dir: String): Seq[Long] =
    spark.read.format("graft").load(dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  /** Commit-time millis tie-break guard: two ops inside one millisecond
    * would be one snapshot. */
  private def tick(): Unit = Thread.sleep(5)

  private def append(dir: String, from: Long, until: Long): Unit = {
    tick()
    spark.range(from, until).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      .write.format("graft").mode("append").save(dir)
  }

  test("restore rolls an append-only history back to the pinned version") {
    val dir = fresh("appendonly")
    append(dir, 0, 10); append(dir, 10, 20); append(dir, 20, 30)
    val st = GraftMaintenance.restore(spark, dir, 2)
    assert(st.filesRemoved == 1 && st.rowsAfter == 20, st)
    assert(ks(dir) == (0L until 20L))
    // the restore registers itself; the undone version is an expired hole
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val log = GraftVersionLog.commits(
      GraftVersionLog.sync(fs, new org.apache.hadoop.fs.Path(dir)))
    assert(log.size == 4, s"3 appends + restore marker, got $log")
    assert(log(3).contains("-rst2h"), log(3))
    // VERSION-pinned read of a SURVIVING version still works
    assert(spark.read.format("graft")
      .option("asof", GraftManifest.nameT(log.head)).load(dir).count() == 10)
  }

  test("restore == what VERSION AS OF saw: DV-versioned delete un-happens") {
    val dir = fresh("dvversioned")
    append(dir, 0, 50)
    tick()
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 5 === 2,
      takedown = false)
    append(dir, 50, 60)
    assert(ks(dir).size == 50) // 40 surviving + 10 appended
    val st = GraftMaintenance.restore(spark, dir, 1)
    assert(st.filesRemoved == 1 && st.dvGenerationsRemoved == 1, st)
    assert(st.rowsAfter == 50, st)
    assert(ks(dir) == (0L until 50L), "versioned masks must roll back")
  }

  test("takedown masks survive restore — compliance deletes stay deleted") {
    val dir = fresh("takedown")
    append(dir, 0, 50)
    tick()
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") === 7) // takedown
    val st = GraftMaintenance.restore(spark, dir, 1)
    assert(st.dvGenerationsRemoved == 0, st)
    assert(ks(dir) == (0L until 50L).filterNot(_ == 7),
      "a takedown must stay gone through restore")
  }

  test("restore refuses to cross a truncating overwrite") {
    val dir = fresh("truncate")
    append(dir, 0, 10)
    tick()
    spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      GraftMaintenance.restore(spark, dir, 1)
    }
    assert(e.getMessage.contains("truncating overwrite"), e.getMessage)
    assert(ks(dir) == (100L until 110L), "a refused restore mutates nothing")
  }

  test("re-restore converges: no double marker, no further deletions") {
    val dir = fresh("rerun")
    append(dir, 0, 10); append(dir, 10, 20)
    GraftMaintenance.restore(spark, dir, 1)
    val st2 = GraftMaintenance.restore(spark, dir, 1)
    assert(st2.filesRemoved == 0 && st2.rowsAfter == 10, st2)
    assert(ks(dir) == (0L until 10L))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val log = GraftVersionLog.commits(
      GraftVersionLog.sync(fs, new org.apache.hadoop.fs.Path(dir)))
    assert(log.count(_.contains("-rst1h")) == 1,
      s"re-run must not double-register: $log")
  }

  test("restore truncates the post-pin CDC change feed") {
    val dir = fresh("feed")
    append(dir, 0, 30)
    tick()
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") < 5,
      changelog = true, takedown = false)
    val feed = new org.apache.hadoop.fs.Path(dir, GraftCdc.ChangesDir)
    val fs = feed.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(feed) &&
      GraftUtil.listDataFiles(feed.toString,
        spark.sessionState.newHadoopConf()).nonEmpty)
    val st = GraftMaintenance.restore(spark, dir, 1)
    assert(st.feedFilesRemoved >= 1, st)
    assert(GraftUtil.listDataFiles(feed.toString,
      spark.sessionState.newHadoopConf()).isEmpty,
      "post-pin feed commits must expire with the commits that produced them")
    assert(ks(dir) == (0L until 30L))
  }

  test("crash between file deletion and manifest expiry converges on re-run") {
    val dir = fresh("crashseam")
    append(dir, 0, 10); append(dir, 10, 20); append(dir, 20, 30)
    // fabricate the crash window: restore's step 1 deleted a post-pin data
    // file but died before step 2 expired its manifest — the listing-keyed
    // re-run must finish the expiry and land on the same state
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val commits = GraftVersionLog.commits(GraftVersionLog.sync(fs, tableDir))
    val lastEntries = GraftManifest.read(fs, tableDir, commits.last)
    lastEntries.foreach { case (name, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(tableDir, name), false)
    }
    assert(GraftManifest.list(fs, tableDir).contains(commits.last),
      "staging: the victim's manifest must still be live (the crash window)")
    val st = GraftMaintenance.restore(spark, dir, 1)
    assert(ks(dir) == (0L until 10L))
    assert(!GraftManifest.list(fs, tableDir).contains(commits.last),
      "re-run must finish the manifest expiry")
    assert(st.manifestsExpired == 2, st) // both post-pin commits
  }

  test("graft_restore: the same rollback through pure SQL, stat rows back") {
    val dir = fresh("sql")
    append(dir, 0, 10); append(dir, 10, 20)
    val stats = spark.sql(s"SELECT * FROM graft_restore('$dir', 1)")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("version") == 1 && stats("files_removed") == 1 &&
      stats("rows_after") == 10, stats)
    assert(ks(dir) == (0L until 10L))
  }

  test("restoreAsOf rolls back by time; graft_restore_ts through SQL") {
    val dir = fresh("asofts")
    append(dir, 0, 10)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val t1 = GraftManifest.nameT(GraftVersionLog.commits(
      GraftVersionLog.sync(fs, new org.apache.hadoop.fs.Path(dir))).head)
    append(dir, 10, 20); append(dir, 20, 30)
    // any instant in [t1, v2) resolves to version 1
    val stats = spark.sql(s"SELECT * FROM graft_restore_ts('$dir', ${t1 + 1})")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(stats("version") == 1 && stats("files_removed") == 2, stats)
    assert(ks(dir) == (0L until 10L))
    intercept[Exception] { // before the first commit: nothing to restore to
      GraftMaintenance.restoreAsOf(spark, dir, t1 - 1000)
    }
  }

  test("graft_history: ordinals, status transitions, rows/files/bytes") {
    val dir = fresh("history")
    append(dir, 0, 10); append(dir, 10, 25)
    val h1 = spark.sql(s"SELECT * FROM graft_history('$dir') ORDER BY version")
      .collect()
    assert(h1.length == 2)
    assert(h1.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h1.forall(_.getString(3) == "live"))
    assert(h1.map(r => r.getLong(7)).toSeq == Seq(10L, 15L), "footer rows")
    assert(h1.forall(_.getLong(5) == 1L), "files per single-partition append")
    // restore: version 2 becomes an expired hole; the marker registers
    GraftMaintenance.restore(spark, dir, 1)
    val h2 = spark.sql(s"SELECT version, status, tag, rows FROM " +
      s"graft_history('$dir') ORDER BY version").collect()
    assert(h2.length == 3, h2.mkString("; "))
    assert(h2(0).getString(1) == "live")
    assert(h2(1).getString(1) == "expired" && h2(1).isNullAt(3))
    assert(h2(2).getString(1) == "live" && h2(2).getString(2).startsWith("rst1h")
      && h2(2).getLong(3) == 0L, h2(2).toString)
  }

  test("graft_history reports truncate sentinels and DV'd commits honestly") {
    val dir = fresh("historydv")
    append(dir, 0, 20)
    tick()
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") < 3, takedown = false)
    // history reports COMMITTED rows (masks added back), not the scan view
    val r1 = spark.sql(s"SELECT rows FROM graft_history('$dir')").collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(20L), r1.mkString)
    tick()
    spark.range(0, 5).selectExpr("id AS k", "id AS v").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val h = spark.sql(s"SELECT version, status, rows FROM graft_history('$dir')")
      .collect()
    // truncate sentinel row: null version, status 'truncate'
    assert(h.exists(r => r.isNullAt(0) && r.getString(1) == "truncate"),
      h.mkString("; "))
    val live = h.filter(r => !r.isNullAt(0) && r.getString(1) == "live")
    assert(live.length == 1 && live(0).getLong(2) == 5L, h.mkString("; "))
  }
}
