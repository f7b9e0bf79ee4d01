package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level change feed: inserts window off commit manifests, deletes are
  * made durable by changelog-enabled deleteWhere, and a delete must not
  * reset incremental readers of unrelated appends (surgical expiry).
  */
class GraftCdcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = s"/tmp/graft-test/cdc-$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def manifestMax(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    GraftManifest.list(fs, p).map(GraftManifest.nameT).max
  }

  test("changes window reports appended rows as inserts and purged rows as deletes") {
    val dir = fresh("basic")
    def rows(a: Long, b: Long) = spark.range(a, b)
      .selectExpr("id AS k", "id % 2 = 0 AS victim")
    rows(0, 100).write.format("graft").option("partitionby", "victim")
      .mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    rows(100, 140).write.format("graft").option("partitionby", "victim")
      .mode("append").save(dir)
    // purge victims from the FIRST commit only: a manifest spans a whole
    // commit, so a delete touching any of a commit's files expires that
    // commit's history — keeping the purge out of the second commit keeps
    // its insert events intact (the gate query stages the same shape)
    val st = GraftMaintenance.deleteWhere(spark, dir,
      col("k") < 100 && col("victim") === true, changelog = true)
    assert(st.filesRewritten > 0)
    val ch = GraftCdc.changes(spark, dir, t1, Long.MaxValue)
    val ins = ch.filter(col(GraftCdc.ChangeTypeCol) === "insert")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val del = ch.filter(col(GraftCdc.ChangeTypeCol) === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ins == (100L until 140L))
    assert(del == (0L until 100L).filter(_ % 2 == 0))
    // table state is consistent with the events
    assert(spark.read.format("graft").load(dir).count() == 50 + 40)
  }

  test("delete does not reset incremental readers of unrelated commits") {
    val dir = fresh("surgical")
    spark.range(0, 50).selectExpr("id AS k", "'old' AS tag")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(50, 80).selectExpr("id AS k", "'new' AS tag")
      .write.format("graft").mode("append").save(dir)
    // purge rows that live ONLY in the first commit's files
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 10, changelog = true)
    // the second commit's manifest must survive: a since-reader that
    // checkpointed at t1 still sees exactly the second commit
    val sinceRows = spark.read.format("graft").option("since", t1.toString)
      .load(dir).select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(sinceRows == (50L until 80L),
      "surgical expiry must keep unrelated commit manifests")
  }

  test("changelog re-run is idempotent and the feed is windowed") {
    val dir = fresh("idem")
    spark.range(0, 60).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t0 = manifestMax(dir)
    Thread.sleep(5)
    val pred = col("k") % 3 === 0
    GraftMaintenance.deleteWhere(spark, dir, pred, changelog = true)
    val t2 = System.currentTimeMillis()
    val feedDir = s"$dir/${GraftCdc.ChangesDir}"
    val conf = spark.sessionState.newHadoopConf()
    val feedFiles = GraftUtil.listDataFiles(feedDir, conf)
      .map(_.getPath.getName).toSet
    assert(feedFiles.nonEmpty)
    // identical delete again: no matches remain, no new feed files
    GraftMaintenance.deleteWhere(spark, dir, pred, changelog = true)
    assert(GraftUtil.listDataFiles(feedDir, conf)
      .map(_.getPath.getName).toSet == feedFiles)
    // feed rows are exact
    val del = GraftCdc.changes(spark, dir, t0, Long.MaxValue)
      .filter(col(GraftCdc.ChangeTypeCol) === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(del == (0L until 60L).filter(_ % 3 == 0))
    // a window that closes before the delete excludes it
    Thread.sleep(5)
    assert(GraftCdc.changes(spark, dir, t2, Long.MaxValue).count() == 0)
  }

  test("the change feed is streamable: a consumer follows takedowns incrementally") {
    val dir = fresh("stream")
    spark.range(0, 80).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 10, changelog = true)
    // the feed dir is a normal manifest-bearing graft directory, so the
    // streaming source's manifest offsets apply unchanged — a downstream
    // consumer subscribes to purges exactly like any other graft stream
    val feedDir = s"$dir/${GraftCdc.ChangesDir}"
    val schema = spark.read.format("graft").load(feedDir).schema
    val q = spark.readStream.format("graft").schema(schema).load(feedDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_cdc_stream").start()
    try {
      q.processAllAvailable()
      val first = spark.table("graft_cdc_stream")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(first == (0L until 10L))
      // a later takedown lands as a NEW micro-batch
      GraftMaintenance.deleteWhere(spark, dir,
        col("k") >= 70, changelog = true)
      q.processAllAvailable()
      val all = spark.table("graft_cdc_stream")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(all == ((0L until 10L) ++ (70L until 80L)))
    } finally q.stop()
  }

  test("applyChanges keeps a filtered derived table in sync with its source") {
    val src = fresh("apply-src")
    val dst = fresh("apply-dst")
    def rows(a: Long, b: Long) = spark.range(a, b)
      .selectExpr("id AS k", "id * 7 AS v")
    // source commit 1 + derived bootstrap (derived keeps only even k)
    rows(0, 100).write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("k") % 2 === 0).select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    val t1 = manifestMax(src)
    Thread.sleep(5)
    // source evolves: an append, then a takedown
    rows(100, 130).write.format("graft").mode("append").save(src)
    GraftMaintenance.deleteWhere(spark, src,
      col("k") < 20, changelog = true)
    // consumer applies the window to the derived table
    val (appended, deleted) = GraftCdc.applyChanges(spark,
      GraftCdc.changes(spark, src, t1, Long.MaxValue), dst, "k", derive)
    assert(appended == 15 && deleted == 20, s"($appended, $deleted)")
    // derived now equals re-deriving from the source's current state
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    assert(got.map(_._1) == (20L until 130L).filter(_ % 2 == 0))
  }

  test("applyChanges large delete windows route through the distributed merge path") {
    val src = fresh("apply-big-src")
    val dst = fresh("apply-big-dst")
    def rows(a: Long, b: Long) = spark.range(a, b)
      .selectExpr("id AS k", "id * 7 AS v")
    rows(0, 300).repartition(4).write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("k") % 2 === 0).select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    val t1 = manifestMax(src)
    Thread.sleep(5)
    rows(300, 340).write.format("graft").mode("append").save(src)
    GraftMaintenance.deleteWhere(spark, src, col("k") < 100, changelog = true)
    // driverKeyMax = 5 forces the >cap branch: deletes apply as an
    // unconditional WHEN MATCHED DELETE merge (envelope-scoped probes)
    // instead of a driver-collected IN list — results must be identical
    val (appended, deleted) = GraftCdc.applyChanges(spark,
      GraftCdc.changes(spark, src, t1, Long.MaxValue), dst, "k", derive,
      driverKeyMax = 5)
    assert(appended == 20 && deleted == 100, s"($appended, $deleted)")
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    assert(got.map(_._1) == (100L until 340L).filter(_ % 2 == 0))
  }

  test("applyChangesBetween matches applyChanges on every delete-path branch") {
    // the dir-driven consumer decides its delete path from feed FOOTER row
    // counts (no probe job) and counts via observed metrics — results must
    // be identical to the frame-driven form on the small path, the large
    // (merge) path, and the no-deletes path
    def scenario(name: String, driverKeyMax: Int, takedown: Boolean): Unit = {
      val src = fresh(s"between-$name-src")
      val dst = fresh(s"between-$name-dst")
      def rows(a: Long, b: Long) = spark.range(a, b)
        .selectExpr("id AS k", "id * 7 AS v")
      rows(0, 200).repartition(4).write.format("graft").mode("append").save(src)
      val derive = (df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("k") % 2 === 0).select(col("k"), col("v"))
      derive(spark.read.format("graft").load(src))
        .write.format("graft").mode("append").save(dst)
      val t1 = manifestMax(src)
      Thread.sleep(5)
      rows(200, 230).write.format("graft").mode("append").save(src)
      if (takedown)
        GraftMaintenance.deleteWhere(spark, src, col("k") < 50, changelog = true)
      val (appended, deleted) = GraftCdc.applyChangesBetween(spark, src,
        t1, Long.MaxValue, dst, "k", derive, driverKeyMax = driverKeyMax)
      assert(appended == 15, s"$name: appended=$appended")
      assert(deleted == (if (takedown) 50 else 0), s"$name: deleted=$deleted")
      val want = derive(spark.read.format("graft").load(src))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val got = spark.read.format("graft").load(dst)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"$name: derived table diverged from source")
    }
    scenario("small", driverKeyMax = 1000, takedown = true)
    scenario("large", driverKeyMax = 5, takedown = true)
    scenario("nodel", driverKeyMax = 1000, takedown = false)
  }

  test("applyChangesBetween with an insert-free window appends nothing, publishing only the window marker") {
    val src = fresh("between-noins-src")
    val dst = fresh("between-noins-dst")
    spark.range(0, 100).selectExpr("id AS k", "id * 7 AS v")
      .write.format("graft").mode("append").save(src)
    spark.read.format("graft").load(src)
      .write.format("graft").mode("append").save(dst)
    val t1 = manifestMax(src)
    Thread.sleep(5)
    // only a takedown in-window: the unconditional insert append must be a
    // true no-op on the target (no files, no manifest)
    GraftMaintenance.deleteWhere(spark, src, col("k") < 10, changelog = true)
    val p = new org.apache.hadoop.fs.Path(dst)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val manifestsBefore = GraftManifest.list(fs, p).toSet
    val (appended, deleted) = GraftCdc.applyChangesBetween(spark, src,
      t1, Long.MaxValue, dst, "k")
    assert(appended == 0 && deleted == 10, s"($appended, $deleted)")
    // the delete rewrite publishes its own commits; beyond those the ONLY
    // addition is the zero-entry window-tag MARKER (the durable replay
    // guard for zero-append windows) — no data-file append manifest
    val after = GraftManifest.list(fs, p).toSet
    val newOnes = after -- manifestsBefore
    val (markers, others) = newOnes.partition(_.contains("-cdcw"))
    assert(markers.size == 1,
      s"a zero-append window must publish exactly one tag marker: $markers")
    assert(GraftManifest.read(fs, p, markers.head).isEmpty,
      "the window marker must list no files")
    others.foreach { m =>
      assert(GraftManifest.read(fs, p, m).nonEmpty,
        s"empty manifest published by a zero-row append: $m")
    }
    assert(spark.read.format("graft").load(dst).count() == 90)
    // and the marker makes even this insert-free window replay-recognized
    val (ra, rd) = GraftCdc.applyChangesBetween(spark, src,
      t1, Long.MaxValue, dst, "k")
    assert(ra == 0 && rd == 0, s"marked window replayed its deletes: ($ra, $rd)")
  }

  test("graft_changes SQL table function serves the same event stream") {
    val dir = fresh("sql-tvf")
    spark.range(0, 60).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(60, 80).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 10, changelog = true)
    val got = spark.sql(
      s"SELECT ${GraftCdc.ChangeTypeCol} AS t, k FROM " +
        s"graft_changes('$dir', ${t1}L, ${Long.MaxValue}L)")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = GraftCdc.changes(spark, dir, t1, Long.MaxValue)
      .select(col(GraftCdc.ChangeTypeCol), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == want && got.nonEmpty,
      s"SQL TVF diverged from the API feed: ${got.size} vs ${want.size}")
    // literal-argument contract errors loudly
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_changes('/nope', 'x', 1)").collect())
    assert(e.getMessage.contains("integral literal") ||
      e.getMessage.contains("graft_changes"))
  }

  test("deleted rows keep partition values in the feed (self-describing rows)") {
    val dir = fresh("parts")
    spark.range(0, 40)
      .selectExpr("id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS lang")
      .write.format("graft").option("partitionby", "lang")
      .mode("append").save(dir)
    val t0 = manifestMax(dir)
    Thread.sleep(5)
    GraftMaintenance.deleteWhere(spark, dir,
      col("lang") === "b" && col("k") < 20, changelog = true)
    val del = GraftCdc.changes(spark, dir, t0, Long.MaxValue)
      .filter(col(GraftCdc.ChangeTypeCol) === "delete")
    assert(del.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(del.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 20L).filter(_ % 2 != 0))
  }
}
