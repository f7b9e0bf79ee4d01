package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental windows spanning a commit AND a row-level rewrite of that
  * commit: the rewrite's heal pass re-publishes the expired commit's
  * surviving coverage as a REPLACEMENT manifest at the original commit
  * time, so a `since` reader (or CDC consumer) that had not yet read the
  * window still receives the commit's surviving rows. Before replacement
  * manifests, those survivors fell to pre-manifest history and were
  * silently lost — a real data-loss window for any feed consumer whose
  * polling interval spanned an append followed by a takedown touching it.
  */
class WindowSpanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = s"/tmp/graft-test/winspan-$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestMax(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    GraftManifest.list(fsOf(dir), p).filterNot(GraftManifest.isCatchup)
      .map(GraftManifest.nameT).max
  }

  private def sinceKs(dir: String, t: Long): Seq[Long] =
    spark.read.format("graft").option("since", t.toString).load(dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("since window spanning append+delete delivers the append's survivors") {
    val dir = fresh("delete")
    spark.range(0, 100).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(100, 110).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    GraftMaintenance.deleteWhere(spark, dir,
      col("k").between(100, 105), changelog = true)
    assert(sinceKs(dir, t1) == (106L to 109L),
      "surviving appended rows must stay in the window after the delete")
    // the window cut AFTER the append must stay empty (no redelivery)
    assert(spark.read.format("graft")
      .option("since", manifestMax(dir).toString).load(dir).count() == 0)
  }

  test("since window spanning append+update delivers the updated survivors") {
    val dir = fresh("update")
    spark.range(0, 50).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(50, 60).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(dir)
    GraftMaintenance.updateWhere(spark, dir,
      col("k") >= 55, Map("v" -> lit(-1L)))
    val got = spark.read.format("graft").option("since", t1.toString).load(dir)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(got == ((50L to 54L).map(k => (k, k)) ++ (55L to 59L).map((_, -1L))),
      s"window must deliver the appended rows at their POST-update values: $got")
  }

  test("replacement chains: two rewrites of the same appended commit stay window-exact") {
    val dir = fresh("chain")
    spark.range(0, 40).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(100, 120).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    GraftMaintenance.deleteWhere(spark, dir, col("k").between(100, 104))
    GraftMaintenance.deleteWhere(spark, dir, col("k").between(110, 114))
    assert(sinceKs(dir, t1) == ((105L to 109L) ++ (115L to 119L)),
      "a second rewrite must replace the replacement, not drop coverage")
    val p = new org.apache.hadoop.fs.Path(dir)
    val repls = GraftManifest.list(fsOf(dir), p).filter(GraftManifest.isReplacement)
    assert(repls.size == 1,
      s"chained rewrites must collapse to ONE replacement per commit: $repls")
    // the chain normalizes to the ORIGINAL commit's suffix
    assert(!GraftManifest.isReplacement(
      f"${GraftManifest.nameT(repls.head)}%013d-" +
        GraftManifest.baseSuffix(repls.head)))
  }

  test("replacements mint no phantom versions and keep fresh streams batch-equal") {
    val dir = fresh("versions")
    spark.range(0, 30).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(dir)
    spark.range(30, 60).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(dir)
    val commitsBefore = GraftVersionLog.commits(GraftVersionLog.sync(fs, p)).size
    GraftMaintenance.deleteWhere(spark, dir, col("k").between(30, 39))
    val commitsAfter = GraftVersionLog.commits(GraftVersionLog.sync(fs, p)).size
    assert(commitsAfter == commitsBefore,
      s"a rewrite's replacement manifest must not register as a new version " +
        s"($commitsBefore -> $commitsAfter)")
    // fresh stream drains to exactly the batch view
    val schema = spark.read.format("graft").load(dir).schema
    val q = spark.readStream.format("graft").schema(schema).load(dir)
      .writeStream.format("memory").queryName("winspan_fresh").start()
    try {
      q.processAllAvailable()
      val streamKs = spark.table("winspan_fresh")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(streamKs == ((0L to 29L) ++ (40L to 59L)),
        s"fresh stream diverged from batch view: ${streamKs.size} rows")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS winspan_fresh")
    }
  }

  test("window read inside the heal crash gap still delivers survivors") {
    // the rewrite wave renames outputs in and retires originals BEFORE the
    // replacement manifest publishes — a reader landing in that gap (or in
    // the crash window before a re-run heals) sees a manifested-but-
    // missing original and an unmanifested output. The scan substitutes
    // the output at the original's commit time (name-derived), so the
    // window stays exact even there.
    val dir = fresh("crashgap")
    spark.range(0, 100).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(100, 110).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(dir)
    val m2 = GraftManifest.list(fs, p).maxBy(GraftManifest.nameT)
    val m2entries = GraftManifest.read(fs, p, m2)
    GraftMaintenance.deleteWhere(spark, dir, col("k").between(100, 105))
    // reconstruct the PRE-HEAL state: replacement gone, expired original
    // manifest back (still referencing the retired file)
    val repl = GraftManifest.list(fs, p).filter(GraftManifest.isReplacement)
    assert(repl.size == 1)
    fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(p), repl.head), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(GraftManifest.dir(p), m2), true)
    try out.write(m2entries.map { case (n, l) => s"$n\t$l" }
      .mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    assert(sinceKs(dir, t1) == (106L to 109L),
      "the crash-gap window must deliver the survivors via name-derived " +
        "commit-time inheritance")
    // and a window cut after the commit still excludes them
    assert(spark.read.format("graft")
      .option("since", manifestMax(dir).toString).load(dir).count() == 0)
  }

  test("heal after a crashed predecessor maps a CHAINED output to the grandparent") {
    // op A rewrites X -> X-delA and crashes BEFORE healing (original
    // manifest still lists X); op B then rewrites the survivor output
    // X-delA -> X-delA-delB. B's heal holds a manifest listing X while the
    // only live descendant carries TWO markers — the heal must walk the
    // full ancestor chain (as inheritedT/originalCovered do) or the
    // commit's surviving rows silently drop out of since/CDC windows.
    val dir = fresh("chainheal")
    spark.range(0, 100).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val t1 = manifestMax(dir)
    Thread.sleep(5)
    spark.range(100, 110).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(dir)
    val m2 = GraftManifest.list(fs, p).maxBy(GraftManifest.nameT)
    val m2entries = GraftManifest.read(fs, p, m2)
    GraftMaintenance.deleteWhere(spark, dir, col("k").between(100, 102))
    // reconstruct op A's pre-heal crash state: replacement gone, the
    // expired original manifest back, still referencing retired X
    val repl = GraftManifest.list(fs, p).filter(GraftManifest.isReplacement)
    assert(repl.size == 1)
    fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(p), repl.head), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(GraftManifest.dir(p), m2), true)
    try out.write(m2entries.map { case (n, l) => s"$n\t$l" }
      .mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    // drop the catch-up manifests A published: the crashed-run state we
    // model is "originals retired, heal never reached"
    GraftManifest.list(fs, p).filter(GraftManifest.isCatchup).foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(GraftManifest.dir(p), n), false))
    // op B rewrites the survivor output, leaving a survivor of its own so
    // the live file carries two markers (delete only k=103; the -delA file
    // holds 103,104 after A removed 100-102 from its 102..104 original)
    GraftMaintenance.deleteWhere(spark, dir, col("k") === 103)
    val chained = GraftUtil.listDataFiles(dir, spark.sessionState.newHadoopConf())
      .map(_.getPath.getName).filter(_.contains("-del"))
    assert(chained.exists(n => "-del[0-9a-f]{8}".r.findAllIn(n).size == 2),
      s"staging assumption broken — expected a two-marker chained output: $chained")
    assert(sinceKs(dir, t1) == (104L to 109L),
      "B's heal must map the chained output back to the grandparent the " +
        "expiring manifest lists; otherwise the commit's survivors are lost")
    // batch view stays exact too
    assert(spark.read.format("graft").load(dir).count() == 106)
  }

  test("checkpoint upgrade does not redeliver a rewritten commit's survivors") {
    val dir = fresh("upgrade")
    spark.range(0, 20).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(dir)
    val hconf = spark.sessionState.newHadoopConf()
    val schemaJson = spark.read.format("graft").load(dir).schema.json
    // wave 1 under modTime offsets (a pre-manifest-era checkpoint)
    val msPlain = new GraftMicroBatchStream(dir,
      new SerializableHadoopConf(hconf), schemaJson, manifestOpt = Some(false))
    val o1 = msPlain.latestOffset().asInstanceOf[GraftStreamOffset]
    assert(msPlain.planInputPartitions(GraftStreamOffset.Empty, o1).nonEmpty)
    // a rewrite retires the processed file; its survivors re-list under a
    // replacement manifest whose -del output has a FRESH modTime
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 5)
    Thread.sleep(20)
    spark.range(20, 25).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val msUp = new GraftMicroBatchStream(dir,
      new SerializableHadoopConf(hconf), schemaJson, manifestOpt = Some(true))
    val restored = msUp.deserializeOffset(o1.json()).asInstanceOf[GraftStreamOffset]
    val o2 = msUp.latestOffset().asInstanceOf[GraftStreamOffset]
    val b2 = msUp.planInputPartitions(restored, o2)
      .map(_.asInstanceOf[GraftInputPartition].filePath).toSet
    assert(!b2.exists(_.contains("-del")),
      s"upgrade redelivered a rewritten commit's survivors: $b2")
    assert(b2.nonEmpty && b2.forall(_.contains("graft")),
      "the post-rewrite append must still be delivered")
  }

  test("updateWhere changelog reconciles a derived table (no stale, no lost rows)") {
    val src = fresh("upd-src")
    val dst = fresh("upd-dst")
    spark.range(0, 100).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("k") % 2 === 0).select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    // an update to ALREADY-CONSUMED rows: the feed carries pre-images, the
    // post-update rows live only at the ORIGINAL commit time (outside this
    // window) — the consumer must reconcile against current state, not
    // treat the pre-images as deletes (rows lost) nor ignore them (stale)
    GraftMaintenance.updateWhere(spark, src, col("k") < 10,
      Map("v" -> lit(-1L)), changelog = true)
    val (appended, _) = GraftCdc.applyChangesBetween(spark, src,
      t1, System.currentTimeMillis(), dst, "k", derive)
    assert(appended == 5, s"reconciliation must re-insert the 5 updated even keys, got $appended")
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"derived diverged after update reconciliation")
    assert(got.filter(_._1 < 10).forall(_._2 == -1L), "updated values must land")
  }

  test("in-window append+update reconciles without duplicates") {
    val src = fresh("updwin-src")
    val dst = fresh("updwin-dst")
    spark.range(0, 50).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    // append inside the window, then update PART of the append AND part of
    // the old corpus in the same window: appended-and-updated keys arrive
    // through the windowed read (replacement time), old updated keys only
    // through reconciliation — and neither path may double-deliver
    spark.range(50, 60).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    GraftMaintenance.updateWhere(spark, src,
      col("k").between(45, 54), Map("v" -> lit(-7L)), changelog = true)
    GraftCdc.applyChangesBetween(spark, src,
      t1, System.currentTimeMillis(), dst, "k", derive)
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want,
      s"append+update window diverged (${got.size} vs ${want.size} rows)")
  }

  test("merge changelog pre-images (update + tombstone) reconcile a derived table") {
    val src = fresh("mrg-src")
    val dst = fresh("mrg-dst")
    spark.range(0, 60).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    // one merge batch: tombstone keys 0-4, re-value keys 5-9, insert 60-64
    val batch = spark.createDataFrame(
      (0L to 9L).map(k => (k, k * 100, if (k < 5) "D" else "U")) ++
        (60L to 64L).map(k => (k, k * 100, "I"))).toDF("k", "nv", "op")
    val pre = GraftMaintenance.SrcPrefix
    GraftMaintenance.mergeApply(spark, src, batch, Seq("k" -> "k"),
      matched = Seq(
        GraftMaintenance.MergeClause(Some(col(pre + "op") === "D"), None),
        GraftMaintenance.MergeClause(None, Some(Map("v" -> col(pre + "nv"))))),
      notMatchedInsert = Seq(GraftMaintenance.MergeClause(None,
        Some(Map("k" -> col("k"), "v" -> col("nv"))))),
      changelog = true)
    GraftCdc.applyChangesBetween(spark, src,
      t1, System.currentTimeMillis(), dst, "k", derive)
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want,
      s"merge-feed reconciliation diverged (${got.size} vs ${want.size})")
    assert(!got.exists(_._1 < 5) && got.filter(t => t._1 >= 5 && t._1 <= 9)
      .forall(t => t._2 == t._1 * 100))
  }

  test("the reconciliation scan is page-bounded by the runtime key set on a sorted source") {
    import graft.spark.GraftMetrics
    val srcDir = fresh("repair-rf-src")
    val keysDir = fresh("repair-rf-keys")
    // 200k-row source, key-sorted single file -> tight per-page zone maps
    spark.range(200000).selectExpr("id AS k", "id * 3 AS v")
      .orderBy("k").coalesce(1)
      .write.format("graft").mode("overwrite").save(srcDir)
    // pre-image key set: a narrow band, behind a selective filter (the
    // build-side shape Spark's runtime-filter injection requires)
    spark.range(2000)
      .selectExpr("100000 + id AS k",
        "CASE WHEN id < 600 THEN 'y' ELSE 'n' END AS sel")
      .coalesce(1).write.format("graft").mode("overwrite").save(keysDir)
    val preKeys = spark.read.format("graft").load(keysDir)
      .filter(col("sel") === "y").select("k").distinct()
    val current = spark.read.format("graft").option("runtimefilter", "true")
      .load(srcDir)
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    // the applyChangesBetween repair shape: semi on pre-image keys, anti
    // against the (empty here) insert window keys
    val out = current
      .join(broadcast(preKeys), Seq("k"), "left_semi")
      .join(spark.emptyDataFrame.selectExpr("CAST(NULL AS LONG) AS k")
        .filter(lit(false)), Seq("k"), "left_anti")
      .collect()
    assert(out.length == 600, s"got ${out.length}")
    val skipped = GraftMetrics.pageGroupsSkipped.get()
    val read = GraftMetrics.pageGroupsRead.get()
    assert(skipped >= 5 && read <= skipped,
      s"reconciliation must prune source pages outside the key band via the " +
        s"runtime key set: skipped=$skipped read=$read")
  }

  test("re-applying the same window is a no-op: the tagged append never duplicates") {
    val src = fresh("idem-src")
    val dst = fresh("idem-dst")
    spark.range(0, 80).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    spark.read.format("graft").load(src)
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    spark.range(80, 100).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    GraftMaintenance.deleteWhere(spark, src, col("k") < 10, changelog = true)
    Thread.sleep(3)
    val t2 = System.currentTimeMillis()
    GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    val once = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // crash-replay / duplicate poll of the SAME window: deletes converge,
    // the tagged insert commit is recognized and publishes nothing
    GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    val twice = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(once == twice, s"replay duplicated rows: ${once.size} -> ${twice.size}")
    assert(once.map(_._1) == (10L until 100L))
    // a LATER window still appends normally (fresh tag)
    Thread.sleep(3)
    spark.range(100, 105).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    GraftCdc.applyChangesBetween(spark, src, t2, System.currentTimeMillis(),
      dst, "k")
    assert(spark.read.format("graft").load(dst).count() == 95)
  }

  test("replaying a window with OVERLAPPING delete/insert keys loses nothing") {
    // the update/reconcile shape: the window's delete keys are the same
    // keys its apply re-inserts. A naive replay would re-run the delete
    // phase against the FIRST apply's output and then skip the tagged
    // append — permanent row loss. The applied-window check must
    // recognize the committed tag BEFORE any phase runs.
    val src = fresh("idem-ovl-src")
    val dst = fresh("idem-ovl-dst")
    spark.range(0, 60).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    spark.read.format("graft").load(src)
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    GraftMaintenance.updateWhere(spark, src, col("k") < 20,
      Map("v" -> lit(-9L)), changelog = true)
    Thread.sleep(3)
    val t2 = System.currentTimeMillis()
    val (a1, d1) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a1 == 20 && d1 == 20, s"first apply ($a1, $d1)")
    val once = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(once.size == 60 && once.filter(_._1 < 20).forall(_._2 == -9L))
    // replay: recognized up front, full no-op
    val (a2, d2) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a2 == 0 && d2 == 0, s"replay must be recognized: ($a2, $d2)")
    val twice = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(twice == once,
      s"replay of an overlapping-key window lost rows: ${twice.size} vs ${once.size}")
    // the applied-check survives COMPACTION of the target (version log)
    GraftMaintenance.compact(spark, dst, targetFiles = 1)
    val (a3, d3) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a3 == 0 && d3 == 0,
      s"replay after compact must still be recognized: ($a3, $d3)")
    assert(spark.read.format("graft").load(dst).count() == 60)
  }

  test("out-of-order replay of an old ZERO-APPEND window is a no-op") {
    // the replay hole the zero-entry marker manifest closes: window W1
    // only deletes (zero appends -> no tagged append manifest), window W2
    // re-appends the same keys. Replaying W1 AFTER W2 would re-run W1's
    // deletes against W2's output, and W2's own tag blocks the re-append
    // that could restore them — permanent row loss unless W1's tag was
    // durably recorded despite publishing no files.
    val src = fresh("zeroapp-src")
    val dst = fresh("zeroapp-dst")
    spark.range(0, 50).selectExpr("id AS k", "id AS v")
      .write.format("graft").mode("append").save(src)
    spark.read.format("graft").load(src)
      .write.format("graft").mode("append").save(dst)
    Thread.sleep(3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(3)
    GraftMaintenance.deleteWhere(spark, src, col("k") < 10, changelog = true)
    Thread.sleep(3)
    val t2 = System.currentTimeMillis()
    val (a1, d1) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a1 == 0 && d1 == 10, s"W1 must be a pure-delete window: ($a1, $d1)")
    assert(spark.read.format("graft").load(dst).count() == 40)
    // W2 re-appends the deleted keys
    Thread.sleep(3)
    spark.range(0, 10).selectExpr("id AS k", "-id AS v")
      .write.format("graft").mode("append").save(src)
    Thread.sleep(3)
    val t3 = System.currentTimeMillis()
    val (a2, _) = GraftCdc.applyChangesBetween(spark, src, t2, t3, dst, "k")
    assert(a2 == 10)
    assert(spark.read.format("graft").load(dst).count() == 50)
    // out-of-order replay of W1: must be recognized up front, table intact
    val (a3, d3) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a3 == 0 && d3 == 0,
      s"zero-append window replay must be recognized by its marker: ($a3, $d3)")
    assert(spark.read.format("graft").load(dst).count() == 50,
      "replaying the old delete window re-deleted rows a later window restored")
    // and the recognition survives compaction of the target
    GraftMaintenance.compact(spark, dst, targetFiles = 1)
    val (a4, d4) = GraftCdc.applyChangesBetween(spark, src, t1, t2, dst, "k")
    assert(a4 == 0 && d4 == 0, s"marker must survive compaction: ($a4, $d4)")
    assert(spark.read.format("graft").load(dst).count() == 50)
  }

  test("mergeKeyIntervals: sound cover, bounded count, disjoint sorted output") {
    val rnd = new scala.util.Random(421L)
    for (_ <- 0 until 200) {
      val n = 1 + rnd.nextInt(120)
      val iv = Seq.fill(n) {
        val lo = rnd.nextLong() % 1000000L
        (lo, lo + rnd.nextInt(10000))
      }
      val out = GraftMaintenance.mergeKeyIntervals(iv, maxRanges = 32)
      assert(out.size <= 32, s"range cap violated: ${out.size}")
      assert(out == out.sortBy(_._1), "output must be sorted")
      out.sliding(2).foreach {
        case Seq((_, aHi), (bLo, _)) =>
          assert(bLo > aHi, s"output ranges must be disjoint: $out")
        case _ =>
      }
      // SOUND: every input interval is fully inside some output range
      iv.foreach { case (lo, hi) =>
        assert(out.exists { case (a, b) => a <= lo && hi <= b },
          s"input [$lo,$hi] not covered by $out")
      }
    }
    // degenerate shapes
    assert(GraftMaintenance.mergeKeyIntervals(Seq.empty).isEmpty)
    assert(GraftMaintenance.mergeKeyIntervals(Seq((5L, 5L))) == Seq((5L, 5L)))
    assert(GraftMaintenance.mergeKeyIntervals(
      Seq((Long.MinValue, 0L), (1L, Long.MaxValue))) ==
      Seq((Long.MinValue, Long.MaxValue)))
  }

  test("graft_changes accepts unfolded SQL literal shapes and the invoking session") {
    val dir = fresh("tvf-lits")
    spark.range(0, 30).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    // 9e18 arrives as a Double literal, -1 as UnaryMinus — both must parse
    val n = spark.sql(
      s"SELECT count(*) FROM graft_changes('$dir', -1, 9e18)")
      .head().getLong(0)
    assert(n == 30, s"got $n")
    // a sibling session gets the builder from the session extensions and
    // plans through itself (the builder resolves SparkSession.active)
    val s2 = spark.newSession()
    val n2 = s2.sql(
      s"SELECT count(*) FROM graft_changes('$dir', -1, 9223372036854775807L)")
      .head().getLong(0)
    assert(n2 == 30, s"sibling session got $n2")
  }

  test("CDC consumer window spanning append+takedown keeps the derived table exact") {
    val src = fresh("cdc-src")
    val dst = fresh("cdc-dst")
    spark.range(0, 100).selectExpr("id AS k", "id * 3 AS v")
      .write.format("graft").mode("append").save(src)
    val derive = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("k") % 2 === 0).select(col("k"), col("v"))
    derive(spark.read.format("graft").load(src))
      .write.format("graft").mode("append").save(dst)
    val t1 = manifestMax(src)
    Thread.sleep(5)
    // the consumer sleeps through an append AND a takedown deleting part
    // of that same append plus part of the old corpus
    spark.range(100, 130).selectExpr("id AS k", "id * 3 AS v")
      .write.format("graft").mode("append").save(src)
    GraftMaintenance.deleteWhere(spark, src,
      col("k").between(90, 115), changelog = true)
    val (appended, deleted) = GraftCdc.applyChangesBetween(spark, src,
      t1, Long.MaxValue, dst, "k", derive)
    // appended = the append's SURVIVORS passing the derive filter
    // (116..129 even = 7); deleted keys = all feed rows (90..115 = 26)
    assert(appended == 7 && deleted == 26, s"($appended, $deleted)")
    val want = derive(spark.read.format("graft").load(src))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = spark.read.format("graft").load(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want,
      "derived table diverged: the spanning window lost appended survivors")
    assert(got.map(_._1) ==
      ((0L until 90L) ++ (116L to 129L)).filter(_ % 2 == 0))
  }
}
