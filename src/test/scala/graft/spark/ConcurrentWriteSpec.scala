package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer commit arbitration: every batch/streaming commit's
  * publish sequence (sort-marker decision, renames, manifest, retire
  * phase) runs under the table mutex, so simultaneous appends to one
  * directory linearize instead of interleaving on the shared table
  * metadata. The 1000-executor reality this pins: many ingest jobs
  * target one table; without arbitration the sort marker's
  * read-clear-republish window could certify a whole-table sort over a
  * concurrent unsorted append's files (silently wrong top-N answers).
  */
class ConcurrentWriteSpec extends AnyFunSuite {
  private val base = "/tmp/graft-test/concwrite"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // if a lock-separation bug ever makes commits contend with the
      // maintenance mutex, fail in seconds, not the 10-minute default
      .config("spark.hadoop.graft.maint.lock.wait.ms", "8000")
      .getOrCreate()
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def inParallel(n: Int)(f: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = (0 until n).map(i => pool.submit(new Runnable {
        override def run(): Unit = f(i)
      }))
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("8 simultaneous appends to one directory linearize: no lost commits") {
    val dir = s"$base/appends"
    inParallel(8) { i =>
      spark.range(i * 1000, (i + 1) * 1000)
        .selectExpr("id AS k", "id * 2 AS v")
        .write.format("graft").mode("append").save(dir)
    }
    val g = spark.read.format("graft").load(dir)
    assert(g.count() == 8000)
    assert(g.agg(org.apache.spark.sql.functions.countDistinct(
      org.apache.spark.sql.functions.col("k"))).head.getLong(0) == 8000,
      "every commit's rows visible exactly once")
    // one manifest per commit — none lost, none doubled
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val manifests = GraftManifest.list(fs, new org.apache.hadoop.fs.Path(dir))
    assert(manifests.size == 8, s"expected 8 commit manifests, got $manifests")
    // the commit lock released cleanly (no stale lock file pinning the table)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftTableLock.CommitLockName)))
  }

  test("racing sorted and unsorted appends can never strand a sort marker") {
    // the exact interleave arbitration exists for: an unsorted append
    // clears the whole-table sort marker; a concurrent sorted append that
    // read the marker BEFORE the clear must not republish it over the
    // unsorted files. Under the commit lock the marker decision and the
    // publish are one atomic section, so whatever order the commits land
    // in, the final state with any unsorted append present is NO marker.
    val dir = s"$base/marker"
    spark.range(0, 1000).selectExpr("id AS k", "id AS v")
      .write.format("graft").option("sortby", "k").mode("overwrite").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(GraftSortMarker.read(fs, new org.apache.hadoop.fs.Path(dir)).nonEmpty)
    inParallel(6) { i =>
      if (i % 2 == 0)
        spark.range(1000 + i * 100, 1100 + i * 100)
          .selectExpr("id AS k", "id AS v")
          .write.format("graft").option("sortby", "k").mode("append").save(dir)
      else // hash-scrambled: genuinely unsorted on k
        spark.range(2000 + i * 100, 2100 + i * 100)
          .selectExpr("cast(hash(id) as bigint) AS k", "id AS v")
          .write.format("graft").mode("append").save(dir)
    }
    assert(GraftSortMarker.read(fs, new org.apache.hadoop.fs.Path(dir)).isEmpty,
      "unsorted appends landed — a surviving whole-table sort marker would " +
        "certify wrong top-N pushdowns")
    assert(spark.read.format("graft").load(dir).count() == 1600)
  }

  test("a long-held maintenance lock does not block ingest commits") {
    // compaction holds the MAINTENANCE mutex for its whole (possibly
    // hour-long) run; commits take a SEPARATE commit mutex — drip ingest
    // into a table under maintenance must proceed, not queue or fail
    val dir = s"$base/mainthold"
    spark.range(0, 100).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val heldL = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      GraftTableLock.withLock(fs, p, conf, "fake-compact") {
        heldL.countDown(); release.await()
      })
    holder.start()
    assert(heldL.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      spark.range(100, 200).selectExpr("id AS k")
        .write.format("graft").mode("append").save(dir)
      assert(spark.read.format("graft").load(dir).count() == 200)
    } finally { release.countDown(); holder.join() }
  }

  test("dir values round-trip: escaped bytes AND legacy raw non-ASCII") {
    // new writers escape at the UTF-8 byte level; dirs written by OLDER
    // writers may hold raw non-ASCII chars — unescape must pass those
    // through as chars, never crush them through toByte into U+FFFD
    // (which would silently prune the dir on every equality probe)
    for (v <- Seq("plain", "a=b/c%d", "café", "😀x", "")) {
      val esc = GraftUtil.escapePathValue(v)
      assert(esc.forall(c => c < 0x7f), s"escaped '$v' must be ASCII: $esc")
      assert(GraftUtil.unescapePathValue(esc) == v, s"round-trip of '$v'")
    }
    assert(GraftUtil.unescapePathValue("café") == "café",
      "legacy raw non-ASCII dir value must pass through unchanged")
    assert(GraftUtil.unescapePathValue("😀") == "😀")
    assert(GraftUtil.unescapePathValue("%2F%2F") == "//")
    // a FOREIGN dir's raw '%' (not followed by valid hex) passes through
    // instead of crashing the listing with NumberFormatException
    assert(GraftUtil.unescapePathValue("95%off") == "95%off")
    assert(GraftUtil.unescapePathValue("end%") == "end%")
  }

  test("maintenance-vs-commit fuzz: compact/replaceWhere/DML/appends race clean across 12 seeds") {
    // the r18 lock split (commit mutex separate from maintenance mutex,
    // UPDATE/MERGE marker clears riding the commit mutex) is new and
    // subtle — this fuzzes the full interleaving surface with seeded
    // random start offsets. Five actors per seed on one fresh table:
    //   - replaceWhere on partition A (maintenance → commit lock order)
    //   - two appends to partition B (commit lock only)
    //   - deleteWhere / updateWhere on partition C (maintenance lock)
    //   - compact / compactPartition(B) (maintenance lock, inner commit)
    // Whatever order the locks hand out, the final state is fully
    // deterministic per partition: A = exactly the replacement, B =
    // initial + both appends, C = initial minus deletions (or with
    // updates applied). Any resurrection, lost commit, or cross-lock
    // marker race breaks one of these.
    import org.apache.spark.sql.functions.{col, lit}
    val wh = s"$base/fuzz-wh"
    spark.conf.set("spark.sql.catalog.cwf", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cwf.warehouse", wh)
    // 5 contending lock holders at seconds each: give waiters real room
    // (the suite default 8000 ms is for the commits-never-wait test).
    // BARE key, not spark.hadoop.-prefixed: newHadoopConf copies session
    // confs under their full name, so only the bare key reaches the
    // lock's conf.getLong at runtime (the prefixed form works at
    // session-BUILD time only — a prefixed set here silently leaves the
    // 8 s wait live, and a cold loaded run can time out spuriously)
    spark.conf.set("graft.maint.lock.wait.ms", "120000")
    try {
      for (seed <- 0 until 12) {
        val t = s"cwf.db.fz$seed"
        val dir = s"$wh/db/fz$seed"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, day STRING) PARTITIONED BY (day)")
        spark.range(0, 50).selectExpr("id AS k", "id AS v", "'A' AS day").writeTo(t).append()
        spark.range(100, 150).selectExpr("id AS k", "id AS v", "'B' AS day").writeTo(t).append()
        spark.range(200, 300).selectExpr("id AS k", "id AS v", "'C' AS day").writeTo(t).append()
        val rnd = new scala.util.Random(seed)
        val delays = Array.fill(5)(rnd.nextInt(120))
        val doUpdate = seed % 2 == 1
        val doPartScope = seed % 2 == 0
        inParallel(5) { i =>
          Thread.sleep(delays(i))
          i match {
            case 0 => // replaceWhere partition A with a known 20-row set
              spark.range(1000, 1020).selectExpr("id AS k", "id AS v", "'A' AS day")
                .writeTo(t).overwrite(col("day") === "A")
            case 1 =>
              spark.range(2000, 2030).selectExpr("id AS k", "id AS v", "'B' AS day")
                .writeTo(t).append()
            case 2 =>
              spark.range(5000, 5030).selectExpr("id AS k", "id AS v", "'B' AS day")
                .writeTo(t).append()
            case 3 =>
              if (doUpdate)
                GraftMaintenance.updateWhere(spark, dir,
                  col("day") === "C" && col("k") % 7 === 0,
                  Map("v" -> lit(-1L)))
              else
                GraftMaintenance.deleteWhere(spark, dir,
                  col("day") === "C" && col("k") % 7 === 0)
            case 4 =>
              if (doPartScope)
                GraftMaintenance.compactPartition(spark, dir,
                  Map("day" -> "B"), targetFiles = 1)
              else
                GraftMaintenance.compact(spark, dir, targetFiles = 2)
          }
        }
        val g = spark.read.format("graft").load(dir)
        val a = g.filter(col("day") === "A").select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(a == (1000L until 1020L).toSeq,
          s"seed $seed: partition A must be exactly the replacement, got ${a.size} rows")
        val b = g.filter(col("day") === "B").select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(b == ((100L until 150L) ++ (2000L until 2030L) ++ (5000L until 5030L)).sorted,
          s"seed $seed: partition B lost or doubled rows (${b.size})")
        val cVictims = (200L until 300L).filter(_ % 7 == 0)
        if (doUpdate) {
          val cNeg = g.filter(col("day") === "C" && col("v") === -1L)
            .select("k").collect().map(_.getLong(0)).sorted.toSeq
          assert(cNeg == cVictims, s"seed $seed: update victims wrong: ${cNeg.size}")
          assert(g.filter(col("day") === "C").count() == 100, s"seed $seed: C row count")
        } else {
          val c = g.filter(col("day") === "C").select("k")
            .collect().map(_.getLong(0)).sorted.toSeq
          assert(c == (200L until 300L).filterNot(_ % 7 == 0),
            s"seed $seed: delete left wrong C rows (${c.size})")
        }
        // both mutexes released cleanly
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftTableLock.LockName)),
          s"seed $seed: stale maintenance lock")
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftTableLock.CommitLockName)),
          s"seed $seed: stale commit lock")
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    } finally spark.conf.unset("graft.maint.lock.wait.ms")
  }

  test("snapshot-exact scan reads pinned files only; a missing pin fails loudly") {
    // the compact/compactPartition duplicate window closed in r19 rests
    // on this contract: option("snapshotfiles") plans EXACTLY the pinned
    // set (a post-pin append is invisible), and a pinned file that
    // vanished is a hard error, never a silent smaller read — the caller
    // retires this same set, so reading less would publish row loss
    val dir = s"$base/snapscan"
    spark.range(0, 300).selectExpr("id AS k")
      .repartition(3).write.format("graft").mode("overwrite").save(dir)
    val pinned = GraftUtil.listDataFiles(dir, conf).map(_.getPath.toString)
    assert(pinned.size == 3)
    spark.range(1000, 1100).selectExpr("id AS k")
      .write.format("graft").mode("append").save(dir)
    val pinnedScan = spark.read.format("graft")
      .option("snapshotfiles", pinned.mkString("\n")).load(dir)
    assert(pinnedScan.count() == 300, "post-pin append must be invisible")
    assert(pinnedScan.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("k"))).head.getLong(0) == 299)
    assert(spark.read.format("graft").load(dir).count() == 400,
      "unpinned scan sees everything")
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("snapshotfiles", (pinned :+ s"$dir/gone.graft").mkString("\n"))
        .load(dir).count()
    }
    assert(e.getMessage != null)
  }

  test("compact never duplicates an append that lands after its snapshot") {
    // deterministic drive of the exact race the fuzz hit: the append
    // commits in compact's afterRewrite window (rewrite published, retire
    // not yet run). Pre-fix, the rewrite's dir-listing scan could also
    // have read a file landing before its job planned; the snapshot-
    // pinned scan makes the appended rows appear EXACTLY once whatever
    // the interleave.
    val dir = s"$base/compactdup"
    spark.range(0, 1000).selectExpr("id AS k")
      .repartition(8).write.format("graft").mode("overwrite").save(dir)
    GraftMaintenance.compactImpl(spark, dir, targetFiles = 2, Map.empty, () => {
      spark.range(5000, 5100).selectExpr("id AS k")
        .write.format("graft").mode("append").save(dir)
    })
    val ks = spark.read.format("graft").load(dir).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((0L until 1000L) ++ (5000L until 5100L)).sorted,
      s"append must survive compaction exactly once (got ${ks.size} rows)")
  }

  test("compact racing a whole-table truncating overwrite never resurrects rows") {
    // both take the maintenance mutex, so they serialize — and in EITHER
    // order the final content is the overwrite's 30 rows: truncate-then-
    // compact compacts the new table; compact-then-truncate retires the
    // compactor's output whole. A surviving pre-truncate row means the
    // rewrite republished retired content (the exact resurrection the
    // lock order + marker guards exist to prevent).
    import org.apache.spark.sql.functions.col
    spark.conf.set("graft.maint.lock.wait.ms", "120000")
    try {
      for (seed <- 0 until 4) {
        val dir = s"$base/truncfuzz$seed"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        spark.range(0, 2000).selectExpr("id AS k", "id AS v")
          .repartition(8).write.format("graft").mode("overwrite").save(dir)
        val rnd = new scala.util.Random(42 + seed)
        val d0 = rnd.nextInt(100); val d1 = rnd.nextInt(100)
        inParallel(2) { i =>
          if (i == 0) {
            Thread.sleep(d0)
            GraftMaintenance.compact(spark, dir, targetFiles = 2)
          } else {
            Thread.sleep(d1)
            spark.range(90000, 90030).selectExpr("id AS k", "id AS v")
              .write.format("graft").mode("overwrite").save(dir)
          }
        }
        val ks = spark.read.format("graft").load(dir).select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(ks == (90000L until 90030L).toSeq,
          s"seed $seed: final table must be exactly the overwrite " +
            s"(got ${ks.size} rows, min ${ks.headOption}, max ${ks.lastOption})")
        assert(spark.read.format("graft").load(dir)
          .filter(col("k") < 90000).count() == 0,
          s"seed $seed: pre-truncate rows resurrected")
      }
    } finally spark.conf.unset("graft.maint.lock.wait.ms")
  }

  test("a concurrent append and a truncating overwrite both land whole") {
    val dir = s"$base/trunc"
    spark.range(0, 500).selectExpr("id AS k")
      .write.format("graft").mode("overwrite").save(dir)
    inParallel(2) { i =>
      if (i == 0)
        spark.range(10000, 10200).selectExpr("id AS k")
          .write.format("graft").mode("append").save(dir)
      else
        spark.range(0, 300).selectExpr("id AS k")
          .write.format("graft").mode("overwrite").save(dir)
    }
    // either serialization order is legal; both leave a consistent table:
    // overwrite-then-append = 500, append-then-overwrite = 300
    val n = spark.read.format("graft").load(dir).count()
    assert(n == 500 || n == 300, s"inconsistent post-race count $n")
  }

  /** Fabricate the crashed-swap pair state: run a real CoW delete (which
    * publishes `F-del<hash>.graft` and retires `F`), then copy the saved
    * original bytes back to F's path — exactly what a crash between the
    * output rename and the original delete leaves on disk. */
  private def fabricateCrashedSwap(dir: String): (org.apache.hadoop.fs.Path,
      org.apache.hadoop.fs.FileSystem) = {
    import org.apache.spark.sql.functions.col
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      .write.format("graft").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val orig = GraftUtil.listDataFilesRaw(dir, conf) match {
      case Seq(one) => one.getPath
      case other => fail(s"expected 1 staged file, got $other")
    }
    val saved = new org.apache.hadoop.fs.Path(s"$dir-saved-orig")
    org.apache.hadoop.fs.FileUtil.copy(fs, orig, fs, saved, false, conf)
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 50)
    val twin = GraftUtil.listDataFilesRaw(dir, conf) match {
      case Seq(one) => one.getPath
      case other => fail(s"expected 1 survivor file, got $other")
    }
    assert(GraftUtil.survivorNamePattern.matcher(twin.getName).matches(),
      s"survivor $twin should carry the -del<hash> marker")
    org.apache.hadoop.fs.FileUtil.copy(fs, saved, fs, orig, true, conf)
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 2,
      "pair state: original + published twin both on disk")
    (orig, fs)
  }

  test("a published rewrite twin shadows its original: no reader double-counts a crashed swap") {
    val dir = s"$base/twinshadow"
    fabricateCrashedSwap(dir)
    // plain scan, footer-direct COUNT(*) (agg pushdown) and page stats all
    // plan from the twin-deduped listing: 50 post-delete rows, never 150
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == 50, "scan must read the published twin only")
    assert(df.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.col("k"))).head.getLong(0) ==
      (50L until 100L).map(_ * 1L).sum,
      "the surviving rows are the POST-delete rows (twin wins, not original)")
  }

  test("maintenance rolls a crashed swap forward before planning its own snapshot") {
    val dir = s"$base/twinroll"
    val (orig, fs) = fabricateCrashedSwap(dir)
    GraftMaintenance.compact(spark, dir, 1)
    assert(!fs.exists(orig),
      "roll-forward must physically retire the shadowed original — a " +
        "compact that rewrote only the twin would resurrect the original's " +
        "pre-delete rows the moment the twin was retired")
    assert(spark.read.format("graft").load(dir).count() == 50)
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 1)
  }

  test("a truncating overwrite retires a shadowed original too") {
    val dir = s"$base/twintrunc"
    val (orig, fs) = fabricateCrashedSwap(dir)
    spark.range(1000, 1010).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft").mode("overwrite").save(dir)
    assert(!fs.exists(orig),
      "truncate plans its retire set from the RAW listing — deleting only " +
        "the twin would un-shadow the original and leak pre-overwrite rows")
    assert(spark.read.format("graft").load(dir).count() == 10)
  }

  test("a replaceWhere overwrite rolls a crashed swap forward before planning") {
    import org.apache.spark.sql.functions.col
    // the overwrite commit PRE-ACQUIRES the maintenance lock directly, so
    // its nested deleteWhereScoped reads as an inner acquisition and skips
    // the roll-forward — the write path must run it itself, or its rewrite
    // of the twin leaves the shadowed original to resurrect afterwards
    val dir = s"$base/twinreplace"
    val (orig, fs) = fabricateCrashedSwap(dir)
    spark.conf.set("spark.sql.catalog.cw", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cw.warehouse", base)
    spark.range(60, 70).selectExpr("id AS k", "id * 2 AS v")
      .writeTo("cw.twinreplace").overwrite(col("k").between(60, 69))
    assert(!fs.exists(orig),
      "the overwrite's lock acquisition must complete the crashed swap")
    // survivors: twin rows 50-59 and 70-99 plus the replaced slice 60-69
    val got = spark.read.format("graft").load(dir)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (50L until 100L).toSeq,
      s"resurrected or lost rows: ${got.take(10).toSeq} ...")
  }

  test("readers racing a compaction never observe duplicated rows") {
    val dir = s"$base/compactrace"
    spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v").repartition(8)
      .write.format("graft").mode("append").save(dir)
    // compaction REARRANGES rows without changing them, so with the
    // two-phase visibility markers every read during the rewrite must see
    // exactly 4000 rows: the old snapshot before the flip, the new one
    // after, never old+new (pre-guard a reader listing between the output
    // commit and the retire saw up to 8000)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val c = spark.read.format("graft").load(dir).count()
          if (c != 4000L) violations.add(c)
        } catch { case _: Throwable => () }
      }
    })
    reader.start()
    try GraftMaintenance.compact(spark, dir, 2)
    finally { stop.set(true); reader.join(30000) }
    assert(violations.isEmpty,
      s"racing reads observed inconsistent counts: $violations")
    assert(spark.read.format("graft").load(dir).count() == 4000)
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 2)
  }

  test("a compaction crash before the flip heals by roll-forward; readers consistent throughout") {
    import org.apache.spark.sql.functions.col
    val dir = s"$base/compactcrash"
    spark.range(0, 1000).selectExpr("id AS k").repartition(4)
      .write.format("graft").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    // drive compact to the exact crash point: output committed (tagged
    // manifest + p1 + p2 standing), retire never reached
    val boom = intercept[RuntimeException] {
      GraftMaintenance.compactImpl(spark, dir, 1, Map.empty,
        () => throw new RuntimeException("injected crash before flip"))
    }
    assert(boom.getMessage.contains("injected"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P1)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P2)))
    // crash state: OLD files + committed output both on disk, yet readers
    // see the old snapshot exactly-once (p1 hides the tagged output)
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 5,
      "4 old files + 1 committed compacted file on disk")
    assert(spark.read.format("graft").load(dir).count() == 1000)
    assert(spark.read.format("graft").load(dir)
      .filter(col("k") >= 0).count() == 1000, "plain scan path consistent too")
    // any maintenance op heals: committed rewrite rolls FORWARD
    GraftMaintenance.deleteWhere(spark, dir, col("k") < 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P2)))
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 1,
      "heal must finish the retire: only the compacted file survives")
    assert(spark.read.format("graft").load(dir).count() == 1000)
  }

  test("a listing that races a compaction's flip is taken again") {
    val dir = s"$base/listrace"
    spark.range(0, 1000).selectExpr("id AS k").repartition(4)
      .write.format("graft").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val old = GraftUtil.listDataFiles(dir, conf).map(_.getPath)
    // output committed under p1 + p2, the old files still on disk
    intercept[RuntimeException] {
      GraftMaintenance.compactImpl(spark, dir, 1, Map.empty,
        () => throw new RuntimeException("stop before the flip"))
    }
    // the first listing sees old + new; before the reader gets to the
    // markers, the rewrite flips, retires the old files and drops p2
    var listings = 0
    val visible = GraftRewriteGuard.visible(fs, tableDir) {
      val listed = GraftUtil.listDataFiles(dir, conf)
      listings += 1
      if (listings == 1) {
        assert(listed.size == 5)
        GraftRewriteGuard.flip(fs, tableDir)
        GraftUtil.deleteAll(fs, old)
        GraftRewriteGuard.clear(fs, tableDir)
      }
      listed
    }
    assert(listings == 2)
    assert(visible.map(_.getPath.getName) ==
      GraftUtil.listDataFiles(dir, conf).map(_.getPath.getName))
    assert(visible.size == 1 && !old.contains(visible.head.getPath),
      s"the reader must see the compacted file alone: $visible")
  }

  test("an uncommitted rewrite's markers roll back; a crashed retire completes from p2") {
    import org.apache.spark.sql.functions.col
    val dir = s"$base/compactroll"
    spark.range(0, 500).selectExpr("id AS k").repartition(2)
      .write.format("graft").mode("append").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    // markers up, but the tagged output never committed (crash mid-write):
    // readers see the intact old table; heal rolls BACK
    GraftRewriteGuard.publishP1(fs, tableDir, "cmpdeadbeef")
    GraftRewriteGuard.publishP2(fs, tableDir,
      GraftUtil.listDataFilesRaw(dir, conf).map(_.getPath.getName))
    assert(spark.read.format("graft").load(dir).count() == 500)
    GraftMaintenance.compact(spark, dir, 1) // heal runs at lock entry
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P1)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, GraftRewriteGuard.P2)))
    assert(spark.read.format("graft").load(dir).count() == 500)
    assert(GraftUtil.listDataFilesRaw(dir, conf).size == 1, "rollback then compact")
  }

  test("readers racing a row-level delete never observe duplicated rows") {
    import org.apache.spark.sql.functions.col
    val dir = s"$base/readrace"
    spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v").repartition(8)
      .write.format("graft").mode("append").save(dir)
    val rowsBefore = 4000L
    val rowsAfter = 4000L - 800L // k % 5 == 0 deleted
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          // per-file swaps commit independently, so a racing reader may see
          // any MIX of pre/post files — but twin dedup means never both
          // halves of one swap, so the count stays within [after, before].
          // (A file deleted between listing and open fails the read — the
          // dir-listing-table behavior shared with plain parquet dirs; only
          // successful reads assert.)
          val c = spark.read.format("graft").load(dir).count()
          if (c > rowsBefore || c < rowsAfter) violations.add(c)
        } catch { case _: Throwable => () }
      }
    })
    reader.start()
    try GraftMaintenance.deleteWhere(spark, dir, col("k") % 5 === 0)
    finally { stop.set(true); reader.join(30000) }
    assert(violations.isEmpty,
      s"racing reads observed out-of-range counts: $violations — a count " +
        s"above $rowsBefore means a swap's original AND twin were read together")
    assert(spark.read.format("graft").load(dir).count() == rowsAfter)
  }
}
