package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZoneMapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("range filter on sorted data skips page groups and stays correct") {
    val dir = "/tmp/graft-test/zonemap"
    // 100k rows sorted by k -> page zone maps are tight, 13 pages at 8192
    spark.range(100000).selectExpr("id as k", "id * 2 as v", "cast(id as double) / 7 as d")
      .orderBy("k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)

    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val hit = g.filter(col("k") >= 90000 && col("k") < 95000)
    assert(hit.count() == 5000)
    val skipped = GraftMetrics.pageGroupsSkipped.get()
    val read = GraftMetrics.pageGroupsRead.get()
    assert(skipped >= 10, s"expected >=10 skipped page groups, got $skipped (read=$read)")
    assert(read <= 3, s"expected <=3 read page groups, got $read")

    // values, not just counts
    assert(hit.agg(sum(col("v"))).head.getLong(0) == (90000L until 95000L).map(_ * 2).sum)

    // double-domain predicate
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("d") < 10.0).count() == 70)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

    // equality that matches nothing -> everything skipped
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("k") === -5).count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() == 0)
  }

  test("a session that only calls read.format(graft) gets element pushdown") {
    val dir = "/tmp/graft-test/zonemap-elem-fresh"
    spark.range(1000).selectExpr("id", "array(id, id + 1) AS arr").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val fresh = spark.newSession()
    val hit = fresh.read.format("graft").load(dir).filter(array_contains(col("arr"), lit(500L)))
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("element["), "element predicate missing from the scan description:\n" + plan)
    assert(hit.count() == 2)
  }

  test("array_contains prunes on element-leaf zone maps via the pushdown rule") {
    val dir = "/tmp/graft-test/zonemap-elem"
    // arrays whose elements track the sort key: page p holds elements in a
    // narrow range, so an element probe prunes all but one page group
    spark.range(100000)
      .selectExpr("id", "array(id * 3, id * 3 + 1, id * 3 + 2) AS arr",
        "array(format_string('w%08d', id), format_string('w%08d', id + 1)) AS toks")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    // long-element probe
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val hit = g.filter(array_contains(col("arr"), lit(150000L)))
    assert(hit.queryExecution.executedPlan.toString.contains("element["),
      "element predicate missing from the scan description:\n" +
        hit.queryExecution.executedPlan.toString)
    assert(hit.count() == 1) // id = 50000
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
      s"long element probe should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    assert(GraftMetrics.pageGroupsRead.get() <= 2)

    // string-element probe
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(array_contains(col("toks"), "w00000007")).count() == 2) // ids 6 and 7
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)
    assert(GraftMetrics.pageGroupsRead.get() <= 2)

    // probe outside every page -> everything skipped
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(array_contains(col("arr"), lit(-1L))).count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() == 0)

    // element_at / arr[i] equality goes through the same existence bound —
    // but ONLY when the accessor cannot throw: under ANSI (failOnError)
    // an out-of-bounds index errors, and pruning must never decide whether
    // a query errors, so the rule gates these on !failOnError
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      GraftMetrics.pageGroupsSkipped.set(0)
      GraftMetrics.pageGroupsRead.set(0)
      assert(g.filter(element_at(col("arr"), 1) === 150000L).count() == 1)
      assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
        s"element_at probe should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")

      // arr[i] sugar (GetArrayItem) prunes identically
      GraftMetrics.pageGroupsSkipped.set(0)
      GraftMetrics.pageGroupsRead.set(0)
      assert(g.filter(col("arr").getItem(0) === 150000L).count() == 1)
      assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

      // IN-list probe: pages skip only when they exclude EVERY value
      GraftMetrics.pageGroupsSkipped.set(0)
      GraftMetrics.pageGroupsRead.set(0)
      assert(g.filter(element_at(col("arr"), 1).isin(150000L, 270000L)).count() == 2)
      assert(GraftMetrics.pageGroupsSkipped.get() >= 9,
        s"element IN probe should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)

    // map accessor: m[k] = v prunes on BOTH the key leaf (k absent from
    // the page) and the value leaf (v absent from the page). GetMapValue
    // is null-safe in EVERY mode (SPARK-40066), so this pruning stays on
    // under ANSI — unlike element_at(m, k), which throws on a missing key
    // there and only pushes when it cannot throw
    val dirM = "/tmp/graft-test/zonemap-map"
    spark.range(100000)
      .selectExpr("id", "map(concat('k', cast(id % 4 as string)), id * 5) AS m")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dirM)
    val gm = spark.read.format("graft").load(dirM)
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(gm.filter(col("m").getItem("k0") === 200000L).count() == 1) // id 40000
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
      s"map value probe should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    // a key no page holds -> everything skipped via the key leaf
    GraftMetrics.pageGroupsRead.set(0)
    assert(gm.filter(col("m").getItem("zz") === 5L).count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() == 0)
    // m[k] IN (...) prunes on the value leaf (null-safe, so under ANSI too)
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(gm.filter(col("m").getItem("k0").isin(200000L, 400000L)).count() == 2)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 9,
      s"map value IN probe should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")

    // soundness on unsorted arrays: pruning must never drop matches, and a
    // conjunct the rule can't compile must not break the one it can
    val dir2 = "/tmp/graft-test/zonemap-elem-unsorted"
    spark.range(20000)
      .selectExpr("id", "array(cast(hash(id) as bigint) % 1000) AS arr")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir2)
    val g2 = spark.read.format("graft").load(dir2)
    val expected = spark.range(20000)
      .selectExpr("id", "array(cast(hash(id) as bigint) % 1000) AS arr")
      .filter(array_contains(col("arr"), lit(7L)) && col("id") % 2 === 0).count()
    assert(g2.filter(array_contains(col("arr"), lit(7L)) && col("id") % 2 === 0)
      .count() == expected)

    // ANSI gate: element_at/arr[i] THROW on out-of-bounds/missing-key under
    // ansi mode, and a pruned page group never evaluates its rows — whether
    // a query errors must not depend on page layout, so a throwing accessor
    // never pushes. array_contains and m[k] (both error-free) still push.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val ansiPlan = g.filter(element_at(col("arr"), 1) === 150000L)
        .queryExecution.executedPlan.toString
      assert(!ansiPlan.contains("element["),
        s"throwing accessor pushdown must not fire under ANSI mode:\n$ansiPlan")
      val ansiArr = g.filter(col("arr").getItem(0) === 150000L)
        .queryExecution.executedPlan.toString
      assert(!ansiArr.contains("element["),
        s"throwing arr[i] pushdown must not fire under ANSI mode:\n$ansiArr")
      val containsPlan = g.filter(array_contains(col("arr"), lit(150000L)))
        .queryExecution.executedPlan.toString
      assert(containsPlan.contains("element["),
        s"array_contains pushdown should stay on under ANSI mode:\n$containsPlan")
      val mapPlan = gm.filter(col("m").getItem("k0") === 200000L)
        .queryExecution.executedPlan.toString
      assert(mapPlan.contains("element["),
        s"null-safe m[k] pushdown should stay on under ANSI mode:\n$mapPlan")
      // try_element_at cannot throw, so it keeps pruning under ANSI
      val tryPlan = g.filter(expr("try_element_at(arr, 1) = 150000L"))
        .queryExecution.executedPlan.toString
      assert(tryPlan.contains("element["),
        s"try_element_at pushdown should stay on under ANSI mode:\n$tryPlan")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("sortby write layout yields >90% page-group pruning on a range probe") {
    val dir = "/tmp/graft-test/zonemap-sortby"
    // write UNSORTED input through the sortby layout option: the write path
    // range-partitions + sorts, so the on-disk zone maps are tight even
    // though the source arrives shuffled
    spark.range(200000)
      .selectExpr("cast(hash(id) as bigint) AS noise", "id AS k", "id * 7 AS v")
      .orderBy("noise") // scramble input order
      .write.format("graft").option("sortby", "k").option("maxrowsperfile", "50000")
      .mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val hit = g.filter(col("k") >= 100000 && col("k") < 101000)
    assert(hit.count() == 1000)
    assert(hit.agg(sum(col("v"))).head.getLong(0) ==
      (100000L until 101000L).map(_ * 7).sum)
    val skipped = GraftMetrics.pageGroupsSkipped.get()
    val read = GraftMetrics.pageGroupsRead.get()
    assert(read + skipped > 0)
    val frac = skipped.toDouble / (skipped + read)
    assert(frac > 0.9, s"sortby layout should prune >90% of page groups, " +
      s"got skipped=$skipped read=$read (${(frac * 100).round}%)")
  }

  test("bloom filters prune equality probes on UNSORTED data") {
    val dir = "/tmp/graft-test/zonemap-bloom"
    // hash-scrambled order: min/max zone maps span ~the full domain on
    // every page, so only the blooms can prune equality probes
    spark.range(200000)
      .selectExpr("cast(hash(id) as bigint) AS noise", "id AS k",
        "format_string('v%08d', id) AS s",
        "array(format_string('t%08d', id)) AS toks")
      .orderBy("noise").drop("noise").coalesce(1)
      .write.format("graft")
      .option("bloomfilter", "k,s,toks.element")
      .mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    // long equality: present value reads ~1 page, absent value reads none
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("k") === 123456L).count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 20,
      s"bloom should prune unsorted long equality, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("k") === 987654321L).count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() <= 2, // fp-rate slack
      s"absent long probe read ${GraftMetrics.pageGroupsRead.get()} page groups")

    // string equality + IN set
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("s") === "v00123456").count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 20)
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("s").isin("v00000007", "v00199999", "nope")).count() == 2)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 15,
      s"IN-set should prune via blooms, skipped=${GraftMetrics.pageGroupsSkipped.get()}")

    // element probe through the pushdown rule hits the element leaf's bloom
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(array_contains(col("toks"), "t00054321")).count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 20,
      s"element bloom should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")

    // a bloom-less table of the same data prunes nothing on these probes
    val dir2 = "/tmp/graft-test/zonemap-nobloom"
    spark.read.format("graft").load(dir).write.format("graft")
      .mode("overwrite").save(dir2)
    val g2 = spark.read.format("graft").load(dir2)
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g2.filter(col("k") === 123456L).count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() == 0,
      "unsorted min/max should not have pruned — bloom was the active layer")
  }

  test("pruning never drops matching rows on unsorted data") {
    val dir = "/tmp/graft-test/zonemap-unsorted"
    spark.range(50000).selectExpr("cast(hash(id) as bigint) as k", "id as v")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)
    val expected = spark.range(50000).selectExpr("cast(hash(id) as bigint) as k", "id as v")
      .filter(col("k") > 0).count()
    assert(g.filter(col("k") > 0).count() == expected)
  }

  test("string zone maps prune pages and stay correct") {
    val dir = "/tmp/graft-test/zonemap-str"
    spark.range(100000)
      .selectExpr("id", "format_string('k%08d', id) AS s",
        "concat('averylongcommonprefix_', format_string('%08d', id)) AS long_s")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("s") === "k00000005").count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
      s"string equality should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    assert(GraftMetrics.pageGroupsRead.get() <= 2)

    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("s") >= "k00090000").count() == 10000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("s").startsWith("k00001")).count() == 100000 / 100)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

    // IN-set over strings
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("s").isin("k00000001", "k00000002")).count() == 2)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

    // >16-byte values share a truncated prefix: bounds must stay sound
    // (counts exact) even when pruning degrades
    assert(g.filter(col("long_s") === "averylongcommonprefix_00000005").count() == 1)
    assert(g.filter(col("long_s") < "averylongcommonprefix_00001000").count() == 1000)
    // probe below/above the whole range prunes everything
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("s") === "a").count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() == 0)
  }

  test("decimal128 zone maps prune pages; footer min/max exact") {
    val dir = "/tmp/graft-test/zonemap-dec"
    // unscaled values ~ id * 1e20 exceed 64 bits -> genuine i128 stats
    spark.range(100000)
      .selectExpr("id",
        "CAST(CAST(id AS DECIMAL(18,4)) * 10000000000000000 AS DECIMAL(38,4)) AS big")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val hi = g.filter(org.apache.spark.sql.functions.col("big") >=
      lit(new java.math.BigDecimal("900000000000000000000.0000")))
    assert(hi.count() == 10000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
      s"decimal >= should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")

    // footer-only min/max on an i128 column is exact (untruncated bounds)
    val mm = g.agg(min(col("big")).as("lo"), max(col("big")).as("hi"))
    val r = mm.head()
    assert(r.getDecimal(0).toPlainString == "0.0000")
    assert(r.getDecimal(1).toPlainString == "999990000000000000000.0000")
  }

  test("NaN pages are never pruned for predicates NaN satisfies") {
    val dir = "/tmp/graft-test/zonemap-nan"
    // rows 9000+ are NaN; sorted so they cluster in the tail pages
    spark.range(10000).selectExpr("id",
        "CASE WHEN id >= 9000 THEN cast('NaN' AS DOUBLE) ELSE cast(id AS DOUBLE) / 100.0 END AS d")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    // Spark orders NaN above every value: all 1000 NaN rows match > bound
    // even though every page's non-NaN max is tiny
    assert(g.filter(col("d") > 1e9).count() == 1000)
    assert(g.filter(col("d") >= 50.0).count() == 5000) // 4000 finite + 1000 NaN
    // NaN = NaN is true in Spark
    assert(g.filter(col("d") === Double.NaN).count() == 1000)
    // NaN never satisfies < — pruning on non-NaN min must still work
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("d") < 10.0).count() == 1000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 1, "finite < bound should still prune")
  }

  test("runtime join-key filters prune fact pages (DPP analogue)") {
    val factDir = "/tmp/graft-test/rtf-fact"
    val dimDir = "/tmp/graft-test/rtf-dim"
    // fact sorted by key -> tight zone maps; dim filter selects a narrow key band
    spark.range(200000).selectExpr("id AS fk", "id * 2 AS v")
      .orderBy("fk").coalesce(1)
      .write.format("graft").mode("overwrite").save(factDir)
    spark.range(1000).selectExpr("id + 150000 AS k", "id % 7 AS cat")
      .coalesce(1).write.format("graft").mode("overwrite").save(dimDir)

    // runtime filtering is opt-in (default off: the planned pruning subquery
    // costs more than it saves when the delivered IN-set degrades to `true`)
    val fact = spark.read.format("graft").option("runtimefilter", "true").load(factDir)
    val dim = spark.read.format("graft").load(dimDir).filter(col("cat") === 3)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val joined = fact.join(dim.hint("broadcast"), col("fk") === col("k"))
    val n = joined.count()
    assert(n == dim.count(), s"join row count $n")
    val skipped = GraftMetrics.pageGroupsSkipped.get()
    val read = GraftMetrics.pageGroupsRead.get()
    assert(skipped >= 10,
      s"runtime filter should prune fact pages outside the dim key range: skipped=$skipped read=$read")
  }

  test("runtime join-key filters prune whole partition DIRECTORIES") {
    val factDir = "/tmp/graft-test/rtf-part-fact"
    val dimDir = "/tmp/graft-test/rtf-part-dim"
    // fact hive-partitioned by region (4 dirs); the dim filter keeps keys of
    // ONE region, so the runtime IN-set must skip the other three dirs
    // before any footer IO — their page groups appear in NEITHER metric
    spark.range(400000)
      .selectExpr("id AS fk", "cast(id % 4 as string) AS region", "id * 2 AS v")
      .write.format("graft").option("partitionby", "region")
      .option("maxrowsperfile", "50000").mode("overwrite").save(factDir)
    // Spark injects the runtime pruning subquery only when the build side
    // carries a selective predicate — the filter keeps exactly region '2'
    spark.range(100)
      .selectExpr("cast(id % 4 as string) AS rk",
        "CASE WHEN id % 4 = 2 THEN 'y' ELSE 'n' END AS sel")
      .coalesce(1).write.format("graft").mode("overwrite").save(dimDir)
    val fact = spark.read.format("graft").option("runtimefilter", "true").load(factDir)
    val dim = spark.read.format("graft").load(dimDir).filter(col("sel") === "y")

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val n = fact.join(dim.hint("broadcast"), col("region") === col("rk")).count()
    assert(n == 400000L / 4 * 25)
    val observed = GraftMetrics.pageGroupsSkipped.get() + GraftMetrics.pageGroupsRead.get()
    // one region = 2 files x 2 page groups (+ the dim's own pages); the
    // other three regions' dirs must never even reach footer parsing
    assert(observed <= 26,
      s"directory pruning failed: $observed page groups observed (expected <= one region's)")
  }

  test("OR / NOT predicates prune pages (skip only when both branches skip)") {
    val dir = "/tmp/graft-test/zonemap-or"
    spark.range(100000).selectExpr("id AS k", "cast(id AS double) AS d")
      .orderBy("k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    // two narrow bands at opposite ends: the middle pages skip both branches
    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    val n = g.filter(col("k") < 1000 || col("k") >= 99000).count()
    assert(n == 2000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 8,
      s"OR of two bands should skip middle pages: skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    assert(GraftMetrics.pageGroupsRead.get() <= 4)

    // OR across two different columns
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(col("k") < 500 || col("d") >= 99500.0).count() == 1000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 8, "cross-column OR should prune")

    // NOT rewrites to the complementary comparison
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.filter(!(col("k") < 99000)).count() == 1000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10, "NOT(<) should prune like >=")

    // Not(EqualTo) on a constant page: all-same-value pages are skippable
    val cdir = "/tmp/graft-test/zonemap-noteq"
    spark.range(50000).selectExpr("(CASE WHEN id < 40000 THEN 7 ELSE id END) AS k")
      .orderBy("k").coalesce(1).write.format("graft").mode("overwrite").save(cdir)
    val gc = spark.read.format("graft").load(cdir)
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(gc.filter(col("k") =!= 7).count() == 10000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 3,
      "constant pages should skip under NOT(=)")
  }

  test("composites decompose per-file; Not over nested EqualTo prunes; NaN IN-sets stay sound") {
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, In, LessThan, Not, Or}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import graft.format.PageMeta
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType), StructField("d", DoubleType)))

    // AND spanning two fields, file carries only 'a': still prunes on 'a'
    val (_, preds) = ZoneMapFilter.compile(schema,
      Array(And(GreaterThan("a", 100L), LessThan("b", 50L))))
    assert(preds.length == 1)
    val restricted = ZoneMapFilter.restrict(preds(0), Set("a"))
    assert(restricted.isDefined, "AND branch on a present field must survive restriction")
    assert(restricted.get.canSkip(_ => PageMeta(0, 100, 1.toByte, 0L, 90L, 0)),
      "a in [0,90] fails a>100: skip")
    assert(ZoneMapFilter.restrict(preds(0), Set.empty[String]).isEmpty)

    // OR with an unresolvable branch must NOT survive (could match anything)
    val (_, orPreds) = ZoneMapFilter.compile(schema,
      Array(Or(GreaterThan("a", 100L), LessThan("b", 50L))))
    assert(ZoneMapFilter.restrict(orPreds(0), Set("a")).isEmpty)

    // invert has an EqualTo case: Not(Or(a = 7, a > 1000)) compiles and
    // skips a constant a=7 page, keeps a [5,9] page
    val (_, notPreds) = ZoneMapFilter.compile(schema,
      Array(Not(Or(EqualTo("a", 7L), GreaterThan("a", 1000L)))))
    assert(notPreds.length == 1, "Not(Or(=, >)) should compile")
    assert(notPreds(0).canSkip(_ => PageMeta(0, 100, 1.toByte, 7L, 7L, 0)))
    assert(!notPreds(0).canSkip(_ => PageMeta(0, 100, 1.toByte, 5L, 9L, 0)))

    // >64-value double IN-set: NaN-free compiles to an envelope; a NaN probe
    // keeps the finite-value envelope but never skips NaN-bearing pages
    val clean = (1 to 70).map(i => java.lang.Double.valueOf(i * 1.0)).toArray[Any]
    val (_, inPreds) = ZoneMapFilter.compile(schema, Array(In("d", clean)))
    assert(inPreds.length == 1)
    def dblPage(kind: Int, lo: Double, hi: Double) = PageMeta(0, 100, kind.toByte,
      java.lang.Double.doubleToLongBits(lo), java.lang.Double.doubleToLongBits(hi), 0)
    assert(inPreds(0).canSkip(_ => dblPage(2, 200.0, 300.0)))
    val withNaN = clean :+ java.lang.Double.valueOf(Double.NaN).asInstanceOf[Any]
    val (_, nanPreds) = ZoneMapFilter.compile(schema, Array(In("d", withNaN)))
    assert(nanPreds.length == 1, "NaN probe must not disable the finite envelope")
    assert(nanPreds(0).canSkip(_ => dblPage(2, 200.0, 300.0)),
      "NaN-free page outside the finite envelope still skips")
    assert(!nanPreds(0).canSkip(_ => dblPage(3, 200.0, 300.0)),
      "NaN-bearing page matches the dropped NaN probe: never skip")
    // all probes NaN: every NaN-free double page skips, NaN pages don't
    val allNaN = Array.fill[Any](65)(java.lang.Double.valueOf(Double.NaN))
    val (_, onlyNan) = ZoneMapFilter.compile(schema, Array(In("d", allNaN)))
    assert(onlyNan.length == 1)
    assert(onlyNan(0).canSkip(_ => dblPage(2, 1.0, 2.0)))
    assert(!onlyNan(0).canSkip(_ => dblPage(3, 1.0, 2.0)))
  }

  test("struct sub-field predicates prune pages") {
    val dir = "/tmp/graft-test/zonemap-nested"
    spark.range(100000)
      .selectExpr("id", "named_struct('k', id, 'tag', concat('t', cast(id % 5 AS STRING))) AS s")
      .orderBy("id").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsSkipped.set(0)
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("s.k") >= 90000 && col("s.k") < 95000).count() == 5000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10,
      s"nested long predicate should prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    assert(GraftMetrics.pageGroupsRead.get() <= 3)

    // nested predicate + nested pruning together: only s.k's leaf is read,
    // and only its matching pages
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(g.selectExpr("s.k").filter(col("s.k") === 12345).count() == 1)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 10)

    // probe outside the whole range prunes everything
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.filter(col("s.k") === -1).count() == 0)
    assert(GraftMetrics.pageGroupsRead.get() == 0)
  }

  test("timestamp range pruning on sorted events") {
    val dir = "/tmp/graft-test/zonemap-ts"
    spark.sql("SELECT timestamp_millis(1700000000000 + id * 60000) AS ts, id FROM range(50000)")
      .orderBy("ts").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)
    GraftMetrics.pageGroupsSkipped.set(0)
    val n = g.filter(col("ts") < lit("2023-11-15 00:00:00").cast("timestamp")).count()
    assert(n == spark.read.format("graft").load(dir)
      .collect().count(r => r.getTimestamp(0).getTime < 1700006400000L) || n > 0)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 1, "timestamp pages should be skipped")
  }

  test("the V2 Predicate lane is the active pushdown path and compiles zone maps") {
    // SupportsPushDownV2Filters is now the ONLY filter lane (Spark
    // prefers v1 when both exist, which would leave V2 dormant) — pin
    // both that planning routes predicates through it and that the
    // translate-to-v1 step feeds the same zone-map compile: a regression
    // to a no-pushdown scan would read every page group.
    val dir = "/tmp/graft-test/zonemap-v2lane"
    spark.range(100000).selectExpr("id as k", "cast(id as string) as s")
      .orderBy("k").coalesce(1)
      .write.format("graft").mode("overwrite").save(dir)
    val df = spark.read.format("graft").load(dir)
      .filter(col("k") >= 90000 && col("s").startsWith("9"))
    // the optimized plan's scan must report the predicates (pushedPredicates
    // surfaces in the scan description under the V2 lane)
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("zonemap"), s"zone maps must compile: $scanDesc")
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(df.count() == 10000)
    assert(GraftMetrics.pageGroupsSkipped.get() >= 5,
      "V2-pushed predicates must skip page groups")
  }
}
