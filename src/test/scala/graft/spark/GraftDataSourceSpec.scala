package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def roundTrip(table: String): Unit = {
    val dir = s"/tmp/graft-test/$table"
    // Tables.parquet normalizes events.ts adaptively (int64-nanos vs
    // timestamp[us] testdata generations) — share that logic here
    val src = graft.Tables.parquet(spark, sf, table)
    src.write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq, "schema mismatch")
    assert(back.count() == src.count(), "row count mismatch")
    // cast to string for set-compare robustness (arrays not comparable via except)
    val a = src.selectExpr("cast(to_json(struct(*)) as string) as r")
    val b = back.selectExpr("cast(to_json(struct(*)) as string) as r")
    assert(a.exceptAll(b).count() == 0, s"$table: rows in parquet missing from graft")
    assert(b.exceptAll(a).count() == 0, s"$table: extra rows in graft")
  }

  for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")) {
    test(s"parquet->graft->read round-trip: $t") { roundTrip(t) }
  }

  test("column pruning reaches the scan") {
    val dir = "/tmp/graft-test/lineitem"
    val df = spark.read.format("graft").load(dir).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(df.count() > 0)
  }

  test("aggregate over graft matches parquet (q1 skeleton)") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft-test/lineitem"
    val g = spark.read.format("graft").load(dir)
    val p = spark.read.parquet(s"$sf/lineitem.parquet")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sq"), avg("l_extendedprice").as("ap"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect().toSeq.map(_.toString)
    assert(agg(g) == agg(p))
  }

  test("forced codecs still round-trip") {
    for (codec <- Seq("none", "zstd", "snappy")) {
      val dir = s"/tmp/graft-test/orders-$codec"
      val src = spark.read.parquet(s"$sf/orders.parquet")
      src.write.format("graft").option("compression", codec)
        .option("pagesize", "512").mode("overwrite").save(dir)
      val back = spark.read.format("graft").load(dir)
      assert(back.count() == src.count())
      assert(back.exceptAll(src).count() == 0)
    }
  }

  test("failed overwrite leaves previous table contents intact") {
    val dir = "/tmp/graft-test/atomic-overwrite"
    spark.range(1000).selectExpr("id", "id * 2 AS v")
      .write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 1000)

    // overwrite job that fails mid-task must not delete the old files
    intercept[Exception] {
      spark.range(500)
        .selectExpr("id", "CASE WHEN id = 250 THEN raise_error('boom') ELSE cast(id AS string) END AS v")
        .write.format("graft").mode("overwrite").save(dir)
    }
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 1000, "old table lost by failed overwrite")
    assert(back.selectExpr("sum(v)").head.getLong(0) == (0L until 1000L).map(_ * 2).sum)

    // a successful overwrite swaps cleanly and leaves no stale files
    spark.range(200).selectExpr("id", "id * 3 AS v")
      .write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 200)
  }

  test("differential fuzz: filtered graft reads equal parquet on the same data") {
    import org.apache.spark.sql.functions._
    // mixed types incl. NaN, nulls, negative decimals, strings; written
    // unsorted so zone maps are loose and every page survives some filters
    val df = spark.range(60000).selectExpr(
      "id",
      "cast(hash(id) as bigint) AS k",
      "CASE WHEN id % 97 = 0 THEN NULL ELSE cast(hash(id, 1) % 1000 as int) END AS small",
      "CASE WHEN id % 31 = 0 THEN cast('NaN' as double) WHEN id % 13 = 0 THEN NULL ELSE cast(hash(id, 2) % 100000 as double) / 7 END AS d",
      "concat('s', cast(hash(id, 3) % 500 as string)) AS s",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE cast(cast(hash(id, 4) as decimal(25,4)) * 10000000 as decimal(38,4)) END AS dec",
      "timestamp_millis(1700000000000 + (hash(id, 5) % 100000) * 1000) AS ts")
    val gdir = "/tmp/graft-test/fuzz-graft"
    val pdir = "/tmp/graft-test/fuzz-parquet"
    df.repartition(3).write.format("graft").option("pagesize", "1024")
      .mode("overwrite").save(gdir)
    df.repartition(3).write.mode("overwrite").parquet(pdir)
    val g = spark.read.format("graft").load(gdir)
    val p = spark.read.parquet(pdir)

    val filters: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      _.filter(col("k") > 0),
      _.filter(col("small") === 250),
      _.filter(col("small").isNull),
      _.filter(col("d") >= 5000.0), // matches NaN rows too (Spark NaN ordering)
      _.filter(col("d") === Double.NaN),
      _.filter(col("d") < 100.0),
      _.filter(col("s") === "s42"),
      _.filter(col("s") > "s8"),
      _.filter(col("s").startsWith("s12")),
      _.filter(col("dec") < lit(new java.math.BigDecimal("0.0000"))),
      _.filter(col("dec").isNotNull && col("dec") > lit(new java.math.BigDecimal("10000000000000000.0000"))),
      _.filter(col("ts") < lit("2023-11-15 00:00:00").cast("timestamp")),
      _.filter(col("k").isin(1L, -1L, 42L) || col("small").isin(1, 999)))

    filters.zipWithIndex.foreach { case (f, i) =>
      val a = f(g).selectExpr("cast(to_json(struct(*)) as string) r")
      val b = f(p).selectExpr("cast(to_json(struct(*)) as string) r")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"filter #$i diverged between graft and parquet")
    }
  }

  test("differential fuzz: element/map accessor predicates with blooms equal parquet") {
    import org.apache.spark.sql.functions._
    // arrays (incl. empty + null elements) and two-entry maps, written with
    // element blooms and tiny pages so pruning decisions fire constantly;
    // every accessor the GraftElementPushdown rule handles is compared
    // against parquet on identical data, under BOTH ansi settings
    val df = spark.range(40000).selectExpr(
      "id",
      """CASE WHEN id % 50 = 0 THEN array()
         ELSE transform(sequence(0, cast(pmod(hash(id), 5) as int)),
              j -> CASE WHEN pmod(hash(id, j, 1), 17) = 0 THEN NULL
                   ELSE cast(pmod(hash(id, j), 300) as bigint) END) END AS arr""",
      """map(concat('k', cast(pmod(hash(id, 7), 5) as string)),
             cast(pmod(hash(id, 8), 1000) as bigint),
             'fixed', id) AS m""",
      """transform(sequence(0, cast(pmod(hash(id, 9), 3) as int)),
           j -> concat('w', cast(pmod(hash(id, 10, j), 200) as string))) AS toks""")
    val gdir = "/tmp/graft-test/fuzz-elem-graft"
    val pdir = "/tmp/graft-test/fuzz-elem-parquet"
    df.repartition(3).write.format("graft").option("pagesize", "512")
      .option("bloomfilter", "arr.element,toks.element,m.key,m.value")
      .mode("overwrite").save(gdir)
    df.repartition(3).write.mode("overwrite").parquet(pdir)
    val g = spark.read.format("graft").load(gdir)
    val p = spark.read.parquet(pdir)

    def check(tag: String)(fs: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame]): Unit =
      fs.zipWithIndex.foreach { case (f, i) =>
        val a = f(g).selectExpr("cast(to_json(struct(*)) as string) r")
        val b = f(p).selectExpr("cast(to_json(struct(*)) as string) r")
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
          s"$tag filter #$i diverged between graft and parquet")
      }

    // error-free accessors: valid under any ansi setting
    val safe: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      _.filter(array_contains(col("arr"), 42L)),
      _.filter(array_contains(col("arr"), -1L)), // matches nothing
      _.filter(array_contains(col("toks"), "w7")),
      _.filter(col("m").getItem("k1") === 500L),
      _.filter(col("m").getItem("zz") === 5L), // key absent everywhere
      _.filter(expr("try_element_at(arr, 1) = 100L")),
      _.filter(array_contains(col("arr"), 7L) && col("id") % 3 === 0),
      _.filter(col("m").getItem("k2").isin(5L, 17L, 250L)),
      // > inSetConversionThreshold values exercises the hashed InSet path
      _.filter(col("m").getItem("k0").isin((0L to 12L).map(_ * 37): _*)))
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      check("ansi-on")(safe)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      // throwing-capable accessors join in once ansi is off (they return
      // null out-of-bounds there, and their pushdown is active)
      check("ansi-off")(safe ++ Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        _.filter(col("arr").getItem(0) === 10L),
        _.filter(element_at(col("arr"), 2) === 150L),
        _.filter(element_at(col("m"), "fixed") === 1234L)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("differential fuzz: nested sub-field projections equal parquet") {
    import org.apache.spark.sql.functions._
    // nullable structs, nested structs, array-of-struct — every pruning
    // shape the projected-filler code paths handle, compared against
    // parquet on identical data under the same projections and filters
    val df = spark.range(30000).selectExpr(
      "id",
      """named_struct(
          'a', CASE WHEN id % 7 = 0 THEN NULL ELSE cast(id % 1000 AS INT) END,
          'b', concat('b', cast(id % 50 AS STRING)),
          'inner', named_struct('x', id * 3,
            'y', CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id AS DOUBLE) / 3 END)) AS s""",
      """CASE WHEN id % 11 = 0 THEN NULL
         ELSE named_struct('p', id % 17, 'q', concat('q', cast(id % 9 AS STRING))) END AS ns""",
      """transform(sequence(0, cast(id % 4 AS INT)),
         i -> named_struct('u', id + i, 'w', concat('w', cast(i AS STRING)))) AS arr""")
    val gdir = "/tmp/graft-test/fuzz-nested-graft"
    val pdir = "/tmp/graft-test/fuzz-nested-parquet"
    df.repartition(2).write.format("graft").option("pagesize", "1024")
      .mode("overwrite").save(gdir)
    df.repartition(2).write.mode("overwrite").parquet(pdir)
    val g = spark.read.format("graft").load(gdir)
    val p = spark.read.parquet(pdir)

    val cases: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      _.selectExpr("s.a"),
      _.selectExpr("s.inner.x"),
      _.selectExpr("s.inner.y"),
      _.selectExpr("ns.p", "ns.q"),
      _.selectExpr("arr.u"),
      _.selectExpr("arr.w", "id"),
      _.selectExpr("id", "s.b", "ns.p"),
      _.selectExpr("s.inner.x", "arr.u"),
      // nested predicate + pruned projection together
      _.filter(col("s.inner.x") > 45000).selectExpr("s.a", "s.inner.x"),
      _.filter(col("ns.p") === 3).selectExpr("ns.q"),
      // pruned and full reads of the same struct in one plan
      _.selectExpr("s.a AS pa", "s AS full_s"))

    cases.zipWithIndex.foreach { case (f, i) =>
      val a = f(g).selectExpr("cast(to_json(struct(*)) as string) r")
      val b = f(p).selectExpr("cast(to_json(struct(*)) as string) r")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"nested case #$i diverged between graft and parquet")
    }
  }

  test("asof snapshot reads pin the manifest history") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft-test/asof"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val hconf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    def lastManifestT: Long = {
      val fs = tableDir.getFileSystem(hconf)
      GraftManifest.list(fs, tableDir).map(GraftManifest.nameT).max
    }
    spark.range(100).selectExpr("id AS k").write.format("graft").mode("append").save(dir)
    val t1 = lastManifestT
    Thread.sleep(5)
    spark.range(100, 250).selectExpr("id AS k").write.format("graft").mode("append").save(dir)
    val t2 = lastManifestT
    Thread.sleep(5)
    spark.range(250, 300).selectExpr("id AS k").write.format("graft").mode("append").save(dir)

    def at(t: Long) = spark.read.format("graft").option("asof", t.toString).load(dir)
    assert(at(t1).count() == 100)
    assert(at(t2).count() == 250)
    assert(at(System.currentTimeMillis()).count() == 300)
    assert(spark.read.format("graft").load(dir).count() == 300)
    // snapshot semantics survive pushdown paths: filters and aggregates
    // must see the pinned file set, not the live directory (the footer-only
    // agg scan declines asof reads)
    assert(at(t1).filter(col("k") >= 50).count() == 50)
    val agg = at(t2).agg(count(lit(1)).as("n"), max(col("k")).as("mx"))
    assert(!agg.queryExecution.executedPlan.collectLeaves().mkString
      .contains("footer-only"), "agg pushdown must decline asof snapshots")
    val r = agg.head()
    assert(r.getLong(0) == 250 && r.getLong(1) == 249L)
  }

  test("since incremental reads scan only the commit window") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft-test/since"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val hconf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    def lastManifestT: Long = {
      val fs = tableDir.getFileSystem(hconf)
      GraftManifest.list(fs, tableDir).map(GraftManifest.nameT).max
    }
    spark.range(100).selectExpr("id AS k").write.format("graft").mode("append").save(dir)
    val t1 = lastManifestT
    Thread.sleep(5)
    spark.range(100, 250).selectExpr("id AS k").write.format("graft").mode("append").save(dir)
    val t2 = lastManifestT
    Thread.sleep(5)
    spark.range(250, 300).selectExpr("id AS k").write.format("graft").mode("append").save(dir)

    def since(t: Long) = spark.read.format("graft").option("since", t.toString).load(dir)
    // everything after the first commit
    assert(since(t1).count() == 200)
    assert(since(t1).agg(min(col("k"))).head().getLong(0) == 100L)
    // only the third commit
    assert(since(t2).count() == 50)
    // closed window (t1, t2]: exactly the second commit
    val window = spark.read.format("graft")
      .option("since", t1.toString).option("asof", t2.toString).load(dir)
    assert(window.count() == 150)
    assert(window.agg(min(col("k")), max(col("k"))).head() ==
      org.apache.spark.sql.Row(100L, 249L))
    // nothing new since the last commit
    assert(since(System.currentTimeMillis()).count() == 0)
    // filters apply inside the window; agg pushdown declines since reads
    assert(since(t1).filter(col("k") < 150).count() == 50)
    val agg = since(t1).agg(count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.collectLeaves().mkString
      .contains("footer-only"), "agg pushdown must decline incremental reads")
    // a stream cannot take a batch window option (failure is raised on
    // the stream thread, surfaced by processAllAvailable)
    val q = spark.readStream.format("graft")
      .schema(spark.read.format("graft").load(dir).schema)
      .option("since", t1.toString).load(dir)
      .writeStream.format("noop").start()
    val e = intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    assert(e.getMessage.contains("since"))
  }

  test("hive-style partitioned writes prune whole directories on pushed filters") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft-test/partitioned"
    spark.range(30000)
      .selectExpr("id", "concat('L', cast(id % 5 AS STRING)) AS lang", "id % 3 AS bucket")
      .repartition(4)
      .write.format("graft").option("partitionby", "lang,bucket")
      .mode("overwrite").save(dir)

    // layout: lang=Lx/bucket=y/ subdirs
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.count(_.startsWith("lang=")) == 5, subdirs.mkString(","))

    val g = spark.read.format("graft").load(dir)
    assert(g.count() == 30000)

    // equality filter reads only the matching directory's files
    GraftMetrics.filesPruned.set(0)
    assert(g.filter(col("lang") === "L3").count() == 6000)
    assert(GraftMetrics.filesPruned.get() > 0, "lang=L3 filter should prune directories")

    // composite across both partition levels
    GraftMetrics.filesPruned.set(0)
    assert(g.filter(col("lang") === "L1" && col("bucket") === 2).count() ==
      (0 until 30000).count(i => i % 5 == 1 && i % 3 == 2))
    val prunedBoth = GraftMetrics.filesPruned.get()
    GraftMetrics.filesPruned.set(0)
    assert(g.filter(col("lang") === "L1").count() == 6000)
    assert(prunedBoth > GraftMetrics.filesPruned.get(),
      "two-level filter should prune more files than one-level")

    // IN-set and non-partition filters stay correct
    assert(g.filter(col("lang").isin("L0", "L4")).count() == 12000)
    assert(g.filter(col("id") < 100).count() == 100)

    // values round-trip exactly (partition cols live in the data)
    assert(g.filter(col("lang") === "L2" && col("id") === 12).count() == 1)

    // sentinel-colliding and empty/null partition values stay injective
    val sdir = "/tmp/graft-test/partitioned-sentinel"
    spark.sql("""SELECT * FROM VALUES (1, '__EMPTY__'), (2, ''), (3, CAST(NULL AS STRING)),
        (4, '__HIVE_DEFAULT_PARTITION__') AS t(id, c)""")
      .coalesce(1).write.format("graft").option("partitionby", "c").mode("overwrite").save(sdir)
    val sg = spark.read.format("graft").load(sdir)
    assert(sg.count() == 4)
    assert(sg.filter(col("c") === "__EMPTY__").count() == 1)
    assert(sg.filter(col("c") === "").count() == 1)
    assert(sg.filter(col("c").isNull).count() == 1)
    assert(sg.filter(col("c") === "__HIVE_DEFAULT_PARTITION__").count() == 1)

    // streaming reads the partitioned layout through the commit manifest
    val schema = g.schema
    val stream = spark.readStream.format("graft").schema(schema).load(dir)
      .groupBy().count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("graft_part_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_part_stream").head().getLong(0) == 30000L)
    } finally q.stop()
  }

  test("additive schema evolution: old files null-fill newly added columns") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val dir = "/tmp/graft-test/schema-evolve"
    spark.range(100).selectExpr("id AS k", "id * 2 AS a")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    spark.range(100, 200).selectExpr("id AS k", "id * 2 AS a", "concat('n', id) AS b")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val schema = new StructType()
      .add("k", LongType, nullable = false)
      .add("a", LongType, nullable = false)
      .add("b", StringType, nullable = true)
    val g = spark.read.format("graft").schema(schema).load(dir)
    assert(g.count() == 200)
    assert(g.filter(col("b").isNull).count() == 100)
    assert(g.filter(col("b") === "n150").count() == 1)
    assert(g.filter(col("k") >= 150 && col("b").isNotNull).count() == 50)
    assert(g.agg(org.apache.spark.sql.functions.sum(col("a"))).head.getLong(0) ==
      (0L until 200L).map(_ * 2).sum)
    // footer-only aggregate pushdown across mixed-schema files: the old
    // file contributes 0 to COUNT(k-range of b) and null to MIN/MAX
    val mm = g.agg(
      org.apache.spark.sql.functions.count(col("k")),
      org.apache.spark.sql.functions.min(col("k")),
      org.apache.spark.sql.functions.max(col("k"))).head
    assert(mm.getLong(0) == 200 && mm.getLong(1) == 0 && mm.getLong(2) == 199)
  }

  test("schema drift across files fails loudly, not silently") {
    val dir = "/tmp/graft-test/schema-drift"
    spark.range(100).selectExpr("id AS k", "cast(id as string) AS v")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    // second file: same column names, different type for v
    spark.range(100).selectExpr("id AS k", "cast(id as double) AS v")
      .coalesce(1).write.format("graft").mode("append").save(dir)
    val e = intercept[Exception] {
      spark.read.format("graft").load(dir).collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("schema drift")),
      s"expected a schema-drift error, got: ${causes(e).mkString(" | ")}")
  }

  test("SQL DDL: CREATE TABLE USING graft + INSERT + SELECT") {
    import org.apache.spark.sql.functions.col
    val dir = "/tmp/graft-test/sql-ddl"
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.range(500).selectExpr("id AS k", "concat('v', id) AS v")
      .write.format("graft").mode("overwrite").save(dir)
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_sql_t").head.getLong(0) == 500)
      assert(spark.sql("SELECT v FROM graft_sql_t WHERE k = 42").head.getString(0) == "v42")
      spark.sql("INSERT INTO graft_sql_t SELECT id AS k, concat('w', id) AS v FROM range(500, 600)")
      assert(spark.table("graft_sql_t").count() == 600)
      assert(spark.table("graft_sql_t").filter(col("v") === "w550").count() == 1)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("limit pushdown plans only leading pages") {
    import org.apache.spark.sql.functions.col
    val dir = "/tmp/graft-test/limit-pushdown"
    // ~13 page groups (default 8192 rows/page), one file
    spark.range(100000).selectExpr("id AS k", "concat('v', id) AS v")
      .coalesce(1).write.format("graft").mode("overwrite").save(dir)
    val g = spark.read.format("graft").load(dir)

    GraftMetrics.pageGroupsRead.set(0)
    assert(g.limit(10).collect().length == 10)
    assert(GraftMetrics.pageGroupsRead.get() <= 1,
      s"limit(10) should read one page group, read=${GraftMetrics.pageGroupsRead.get()}")

    // limit spanning several pages still returns exactly n rows
    GraftMetrics.pageGroupsRead.set(0)
    assert(g.limit(20000).collect().length == 20000)
    val read = GraftMetrics.pageGroupsRead.get()
    assert(read >= 3 && read <= 4, s"limit(20000) should read ~3 page groups, read=$read")

    // values are the true leading rows (file order), not arbitrary ones
    assert(g.limit(3).select("k").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))

    // a residual filter blocks the limit pushdown path; results stay exact
    assert(g.filter(col("k") >= 99990).limit(5).collect().length == 5)

    // explain surfaces the pushed limit on the scan node
    val plan = g.limit(7).queryExecution.executedPlan.toString
    assert(plan.contains("limit=7"), s"scan description should show limit, got:\n$plan")
  }

  test("sortby/clusterby write options shape the layout for zone-map pruning") {
    import org.apache.spark.sql.functions.col
    // shuffled input: every page spans nearly the whole key range
    val src = spark.range(100000)
      .selectExpr("cast(pmod(id * 2654435761, 100000) as bigint) AS k", "id AS v")

    val unsortedDir = "/tmp/graft-test/layout-unsorted"
    src.coalesce(2).write.format("graft").mode("overwrite").save(unsortedDir)
    val sortedDir = "/tmp/graft-test/layout-sorted"
    src.write.format("graft").option("sortby", "k").mode("overwrite").save(sortedDir)

    def pagesRead(dir: String): Long = {
      GraftMetrics.pageGroupsRead.set(0)
      val n = spark.read.format("graft").load(dir)
        .filter(col("k") >= 40000 && col("k") < 41000).count()
      assert(n == 1000)
      GraftMetrics.pageGroupsRead.get()
    }
    val unsorted = pagesRead(unsortedDir)
    val sorted = pagesRead(sortedDir)
    assert(sorted < unsorted,
      s"sorted layout must prune more: sorted=$sorted unsorted=$unsorted")
    assert(sorted <= 2, s"a 1% range over a sorted table should hit ~1 page, got $sorted")

    // global sort: per-file key ranges are disjoint
    val hconf = spark.sessionState.newHadoopConf()
    val ranges = GraftUtil.listDataFiles(sortedDir, hconf).map { f =>
      val df = spark.read.format("graft").load(f.getPath.toString)
      val r = df.selectExpr("min(k)", "max(k)").head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"sortby alone must produce disjoint file ranges, got $ranges")
      case _ =>
    }

    // clusterby: a key never spans two files
    val clusteredDir = "/tmp/graft-test/layout-clustered"
    spark.range(100000).selectExpr("pmod(id, 97) AS k", "id AS v")
      .write.format("graft").option("clusterby", "k").mode("overwrite").save(clusteredDir)
    val keySets = GraftUtil.listDataFiles(clusteredDir, hconf).map { f =>
      spark.read.format("graft").load(f.getPath.toString)
        .select("k").distinct().collect().map(_.getLong(0)).toSet
    }
    assert(keySets.map(_.size).sum == 97,
      s"clusterby must co-locate keys: per-file key sets overlap (${keySets.map(_.size)})")
  }

  test("cache and exchange reuse fire across separate reads of one table") {
    // df.cache() keys on the canonicalized plan, whose DataSourceV2Relation
    // includes the Table object — without structural GraftTable equality a
    // cached frame is recomputed on every reuse (and self-join exchange
    // reuse never fires)
    val dir = "/tmp/graft-test/reuse-lineitem"
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.format("graft").mode("overwrite").save(dir)
    val cached = spark.read.format("graft").load(dir).groupBy("l_returnflag").count()
    cached.cache()
    try {
      cached.collect()
      // a SECOND read of the same path must hit the cached frame
      val again = spark.read.format("graft").load(dir).groupBy("l_returnflag").count()
      // string check descends through AdaptiveSparkPlanExec (collect does not)
      val plan = again.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"second read of the same graft path missed the cache: $plan")
    } finally cached.unpersist()

    // scan-level structural equality: identical static config compares equal,
    // different projections/paths do not
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.get
    val s1 = scanOf(spark.read.format("graft").load(dir).select("l_orderkey"))
    val s2 = scanOf(spark.read.format("graft").load(dir).select("l_orderkey"))
    val s3 = scanOf(spark.read.format("graft").load(dir).select("l_quantity"))
    assert(s1 == s2 && s1.hashCode == s2.hashCode, "identical scans must be equal")
    assert(s1 != s3, "different projections must not compare equal")
  }

  test("strawboat alias works") {
    val dir = "/tmp/graft-test/region-alias"
    spark.read.parquet(s"$sf/region.parquet")
      .write.format("strawboat").mode("overwrite").save(dir)
    assert(spark.read.format("strawboat").load(dir).count() ==
      spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("bad write options fail at plan time, not as retried task failures") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    def rejected(opt: (String, String), needle: String): Unit = {
      val e = intercept[Exception] {
        df.write.format("graft").option(opt._1, opt._2)
          .mode("overwrite").save("/tmp/graft-test/badopts")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)), s"for $opt got: $e")
    }
    rejected("partitionby" -> "nope", "not in the table schema")
    rejected("pagesize" -> "0", "must be positive")
    rejected("maxrowsperfile" -> "-5", "must be positive")
    val dfd = Seq((1L, 2.5)).toDF("k", "d")
    val e = intercept[Exception] {
      dfd.write.format("graft").option("partitionby", "d")
        .mode("overwrite").save("/tmp/graft-test/badopts")
    }
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(e).exists(_.contains("cannot apply to column")))
  }

  test("high-cardinality partitionby write saturates, evicts, and round-trips") {
    val dir = "/tmp/graft-test/highcard-part"
    // 400 distinct keys through a 100-row aggregate buffer on one task:
    // the saturation flush-all/evict path runs repeatedly; file-name
    // sequence numbers must survive eviction (no collisions, no data loss)
    spark.range(2000).selectExpr("id % 400 as k", "id as v")
      .coalesce(1)
      .write.format("graft")
      .option("partitionby", "k").option("maxrowsperfile", "100")
      .mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 2000L)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) ==
      (0L until 2000L).sum)
    assert(back.select("k").distinct().count() == 400L)
  }

  test("input_file_name() resolves over graft scans like parquet") {
    val dir = "/tmp/graft-test/input-file-name"
    spark.range(4000).selectExpr("id AS k")
      .write.format("graft").option("maxrowsperfile", "1000")
      .mode("overwrite").save(dir)
    val names = spark.read.format("graft").load(dir)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0)).toSet
    val listed = GraftUtil
      .listDataFiles(dir, spark.sessionState.newHadoopConf())
      .map(_.getPath.toString).toSet
    assert(names == listed,
      s"every row must carry its source file: got $names vs $listed")
  }
}
