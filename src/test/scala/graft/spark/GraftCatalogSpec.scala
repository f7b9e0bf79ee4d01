package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pure-SQL lifecycle through the path-backed TableCatalog: CREATE /
  * INSERT INTO / SELECT / INSERT OVERWRITE / RENAME / DROP, plus the
  * interop contract — a table the path writer produced is queryable by
  * name with zero registration, and a catalog table remains an ordinary
  * graft directory for path users.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private val wh = "/tmp/graft-test/catalog-wh"

  lazy val spark: SparkSession = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graftcat", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.graftcat.warehouse", wh)
      .getOrCreate()
  }

  test("CREATE / INSERT / SELECT / OVERWRITE / RENAME / DROP round-trip") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.people (id BIGINT, name STRING)")
    assert(spark.sql("SELECT * FROM graftcat.db.people").count() == 0L,
      "empty table must be selectable off the schema sidecar")
    spark.sql("INSERT INTO graftcat.db.people VALUES (1, 'ada'), (2, 'bob')")
    spark.sql("INSERT INTO graftcat.db.people VALUES (3, 'eve')")
    assert(spark.sql("SELECT sum(id) FROM graftcat.db.people").collect()(0).getLong(0) == 6L)
    // the catalog table is an ordinary graft dir for path users
    val byPath = spark.read.format("graft").load(s"$wh/db/people")
    assert(byPath.count() == 3L)
    spark.sql("INSERT OVERWRITE graftcat.db.people VALUES (9, 'zed')")
    assert(spark.sql("SELECT * FROM graftcat.db.people").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // the RENAME TO target resolves RELATIVE to the table's catalog
    spark.sql("ALTER TABLE graftcat.db.people RENAME TO db.humans")
    assert(spark.sql("SELECT name FROM graftcat.db.humans").collect()(0).getString(0) == "zed")
    assert(!spark.catalog.tableExists("graftcat.db.people"))
    spark.sql("DROP TABLE graftcat.db.humans")
    assert(spark.sql("SHOW TABLES IN graftcat.db").count() == 0L)
  }

  test("a path-written table is queryable by name with zero registration") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.ext")
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .write.format("graft").mode("overwrite").save(s"$wh/ext/dropped")
    val rows = spark.sql("SELECT k, v FROM graftcat.ext.dropped ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.sql("SHOW TABLES IN graftcat.ext").collect().map(_.getString(1)).contains("dropped"))
  }

  test("CTAS works; PARTITIONED BY declares the hive layout; bad transforms rejected") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db2")
    spark.sql("CREATE TABLE graftcat.db2.squares AS SELECT id, id * id AS sq FROM range(5)")
    assert(spark.sql("SELECT sum(sq) FROM graftcat.db2.squares").collect()(0).getLong(0) == 30L)
    // identity partitioning is SUPPORTED: declared layout partitions writes
    spark.sql("CREATE TABLE graftcat.db2.bydate (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graftcat.db2.bydate SELECT id, CASE WHEN id < 3 THEN 'a' ELSE 'b' END FROM range(6)")
    val files = GraftUtil.listDataFiles(s"$wh/db2/bydate",
      spark.sessionState.newHadoopConf()).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(f => f.contains("/p=a/") || f.contains("/p=b/")),
      s"declared layout must route rows into hive dirs: ${files.take(2)}")
    // hidden-partitioning transforms are supported (PartitionTransformSpec
    // covers them in depth); a transform over an incompatible source type
    // still rejects loudly at CREATE
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db2.bad (id BIGINT, s STRING) PARTITIONED BY (days(s))")
    }
    assert(e.getMessage.contains("timestamp"), e.getMessage)
    // unsupported partition-value type: rejected at CREATE, not at write
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db2.bad2 (id BIGINT, d DOUBLE) PARTITIONED BY (d)")
    }
    assert(e2.getMessage.contains("cannot apply to column"), e2.getMessage)
  }

  test("SQL time travel: TIMESTAMP AS OF pins the manifest snapshot") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.tt")
    spark.sql("CREATE TABLE graftcat.tt.log AS SELECT id FROM range(5)")
    val dir = new org.apache.hadoop.fs.Path(s"$wh/tt/log")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val t1 = GraftManifest.list(fs, dir).map(GraftManifest.nameT).max
    Thread.sleep(5)
    spark.sql("INSERT INTO graftcat.tt.log SELECT id FROM range(100, 103)")
    assert(spark.sql("SELECT count(*) FROM graftcat.tt.log").collect()(0).getLong(0) == 8L)
    // timestamp literal at the first commit's manifest time (UTC session)
    val lit = java.time.Instant.ofEpochMilli(t1).toString.replace("T", " ").replace("Z", "")
    val asOf = spark.sql(
      s"SELECT count(*) FROM graftcat.tt.log TIMESTAMP AS OF '$lit'")
      .collect()(0).getLong(0)
    assert(asOf == 5L, s"snapshot at t1 saw $asOf rows, expected the first commit's 5")
    // VERSION AS OF pins by commit ordinal (1-based, catch-up manifests
    // don't count): v1 = CTAS (5 rows), v2 = the insert (8 rows)
    assert(spark.sql("SELECT count(*) FROM graftcat.tt.log VERSION AS OF 1")
      .head().getLong(0) == 5L)
    assert(spark.sql("SELECT count(*) FROM graftcat.tt.log VERSION AS OF 2")
      .head().getLong(0) == 8L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftcat.tt.log VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("identifier segments cannot traverse outside the warehouse") {
    // a backquoted identifier with '/' or '..' must be rejected before any
    // filesystem op — dropTable recursively deletes the resolved path, so
    // an escaped path is an arbitrary recursive delete
    val victim = new java.io.File("/tmp/graft-test/catalog-victim")
    victim.mkdirs()
    new java.io.FileWriter(victim + "/keep.txt") { write("x"); close() }
    for (bad <- Seq(
        "CREATE TABLE graftcat.db.`../catalog-victim` (id BIGINT)",
        "CREATE TABLE graftcat.`../../tmp`.t2 (id BIGINT)",
        "DROP TABLE graftcat.db.`../catalog-victim`",
        "CREATE NAMESPACE graftcat.`a/b`")) {
      val e = intercept[Exception] { spark.sql(bad) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("invalid catalog identifier segment")
          || m.contains("NoSuchNamespace") || m.contains("not found")),
        s"expected a segment-validation rejection for [$bad], got: $e")
    }
    assert(new java.io.File(victim, "keep.txt").exists(),
      "traversal attempt must not have deleted files outside the warehouse")
  }

  test("root listNamespaces excludes table dirs (empty-namespace tables)") {
    spark.sql("CREATE TABLE IF NOT EXISTS graftcat.rootlevel (id BIGINT)")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.realns")
    val namespaces = spark.sql("SHOW NAMESPACES IN graftcat")
      .collect().map(_.getString(0)).toSet
    assert(namespaces.contains("realns"))
    assert(!namespaces.contains("rootlevel"),
      s"a root-level TABLE must not be listed as a namespace: $namespaces")
    spark.sql("DROP TABLE graftcat.rootlevel")
  }

  test("pushdown works through the catalog: filters reach the graft scan") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db3")
    spark.sql("CREATE TABLE graftcat.db3.nums AS SELECT id, id % 7 AS bucket FROM range(10000)")
    val df = spark.sql("SELECT id FROM graftcat.db3.nums WHERE id = 4242")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan graft:"), s"not a graft scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(4242L))
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, nulls until written") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.evo")
    spark.sql("CREATE TABLE graftcat.evo.t AS SELECT id, id * 2 AS v FROM range(5)")
    spark.sql("ALTER TABLE graftcat.evo.t ADD COLUMN score DOUBLE")
    // old rows read back with nulls for the added column — no data rewrite
    val afterAlter = spark.sql("SELECT id, v, score FROM graftcat.evo.t ORDER BY id")
    assert(afterAlter.columns.toSeq == Seq("id", "v", "score"))
    assert(afterAlter.collect().forall(_.isNullAt(2)))
    // a write backs the column; pre-existing files keep serving nulls
    spark.sql("INSERT INTO graftcat.evo.t VALUES (100, 200, 2.5)")
    val rows = spark.sql(
      "SELECT id, score FROM graftcat.evo.t ORDER BY id").collect()
    assert(rows.length == 6)
    assert(rows.take(5).forall(_.isNullAt(1)))
    assert(rows.last.getDouble(1) == 2.5)
    // multi-column form, and ALTER on an empty (sidecar-only) table
    spark.sql("ALTER TABLE graftcat.evo.t ADD COLUMNS (tag STRING, n BIGINT)")
    assert(spark.table("graftcat.evo.t").columns.toSeq ==
      Seq("id", "v", "score", "tag", "n"))
    spark.sql("CREATE TABLE graftcat.evo.empty (id BIGINT)")
    spark.sql("ALTER TABLE graftcat.evo.empty ADD COLUMN lbl STRING")
    assert(spark.table("graftcat.evo.empty").columns.toSeq == Seq("id", "lbl"))
  }

  test("DELETE FROM routes to the row-level purge pass") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.del")
    spark.sql(
      "CREATE TABLE graftcat.del.t AS SELECT id, CAST(id % 3 AS STRING) AS tag FROM range(300)")
    spark.sql("DELETE FROM graftcat.del.t WHERE id < 100 AND tag = '1'")
    val rows = spark.sql("SELECT count(*) AS n FROM graftcat.del.t").collect()(0).getLong(0)
    // ids < 100 with id % 3 == 1: 1,4,...,97 -> 33 rows gone
    assert(rows == 267L, s"expected 267 survivors, got $rows")
    assert(spark.sql("SELECT count(*) FROM graftcat.del.t WHERE id < 100 AND tag = '1'")
      .collect()(0).getLong(0) == 0L)
    // IN / IS NULL / string predicates translate too
    spark.sql("DELETE FROM graftcat.del.t WHERE id IN (200, 201, 202)")
    assert(spark.sql("SELECT count(*) FROM graftcat.del.t").collect()(0).getLong(0) == 264L)
    // a predicate that cannot reach the source filter API is rejected, not
    // silently narrowed
    val e = intercept[Exception](
      spark.sql("DELETE FROM graftcat.del.t WHERE id % 7 = 0"))
    assert(Option(e.getMessage).exists(m =>
        m.toLowerCase.contains("delete") || m.toLowerCase.contains("translate")),
      s"expected a cannot-translate rejection, got: $e")
    // time-travel snapshots are read-only
    assert(spark.sql("SELECT count(*) FROM graftcat.del.t").collect()(0).getLong(0) == 264L)
    // TRUNCATE TABLE rides the same surface (delete-all); a second
    // TRUNCATE — and any DELETE on the now-empty table — is a no-op,
    // not a nothing-to-delete error
    spark.sql("TRUNCATE TABLE graftcat.del.t")
    assert(spark.sql("SELECT count(*) FROM graftcat.del.t").collect()(0).getLong(0) == 0L)
    spark.sql("TRUNCATE TABLE graftcat.del.t")
    spark.sql("DELETE FROM graftcat.del.t WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM graftcat.del.t").collect()(0).getLong(0) == 0L)
  }

  test("DELETE over an ALTER-added column resolves against the declared schema") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.del2")
    spark.sql("CREATE TABLE graftcat.del2.t AS SELECT id FROM range(10)")
    spark.sql("ALTER TABLE graftcat.del2.t ADD COLUMN q BIGINT")
    spark.sql("INSERT INTO graftcat.del2.t VALUES (100, 7)")
    // pre-ALTER rows carry NULL q; DELETE on that column must resolve
    spark.sql("DELETE FROM graftcat.del2.t WHERE q IS NULL")
    val rows = spark.sql("SELECT id, q FROM graftcat.del2.t").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 7L)), rows.toSeq.toString)
  }

  test("readStream.table streams a catalog table (MICRO_BATCH_READ by name)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.st")
    spark.sql("CREATE TABLE graftcat.st.ev AS SELECT id, id * 3 AS v FROM range(50)")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.table("graftcat.st.ev")
      .writeStream.foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r => out.add(r.getLong(0)))
      }.option("checkpointLocation", s"/tmp/graft-test/catalog-st-ckpt-${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      assert(out.size() == 50, s"expected 50 streamed rows, got ${out.size()}")
      // a later insert arrives as a new micro-batch (directory tailing)
      spark.sql("INSERT INTO graftcat.st.ev VALUES (100, 300)")
      q.processAllAvailable()
      assert(out.size() == 51, s"expected the insert to stream, got ${out.size()}")
      assert(out.contains(100L))
    } finally q.stop()
  }

  test("writeStream.toTable appends to a catalog table (STREAMING_WRITE by name)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.sw")
    spark.sql("CREATE TABLE graftcat.sw.sink (v BIGINT)")
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v").writeStream
      .option("checkpointLocation", s"/tmp/graft-test/catalog-sw-ckpt-${System.nanoTime()}")
      .toTable("graftcat.sw.sink")
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      in.addData(4L)
      q.processAllAvailable()
      val got = spark.sql("SELECT v FROM graftcat.sw.sink ORDER BY v")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), got.toString)
    } finally q.stop()
  }

  test("nested nullability tightening in footers is not schema drift") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.nn")
    spark.sql("CREATE TABLE graftcat.nn.t (xs ARRAY<BIGINT>)")
    // query output records containsNull=false in the footer; the declared
    // sidecar says containsNull=true — reads must keep working
    spark.sql("INSERT INTO graftcat.nn.t SELECT array(id) FROM range(3)")
    assert(spark.sql("SELECT sum(xs[0]) FROM graftcat.nn.t").collect()(0).getLong(0) == 3L)
    // and an ALTER on that table still round-trips the merged schema
    spark.sql("ALTER TABLE graftcat.nn.t ADD COLUMN tag STRING")
    assert(spark.table("graftcat.nn.t").columns.toSeq == Seq("xs", "tag"))
    assert(spark.sql("SELECT count(*) FROM graftcat.nn.t WHERE tag IS NULL")
      .collect()(0).getLong(0) == 3L)
  }

  test("ALTER TABLE rejects what immutable data files cannot express") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.evo2")
    spark.sql("CREATE TABLE graftcat.evo2.t AS SELECT id FROM range(3)")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    def rejected(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(msgs(e).exists(_.toLowerCase.contains(needle)),
        s"expected rejection containing '$needle' for [$sql], got: $e")
    }
    rejected("ALTER TABLE graftcat.evo2.t ADD COLUMN b BIGINT NOT NULL", "nullable")
    rejected("ALTER TABLE graftcat.evo2.t ADD COLUMN c BIGINT FIRST", "append")
    rejected("ALTER TABLE graftcat.evo2.t ADD COLUMN id STRING", "already exists")
    // DROP COLUMN is now metadata-only (ColumnMappingSpec covers it); what
    // stays rejected is dropping the table's ONLY column
    rejected("ALTER TABLE graftcat.evo2.t DROP COLUMN id", "only column")
    rejected("ALTER TABLE graftcat.evo2.t ALTER COLUMN id TYPE STRING", "immutable")
    // RENAME succeeds metadata-only — and the historical name can never
    // be reintroduced (the name-reuse bar that keeps name-based per-file
    // resolution sound without field ids)
    spark.sql("ALTER TABLE graftcat.evo2.t RENAME COLUMN id TO id2")
    assert(spark.sql("SELECT sum(id2) FROM graftcat.evo2.t").head().getLong(0) == 3L)
    rejected("ALTER TABLE graftcat.evo2.t ADD COLUMN id BIGINT", "resurrect")
  }

  test("SQL UPDATE routes into the in-place rewrite pass") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.upd")
    spark.sql("CREATE TABLE graftcat.upd.t AS SELECT id, id * 2 AS v, 'x' AS s FROM range(5)")
    // expression assignments over the pre-update row, multi-column
    spark.sql("UPDATE graftcat.upd.t SET v = v + 100, s = concat(s, '!') WHERE id >= 3")
    val rows = spark.sql("SELECT id, v, s FROM graftcat.upd.t ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L, 106L, 108L))
    assert(rows.map(_.getString(2)).toSeq == Seq("x", "x", "x", "x!", "x!"))
    // a CACHED read must serve post-update rows (recache-by-plan contract)
    spark.table("graftcat.upd.t").cache().count()
    spark.sql("UPDATE graftcat.upd.t SET v = -1 WHERE id = 0")
    assert(spark.table("graftcat.upd.t").filter("id = 0").head().getLong(1) == -1L)
    spark.table("graftcat.upd.t").unpersist()
    // no-match and identity-assignment updates are clean no-ops
    spark.sql("UPDATE graftcat.upd.t SET v = 7 WHERE id = 999")
    spark.sql("UPDATE graftcat.upd.t SET v = v WHERE id = 1")
    assert(spark.sql("SELECT sum(v) FROM graftcat.upd.t").head().getLong(0) ==
      (-1L + 2L + 4L + 106L + 108L))
    // an UPDATE over an ALTER-added evolution column resolves and writes
    spark.sql("ALTER TABLE graftcat.upd.t ADD COLUMN tag STRING")
    spark.sql("UPDATE graftcat.upd.t SET tag = 'new' WHERE id = 1")
    assert(spark.sql("SELECT tag FROM graftcat.upd.t WHERE id = 1").head().getString(0) == "new")
    assert(spark.sql("SELECT count(tag) FROM graftcat.upd.t").head().getLong(0) == 1L)
  }

  test("SQL MERGE INTO routes into the upsert pass; unsupported shapes keep the stock error") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.mrg")
    spark.sql("CREATE TABLE graftcat.mrg.t AS SELECT id, id * 2 AS v, 'keep' AS s FROM range(5)")
    spark.sql("CREATE TABLE graftcat.mrg.src AS " +
      "SELECT id + 3 AS id, 1000 + id AS v, 'new' AS s FROM range(4)")
    spark.sql("MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql("SELECT id, v, s FROM graftcat.mrg.t ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L, 1000L, 1001L, 1002L, 1003L))
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("keep", "keep", "keep", "new", "new", "new", "new"))
    // partial update mixing both sides, no insert clause
    spark.sql("MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.v")
    assert(spark.sql("SELECT v FROM graftcat.mrg.t WHERE id = 3").head().getLong(0) == 2000L)
    // insert-only merge re-run inserts nothing (all matched)
    spark.sql("MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.src AS s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT count(*) FROM graftcat.mrg.t").head().getLong(0) == 7L)
    // user casts on BOTH key sides to exactly the type coercion would
    // insert anyway: semantics-preserving, so the rewrite accepts them
    spark.sql("CREATE TABLE graftcat.mrg.srci (id INT, v BIGINT)")
    spark.sql("INSERT INTO graftcat.mrg.srci VALUES (2, 777)")
    spark.sql("MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.srci AS s " +
      "ON CAST(t.id AS BIGINT) = CAST(s.id AS BIGINT) " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(spark.sql("SELECT v FROM graftcat.mrg.t WHERE id = 2").head().getLong(0) == 777L)
    // ... but ONLY the integral-widening family: a string/int cast pair
    // would certify string comparison while the re-resolved join coerces
    // numerically ('01' vs 1 match differently) — must decline
    spark.sql("CREATE TABLE graftcat.mrg.tstr (k STRING, v BIGINT)")
    spark.sql("INSERT INTO graftcat.mrg.tstr VALUES ('01', 1)")
    val eCast = intercept[Exception](spark.sql(
      "MERGE INTO graftcat.mrg.tstr AS t USING graftcat.mrg.srci AS s " +
        "ON t.k = CAST(s.id AS STRING) WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(eCast.getMessage.contains("MERGE"), eCast.getMessage)
    // out-of-scope shapes get a SPECIFIC error naming what failed and the
    // library API that still covers the shape (the stock path can never
    // work — the table has no SupportsRowLevelOperations):
    // a non-equi ON condition ...
    val e1 = intercept[Exception](spark.sql(
      "MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.src AS s ON t.id < s.id " +
        "WHEN MATCHED THEN UPDATE SET *"))
    assert(e1.getMessage.contains("MERGE") && e1.getMessage.contains("equi-keys") &&
      e1.getMessage.contains("mergeApply"), e1.getMessage)
    // ... and a subquery inside an action expression
    val e2 = intercept[Exception](spark.sql(
      "MERGE INTO graftcat.mrg.t AS t USING graftcat.mrg.src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = (SELECT max(id) FROM range(3))"))
    assert(e2.getMessage.contains("MERGE") && e2.getMessage.contains("subquery"),
      e2.getMessage)
  }

  test("SQL MERGE full matrix: tombstone deletes, conditional inserts, by-source sync") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.mrg2")
    // CDC-apply with tombstones: op D deletes, op U updates, new keys insert
    spark.sql("CREATE TABLE graftcat.mrg2.t AS SELECT id, id * 2 AS v FROM range(6)")
    spark.sql("CREATE TABLE graftcat.mrg2.cdc AS SELECT * FROM VALUES " +
      "(1L, 0L, 'D'), (3L, 333L, 'U'), (9L, 999L, 'U') AS s(id, v, op)")
    spark.sql("MERGE INTO graftcat.mrg2.t AS t USING graftcat.mrg2.cdc AS s ON t.id = s.id " +
      "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED AND s.op != 'D' THEN INSERT (id, v) VALUES (s.id, s.v)")
    assert(spark.table("graftcat.mrg2.t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (2L, 4L), (3L, 333L), (4L, 8L), (5L, 10L), (9L, 999L)))
    // snapshot sync: NOT MATCHED BY SOURCE DELETE makes target == source keys
    spark.sql("CREATE TABLE graftcat.mrg2.snap AS SELECT id, 7777L AS v FROM range(3, 8)")
    spark.sql("MERGE INTO graftcat.mrg2.t AS t USING graftcat.mrg2.snap AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(spark.table("graftcat.mrg2.t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (3L to 7L).map(i => (i, 7777L)))
    // conditional by-source UPDATE (no delete): target ids 6,7 have no
    // match in snap2 (3..5); the condition narrows the action to id >= 7
    spark.sql("CREATE TABLE graftcat.mrg2.snap2 AS SELECT id, 1L AS v FROM range(3, 6)")
    spark.sql("MERGE INTO graftcat.mrg2.t AS t USING graftcat.mrg2.snap2 AS s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE AND t.id >= 7 THEN UPDATE SET v = -6")
    assert(spark.table("graftcat.mrg2.t").filter("v = -6").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    assert(spark.table("graftcat.mrg2.t").count() == 5,
      "a conditional by-source UPDATE must not delete or insert anything")
  }

  test("MERGE: a deleted matched row is not resurrected by an unconditional INSERT") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.mrg3")
    spark.sql("CREATE TABLE graftcat.mrg3.t AS SELECT id, id * 2 AS v FROM range(5)")
    spark.sql("CREATE TABLE graftcat.mrg3.s AS SELECT * FROM VALUES " +
      "(1L, 111L), (9L, 999L) AS s(id, v)")
    // SQL semantics: NOT MATCHED is judged against the table AS OF the
    // merge start — id 1 matched (so it is deleted, never re-inserted),
    // id 9 matched nothing (so it inserts)
    spark.sql("MERGE INTO graftcat.mrg3.t AS t USING graftcat.mrg3.s AS s ON t.id = s.id " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table("graftcat.mrg3.t").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L, 4L, 9L))
  }

  test("ALTER COLUMN COMMENT is metadata-only and survives data-backed reads") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.evo4")
    spark.sql("CREATE TABLE graftcat.evo4.t AS SELECT id, id * 2 AS v FROM range(4)")
    spark.sql("ALTER TABLE graftcat.evo4.t ALTER COLUMN v COMMENT 'doubled id'")
    def commentOf(col: String): Option[String] =
      spark.table("graftcat.evo4.t").schema.fields
        .find(_.name == col).flatMap(f =>
          if (f.metadata.contains("comment")) Some(f.metadata.getString("comment"))
          else None)
    // v is FOOTER-backed: the comment must survive the footer taking over
    // the type in currentSchema's merge (it lives in the sidecar only)
    assert(commentOf("v").contains("doubled id"))
    // data still reads fine and the comment persists across further DML
    spark.sql("INSERT INTO graftcat.evo4.t VALUES (9, 18)")
    assert(spark.sql("SELECT sum(v) FROM graftcat.evo4.t").collect()(0).getLong(0) == 30L)
    assert(commentOf("v").contains("doubled id"))
    // re-commenting replaces; unknown column rejected
    spark.sql("ALTER TABLE graftcat.evo4.t ALTER COLUMN v COMMENT 'rewritten'")
    assert(commentOf("v").contains("rewritten"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graftcat.evo4.t ALTER COLUMN nope COMMENT 'x'"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.toLowerCase.contains("does not exist") ||
      m.toLowerCase.contains("cannot be resolved") ||
      m.toLowerCase.contains("unresolved")), e.toString)
  }

  test("ALTER publish clears leftover sidecar tmps and tolerates a stolen rename") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.evo3")
    spark.sql("CREATE TABLE graftcat.evo3.t AS SELECT id FROM range(3)")
    val dir = new org.apache.hadoop.fs.Path(wh, "evo3/t")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    def tmps(): Seq[String] = fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("._graft_table.json.tmp-"))
    // a failed prior ALTER's stale tmp: a bogus never-committed schema that
    // sidecarTmp's newest-first promotion could resurrect after a crash
    val stale = new org.apache.hadoop.fs.Path(dir, "._graft_table.json.tmp-deadbeef")
    val out = fs.create(stale, true)
    try out.write("""{"type":"struct","fields":[]}""".getBytes("UTF-8"))
    finally out.close()
    // the cleanup is age-gated (a concurrent ALTER's in-flight tmp must
    // not be swept mid-publish) — backdate the stale one past the gate
    fs.setTimes(stale, System.currentTimeMillis() - 10 * 60 * 1000L, -1)
    assert(tmps().nonEmpty)
    spark.sql("ALTER TABLE graftcat.evo3.t ADD COLUMN note STRING")
    assert(tmps().isEmpty,
      "a successful ALTER publish must clear every aged leftover sidecar tmp")
    assert(spark.sql("SELECT id, note FROM graftcat.evo3.t").schema.fieldNames
      .toSeq == Seq("id", "note"))
    // vacuum sweeps aged `.tmp-<uuid>` leftovers, but only while a committed
    // sidecar exists (in the crash window the tmp is the sole schema copy)
    val aged = new org.apache.hadoop.fs.Path(dir, "._graft_table.json.tmp-0ld0ld0l")
    val out2 = fs.create(aged, true)
    try out2.write("""{"type":"struct","fields":[]}""".getBytes("UTF-8"))
    finally out2.close()
    GraftMaintenance.vacuum(spark, dir.toString,
      olderThanMs = System.currentTimeMillis() + 60000)
    assert(tmps().isEmpty, "vacuum must sweep aged sidecar tmps")
  }

  test("ADD COLUMN DEFAULT: old files serve the constant, inserts resolve it, pushdowns decline") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.defs")
    spark.sql("DROP TABLE IF EXISTS graftcat.defs.t")
    spark.sql("CREATE TABLE graftcat.defs.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftcat.defs.t SELECT id, id FROM range(10)")
    spark.sql("ALTER TABLE graftcat.defs.t ADD COLUMN tier BIGINT DEFAULT 7")
    spark.sql("ALTER TABLE graftcat.defs.t ADD COLUMN tag STRING DEFAULT 'base'")
    // pre-ALTER rows serve the defaults...
    val old = spark.sql("SELECT tier, tag FROM graftcat.defs.t WHERE k = 3")
      .collect()(0)
    assert(old.getLong(0) == 7 && old.getString(1) == "base")
    // ...an INSERT omitting the columns resolves them through Spark's own
    // default machinery (CURRENT_DEFAULT metadata + catalog capability)...
    spark.sql("INSERT INTO graftcat.defs.t (k, v) VALUES (100, 100)")
    // ...and an explicit value wins
    spark.sql("INSERT INTO graftcat.defs.t VALUES (200, 200, 9, 'x')")
    val got = spark.sql(
      "SELECT k, tier, tag FROM graftcat.defs.t WHERE k >= 100 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((100L, 7L, "base"), (200L, 9L, "x")), got.toString)
    // footer-only MIN/MAX/COUNT(col) must DECLINE on a defaulted column
    // (old footers know nothing of the served constants); the answer stays
    // exact through the ordinary scan
    val agg = spark.sql(
      "SELECT min(tier), max(tier), count(tier), count(*) FROM graftcat.defs.t")
    assert(!agg.queryExecution.executedPlan.toString.contains("footer-only"),
      "defaulted column must not ride the footer aggregate scan")
    val r = agg.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((7L, 9L, 12L, 12L)))
    // filters over mixed generations see the served defaults
    assert(spark.sql("SELECT count(*) FROM graftcat.defs.t WHERE tier = 7")
      .collect()(0).getLong(0) == 11)
    // ALTER COLUMN SET DEFAULT governs FUTURE inserts only: old files
    // keep serving the ORIGINAL declared default (the SQL-standard
    // existing-rows-unchanged contract)
    spark.sql("ALTER TABLE graftcat.defs.t ALTER COLUMN tier SET DEFAULT 42")
    spark.sql("INSERT INTO graftcat.defs.t (k, v) VALUES (300, 300)")
    val after = spark.sql(
      "SELECT k, tier FROM graftcat.defs.t WHERE k IN (3, 300) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((3L, 7L), (300L, 42L)), after.toString)
    // DROP DEFAULT: the next omitting insert lands NULL
    spark.sql("ALTER TABLE graftcat.defs.t ALTER COLUMN tier DROP DEFAULT")
    spark.sql("INSERT INTO graftcat.defs.t (k, v) VALUES (400, 400)")
    assert(spark.sql("SELECT tier FROM graftcat.defs.t WHERE k = 400")
      .collect()(0).isNullAt(0))
  }

  test("an undeclared table with a MIXED partition layout fails loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.mix")
    val dir = s"$wh/mix/t"
    // path-written partitioned files...
    spark.range(0, 10).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p")
      .write.format("graft").option("partitionby", "p").mode("append").save(dir)
    // consistent layout: resolvable, partitioning inferred from ALL files
    assert(spark.sql("SELECT count(*) FROM graftcat.mix.t").collect()(0).getLong(0) == 10)
    // ...plus one unpartitioned file at the root: the inferred layout would
    // depend on listing order — catalog resolution must reject, not guess
    spark.range(10, 12).selectExpr("id AS k", "CAST(id AS STRING) AS p")
      .write.format("graft").mode("append").save(dir)
    val ex = intercept[Exception] {
      spark.sql("SELECT count(*) FROM graftcat.mix.t").collect()
    }
    def causes(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    assert(causes(ex).exists(_.contains("MIXED partition layout")),
      s"expected the mixed-layout rejection, got: ${causes(ex)}")
    // path reads stay available for repair
    assert(spark.read.format("graft").load(dir).count() == 12)
  }

  test("TBLPROPERTIES graft.bloomfilter/graft.ndvsketch apply to every SQL insert") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.bloomy (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.bloomfilter'='k', 'graft.ndvsketch'='s')")
    // plain SQL INSERT — no .option() anywhere; the declared properties
    // must opt the written files into blooms + the footer ndv synopsis
    spark.sql("INSERT INTO graftcat.db.bloomy " +
      "SELECT cast(hash(id) as bigint) % 100000, format_string('v%06d', id % 997) " +
      "FROM range(60000)")
    val dir = s"$wh/db/bloomy"
    // blooms: an IN-DOMAIN absent-value probe — every page's min/max
    // spans ~the full hash domain, so zone maps cannot prune it and only
    // a real bloom can (an out-of-domain probe would pass vacuously)
    val present = spark.sql("SELECT DISTINCT k FROM graftcat.db.bloomy")
      .collect().map(_.getLong(0)).toSet
    val absentK = (1L to 99999L).find(!present.contains(_)).get
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(spark.sql(
      s"SELECT count(*) FROM graftcat.db.bloomy WHERE k = $absentK").head.getLong(0) == 0)
    assert(GraftMetrics.pageGroupsSkipped.get() > 0,
      s"declared bloom must prune, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    // ndv synopsis: scan-free estimate resolves (throws if files lack it)
    val est = GraftNdv.estimate(spark, dir, Seq("s"))
    assert(est.length == 1 && est.head.estimate > 500 && est.head.estimate < 1500,
      s"ndv estimate off: ${est.head.estimate}")
    // ALTER ... SET TBLPROPERTIES re-points FUTURE writes; UNSET stops them
    spark.sql("ALTER TABLE graftcat.db.bloomy SET TBLPROPERTIES ('graft.ndvsketch'='k')")
    assert(spark.sql("SHOW TBLPROPERTIES graftcat.db.bloomy").collect()
      .exists(r => r.getString(0) == "graft.ndvsketch" && r.getString(1) == "k"))
    spark.sql("ALTER TABLE graftcat.db.bloomy UNSET TBLPROPERTIES ('graft.bloomfilter')")
    assert(!spark.sql("SHOW TBLPROPERTIES graftcat.db.bloomy").collect()
      .exists(_.getString(0) == "graft.bloomfilter"))
    // a bad property value fails the DDL, not some later task
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graftcat.db.bloomy SET TBLPROPERTIES ('graft.bloomfilter'='nope')") }
    assert(e.getMessage.contains("does not resolve"), e.getMessage)
  }

  test("maintenance rewrites inherit the declared per-page stats intent") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.bloomc (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.bloomfilter'='k', 'graft.ndvsketch'='s')")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graftcat.db.bloomc " +
        s"SELECT cast(hash(id + ${i * 20000}) as bigint) % 100000, " +
        s"format_string('v%06d', id % 997) FROM range(15000)")
    }
    val dir = s"$wh/db/bloomc"
    // compaction writes back into the table dir as a PATH write — the
    // sidecar-declared blooms/ndv must survive the rewrite, or the table
    // silently loses its equality pruning with every maintenance pass
    val st = GraftMaintenance.compact(spark, dir, targetFiles = 1)
    assert(st.filesAfter <= st.filesBefore)
    // in-domain absent probe (see the bloomy test): only blooms prune it
    val present = spark.sql("SELECT DISTINCT k FROM graftcat.db.bloomc")
      .collect().map(_.getLong(0)).toSet
    val absentK = (1L to 99999L).find(!present.contains(_)).get
    GraftMetrics.pageGroupsSkipped.set(0)
    assert(spark.sql(
      s"SELECT count(*) FROM graftcat.db.bloomc WHERE k = $absentK").head.getLong(0) == 0)
    assert(GraftMetrics.pageGroupsSkipped.get() > 0,
      s"rewritten files must still carry blooms, skipped=${GraftMetrics.pageGroupsSkipped.get()}")
    assert(GraftNdv.estimate(spark, dir, Seq("s")).head.estimate > 0,
      "rewritten files must still carry the ndv synopsis")
    // row-level rewrite (DELETE survivor) — the scratch write has no
    // sidecar, so the declared stats must be injected or estimate THROWS
    spark.sql(s"DELETE FROM graftcat.db.bloomc WHERE k = ${present.head}")
    assert(GraftNdv.estimate(spark, dir, Seq("s")).head.estimate > 0,
      "survivor-rewritten files must still carry the ndv synopsis")
  }

  test("RENAME COLUMN re-labels declared stats properties; DROP retires them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.bloomr (k BIGINT, s STRING, x BIGINT) " +
      "TBLPROPERTIES ('graft.bloomfilter'='k,x', 'graft.ndvsketch'='s')")
    spark.sql("INSERT INTO graftcat.db.bloomr VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE graftcat.db.bloomr RENAME COLUMN k TO key")
    val props = spark.sql("SHOW TBLPROPERTIES graftcat.db.bloomr").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.bloomfilter").contains("key,x"), props.toString)
    spark.sql("ALTER TABLE graftcat.db.bloomr DROP COLUMN x")
    val props2 = spark.sql("SHOW TBLPROPERTIES graftcat.db.bloomr").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2.get("graft.bloomfilter").contains("key"), props2.toString)
    // the table stays writable under the re-labeled declaration
    spark.sql("INSERT INTO graftcat.db.bloomr VALUES (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.bloomr").head.getLong(0) == 2)
  }
}
