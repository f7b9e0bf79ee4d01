package graft.examples

import graft.spark.GraftFs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Drive the table-management surface end to end at its REAL interfaces —
  * the round-15 additions in one runnable pass:
  *
  *   1. CREATE TABLE ... PARTITIONED BY + partitioned INSERT
  *   2. dynamic partition overwrite (one day re-ingested, others untouched)
  *   3. replaceWhere (transactional slice replacement)
  *   4. deletion-vector DELETE (files byte-identical) + columnar masked scan
  *   5. merge-on-read UPDATE (mask + tagged append)
  *   6. ALTER COLUMN TYPE widening over mixed generations
  *   7. graft_pages / graft_ndv / graft_changes table functions
  *   8. compaction folding the masks away
  *   9. SQL-only lifecycle (graft_compact / graft_vacuum /
  *      graft_expire_manifests CALL-style table functions)
  *  10. graft_history + graft_restore (a bad load rolled back in place)
  *
  * Usage: `sbt "runMain graft.examples.DmlDemo [/tmp/graft_dml_demo]"`
  */
object DmlDemo {
  def main(args: Array[String]): Unit = {
    val wh = args.headOption.getOrElse("/tmp/graft_dml_demo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.demo", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.demo.warehouse", wh)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.sql
    val dir = s"$wh/events"

    def files() = graft.spark.GraftUtil
      .listDataFiles(dir, spark.sessionState.newHadoopConf())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet

    println("== 1. partitioned table + insert")
    sql("CREATE TABLE demo.events (id BIGINT, v INT, day STRING) PARTITIONED BY (day)")
    sql("INSERT INTO demo.events SELECT id, CAST(id AS INT), " +
      "CASE WHEN id % 3 = 0 THEN 'd1' WHEN id % 3 = 1 THEN 'd2' ELSE 'd3' END " +
      "FROM range(3000)")
    println(s"   rows=${sql("SELECT count(*) FROM demo.events").head.getLong(0)}")

    println("== 2. dynamic partition overwrite of d1")
    val beforeOther = files().filter(f => !f._1.contains("day=d1"))
    spark.range(0, 5).selectExpr("id + 90000 AS id", "CAST(id AS INT) AS v", "'d1' AS day")
      .writeTo("demo.events").overwritePartitions()
    assert(files().filter(f => !f._1.contains("day=d1")) == beforeOther,
      "untouched partitions must stay byte-identical")
    println(s"   d1 rows=${sql("SELECT count(*) FROM demo.events WHERE day='d1'").head.getLong(0)} (was 1000)")

    println("== 3. replaceWhere on an id band of d2")
    // the incoming rows must SATISFY the slice predicate — the write path
    // validates per row (a violating row would survive a re-run's delete
    // phase, breaking idempotency) and fails the job loudly otherwise
    spark.range(0, 3).selectExpr("id AS id", "CAST(0 AS INT) AS v", "'d2' AS day")
      .writeTo("demo.events")
      .overwrite(col("day") === "d2" && col("id") < 100)
    println(s"   total=${sql("SELECT count(*) FROM demo.events").head.getLong(0)}")

    println("== 4. deletion-vector DELETE (no rewrite)")
    val before = files()
    spark.conf.set("graft.delete.mode", "dv")
    sql("DELETE FROM demo.events WHERE id BETWEEN 200 AND 260")
    spark.conf.unset("graft.delete.mode")
    assert(files() == before, "DV delete must not touch data files")
    val scanPlan = spark.table("demo.events").select("id", "v")
      .queryExecution.executedPlan.toString
    println(s"   columnar masked scan: ${scanPlan.contains("Columnar")}")

    println("== 5. merge-on-read UPDATE")
    graft.spark.GraftMaintenance.updateWhereDv(spark, dir,
      col("id") < 10, Map("v" -> (col("v") + 1000000)))
    println(s"   updated head: " + spark.table("demo.events")
      .filter(col("id") < 3).orderBy("id").collect().mkString(", "))

    println("== 6. ALTER COLUMN TYPE widening (v INT -> BIGINT)")
    sql("ALTER TABLE demo.events ALTER COLUMN v TYPE BIGINT")
    sql("INSERT INTO demo.events VALUES (99999, 7000000000, 'd3')")
    println(s"   max(v)=${sql("SELECT max(v) FROM demo.events").head.getLong(0)} (needs 64 bits)")

    println("== 7. introspection table functions")
    sql(s"SELECT codec, count(*) pages, sum(num_values) vals FROM graft_pages('$dir') " +
      "GROUP BY codec ORDER BY pages DESC").show(5, truncate = false)
    sql(s"SELECT * FROM graft_changes('$dir', 0, ${Long.MaxValue}L) " +
      "WHERE _change_type != 'insert' LIMIT 3").show(truncate = false)

    println("== 8. compaction folds the deletion vectors")
    val n0 = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    graft.spark.GraftMaintenance.compact(spark, dir, targetFiles = 2)
    val n1 = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    assert(n0 == n1, s"compaction changed the row count: $n0 -> $n1")
    val fs = GraftFs.get(new org.apache.hadoop.fs.Path(dir), spark.sessionState.newHadoopConf())
    println(s"   rows=$n1, sidecars remaining=" +
      graft.spark.GraftDv.hasAny(fs, new org.apache.hadoop.fs.Path(dir)))

    println("== 9. SQL-only lifecycle (CALL-style table functions)")
    sql(s"SELECT * FROM graft_compact('$dir', 2)").show(truncate = false)
    sql(s"SELECT * FROM graft_vacuum('$dir', " +
      s"${System.currentTimeMillis() + 60000})").show(truncate = false)
    sql(s"SELECT * FROM graft_expire_manifests('$dir', 0)").show(truncate = false)
    val n2 = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    assert(n2 == n1, s"SQL lifecycle pass changed the row count: $n1 -> $n2")

    println("== 9b. partition management + scoped compaction")
    sql("SHOW PARTITIONS demo.events").show(5, truncate = false)
    sql(s"SELECT * FROM graft_compact_partition('$dir', 'day=d2', 1)")
      .show(truncate = false)
    val nP = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    sql("ALTER TABLE demo.events DROP PARTITION (day = 'd3')")
    val nQ = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    println(s"   rows $nP -> $nQ after dropping d3")
    assert(sql("SELECT count(*) FROM demo.events WHERE day='d3'")
      .head.getLong(0) == 0)

    println("== 9c. CHECK constraint (violating write aborts atomically)")
    sql("ALTER TABLE demo.events ADD CONSTRAINT id_nonneg CHECK (id >= 0)")
    val rejected =
      try { sql("INSERT INTO demo.events VALUES (-5, 1, 'd1')"); false }
      catch { case _: Exception => true }
    assert(rejected, "a violating insert must abort")
    println(s"   violating insert rejected: $rejected")

    println("== 10. history + restore (a bad load rolled back)")
    sql(s"SELECT version, status, tag, files, `rows` FROM graft_history('$dir') " +
      "ORDER BY version").show(30, truncate = false)
    val versions = sql(s"SELECT max(version) FROM graft_history('$dir')")
      .head.getLong(0)
    Thread.sleep(5)
    sql("INSERT INTO demo.events VALUES (777777, 1, 'd1')") // the "bad load"
    sql(s"SELECT * FROM graft_restore('$dir', $versions)").show(truncate = false)
    val n3 = sql("SELECT count(*) FROM demo.events").head.getLong(0)
    assert(n3 == nQ, s"restore must undo the bad load exactly: $nQ -> $n3")
    assert(sql("SELECT count(*) FROM demo.events WHERE id = 777777")
      .head.getLong(0) == 0, "the bad row must be gone")
    println("DmlDemo: OK")
    spark.stop()
  }
}
