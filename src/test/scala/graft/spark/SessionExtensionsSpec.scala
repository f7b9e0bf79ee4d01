package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft's SQL surface must not depend on how a session first touched
  * graft: a brand-new `newSession()` clone, with no graft call on it,
  * already resolves the table functions, the SQL functions, catalog DML
  * and element pushdown (the session-extensions provider wires them all).
  */
class SessionExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a fresh newSession() has the TVFs, functions, DML routing and element pushdown") {
    val root = "/tmp/graft-test/session-ext"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val hist = s"$root/hist"
    (0 until 2).foreach { i =>
      spark.range(i * 10, i * 10 + 10).selectExpr("id AS k")
        .write.format("graft").mode("append").save(hist)
    }
    val elem = s"$root/elem"
    spark.range(1000).selectExpr("id", "array(id, id + 1) AS arr").coalesce(1)
      .write.format("graft").mode("overwrite").save(elem)

    // each check runs on its own clone, so none relies on another's wiring
    val commits = spark.newSession()
      .sql(s"SELECT count(*) FROM graft_history('$hist')").head().getLong(0)
    assert(commits == 2L, s"graft_history listed $commits commits")

    assert(spark.newSession().sql("SELECT graft_long_norm_sq(array(1L, 2L))")
      .head().getLong(0) == 5L)

    val dml = spark.newSession()
    dml.conf.set("spark.sql.catalog.sx", "graft.spark.GraftCatalog")
    dml.conf.set("spark.sql.catalog.sx.warehouse", s"$root/wh")
    dml.sql("CREATE NAMESPACE IF NOT EXISTS sx.db")
    dml.sql("CREATE TABLE sx.db.t (id BIGINT, v BIGINT)")
    dml.sql("INSERT INTO sx.db.t VALUES (1, 10), (2, 20), (3, 30)")
    dml.sql("UPDATE sx.db.t SET v = v + 100 WHERE id >= 2")
    assert(dml.sql("SELECT id, v FROM sx.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L), (2L, 120L), (3L, 130L)))

    val hit = spark.newSession().read.format("graft").load(elem)
      .filter(array_contains(col("arr"), lit(500L)))
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("element["), "element predicate missing from the scan description:\n" + plan)
    assert(hit.count() == 2)
  }
}
