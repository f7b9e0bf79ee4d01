package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DML probes fold per scan partition and merge per file on the
  * driver. This spec splits each file into several page-group scan
  * partitions (a small `spark.sql.files.maxPartitionBytes`), lays an
  * earlier deletion vector on it, and checks every op against a
  * `groupBy(input_file_name())` reference computed on the same table:
  * the published masks, the matched files and counts, the broad-delete
  * guard's per-FILE cap, and the final table. A delete past the cap
  * must stop its probe job, so the tasks still to run send the driver
  * nothing more.
  */
class DmlSplitFileSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val n = 3000L

  private def table(dir: String) = spark.read.format("graft").load(dir)

  /** Reference: the ordinals each file holds under `pred`, grouped by
    * an exchange. */
  private def refOrdinals(dir: String, pred: Column): Map[String, Set[Long]] =
    table(dir).filter(pred)
      .groupBy(input_file_name().as("f"))
      .agg(collect_list(col(GraftDv.OrdinalCol)).as("o"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap

  private def refCounts(dir: String, pred: Column): Map[String, Long] =
    table(dir).filter(pred).groupBy(input_file_name().as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The current mask of every data file (empty when it has none). */
  private def masks(dir: String): Map[String, Set[Long]] = {
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = tableDir.getFileSystem(conf)
    val dvs = GraftDv.list(fs, tableDir)
    GraftUtil.listDataFiles(dir, conf).map { f =>
      val bits = dvs.get(GraftDv.identOf(tableDir, f.getPath))
        .map(d => GraftDv.read(fs, d._2).toArray.map(_.toLong).toSet)
        .getOrElse(Set.empty[Long])
      f.getPath.toString -> bits
    }.toMap
  }

  private def union(a: Map[String, Set[Long]], b: Map[String, Set[Long]]) =
    (a.keySet ++ b.keySet).map(f =>
      f -> (a.getOrElse(f, Set.empty[Long]) ++ b.getOrElse(f, Set.empty[Long]))).toMap

  private def rows(dir: String): Seq[(Long, Long, Long)] =
    table(dir).select("k", "g", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("split files: masks, matched counts and the final table equal the groupBy reference") {
    val dir = "/tmp/graft-test/split-probe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.range(0, n).selectExpr("id AS k", "id % 7 AS g", "id * 2 AS v")
      .repartition(2).write.format("graft").option("pagesize", "100")
      .mode("overwrite").save(dir)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val files = GraftUtil.listDataFiles(dir, spark.sessionState.newHadoopConf())
      assert(files.size == 2)
      val parts = table(dir).rdd.getNumPartitions
      assert(parts >= 6, s"each file must span several scan partitions, got $parts")
      var model = (0L until n).map(k => (k, k % 7, k * 2))

      // the earlier deletion vector
      GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 11 === 0)
      model = model.filterNot(_._1 % 11 == 0)
      assert(rows(dir) == model)

      // a DV delete matching both files stays merge-on-read at a cap of 2
      // FILES, however many partitions each file spans
      val del = col("k") % 3 === 1
      val refDel = refOrdinals(dir, del)
      assert(refDel.size == 2)
      val before = masks(dir)
      spark.conf.set("graft.dv.maxMatchedFiles", "2")
      val st = try GraftMaintenance.deleteWhereDv(spark, dir, del)
        finally spark.conf.unset("graft.dv.maxMatchedFiles")
      assert(st.filesRewritten == refDel.size && st.filesUntouched == 0, st)
      assert(masks(dir) == union(before, refDel))
      model = model.filterNot(_._1 % 3 == 1)
      assert(rows(dir) == model)

      // merge-on-read update over a key range that crosses partitions
      val upd = col("k").between(200, 2600)
      val refUpd = refOrdinals(dir, upd)
      val before2 = masks(dir)
      val ust = GraftMaintenance.updateWhereDv(spark, dir, upd, Map("v" -> (col("v") + 1)))
      assert(ust.filesRewritten == refUpd.size, ust)
      assert(ust.rowsUpdated == refUpd.values.map(_.size.toLong).sum, ust)
      val after2 = masks(dir)
      assert(before2.keySet.forall(f => after2(f) == before2(f) ++ refUpd.getOrElse(f, Set.empty)))
      model = model.map { case (k, g, v) => (k, g, if (k >= 200 && k <= 2600) v + 1 else v) }
      assert(rows(dir) == model)

      // copy-on-write update: matched files and rows equal the reference
      val cow = col("g") === 2
      val refCow = refCounts(dir, cow)
      val cst = GraftMaintenance.updateWhere(spark, dir, cow, Map("v" -> lit(0L)))
      assert(cst.filesRewritten == refCow.size, cst)
      assert(cst.rowsUpdated == refCow.values.sum, cst)
      model = model.map { case (k, g, v) => (k, g, if (g == 2) 0L else v) }
      assert(rows(dir) == model)

      // at a cap of 1 file the same shape routes to copy-on-write
      val refBroad = refCounts(dir, col("g") === 5)
      assert(refBroad.size > 1)
      spark.conf.set("graft.dv.maxMatchedFiles", "1")
      val bst = try GraftMaintenance.deleteWhereDv(spark, dir, col("g") === 5)
        finally spark.conf.unset("graft.dv.maxMatchedFiles")
      assert(bst.rowsBefore - bst.rowsAfter == refBroad.values.sum, bst)
      model = model.filterNot(_._2 == 5)
      assert(rows(dir) == model)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a DV delete past the file cap cancels its probe job and routes to copy-on-write") {
    val dir = "/tmp/graft-test/split-overflow"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.range(0, 800).selectExpr("id AS k", "id % 7 AS g", "id * 2 AS v")
      .repartition(16).write.format("graft").mode("overwrite").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val tableDir = new org.apache.hadoop.fs.Path(dir)
    assert(GraftUtil.listDataFiles(dir, conf).size == 16)
    assert(table(dir).rdd.getNumPartitions == 16)
    // every file matches; scan partitions past the first three sleep per
    // row, so the probe cannot finish before the third file's result
    // overflows a cap of 2 and cancels it
    val slow = udf { (k: Long) =>
      if (org.apache.spark.TaskContext.getPartitionId() >= 3) Thread.sleep(1)
      true
    }
    val pred = slow(col("k")) && col("k") % 2 === 0
    val probeJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.headOption.map(_.name)
          .filter(_.startsWith("submitJob at GraftMaintenance"))
          .foreach(probeJobs.put(e.jobId, _))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.jobResult == org.apache.spark.scheduler.JobSucceeded)
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(sl)
    spark.conf.set("graft.dv.maxMatchedFiles", "2")
    val st = try GraftMaintenance.deleteWhereDv(spark, dir, pred)
      finally {
        spark.conf.unset("graft.dv.maxMatchedFiles")
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sl)
      }
    import scala.jdk.CollectionConverters._
    // the DV probe was cancelled; the copy-on-write route's own probe ran
    val outcomes = probeJobs.keySet.asScala.toSeq.sorted.map(ended.get(_))
    assert(outcomes == Seq(false, true), s"probe jobs succeeded: $outcomes")
    assert(st.rowsBefore == 800 && st.rowsAfter == 400, st)
    val fs = tableDir.getFileSystem(conf)
    assert(GraftDv.list(fs, tableDir).isEmpty, "an overflowed delete publishes no masks")
    assert(rows(dir) == (1L until 800L by 2).map(k => (k, k % 7, k * 2)))
  }
}
