package graft.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan shape of the maintenance ops. Every per-file probe folds per scan
  * partition and merges on the driver, so:
  *
  *   - no plan a DML op or a layout-free compaction to one file executes
  *     holds a shuffle exchange;
  *   - each probe is ONE Spark job, run under its own SQL execution;
  *   - compaction still shuffles where rows need placing: a `partitionby`
  *     re-layout and a z-order.
  *
  * Plans come from a `QueryExecutionListener`, jobs from a
  * `SparkListener`; a probe's job is the one its `submitJob` call site
  * names.
  */
class DmlPlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fresh(name: String): String = {
    val dir = s"/tmp/graft-test/planshape-$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.range(0, 2000)
      .selectExpr("id AS k", "id % 5 AS p", "(id * 37) % 1009 AS v")
      .repartition(4).write.format("graft").mode("overwrite").save(dir)
    dir
  }

  /** What `f` ran: each executed plan with its action name, and the
    * job call sites of each SQL execution that ran a probe job. */
  private final case class Ran(plans: Seq[(String, SparkPlan)],
      probeJobs: Map[String, Seq[String]]) {
    def exchanges: Seq[String] = plans.flatMap { case (n, p) =>
      shuffles(p).map(e => s"$n: ${e.nodeName} ${e.outputPartitioning.getClass.getSimpleName}") }
    def probeExecutions: Int = plans.count(_._1 == GraftMaintenance.ProbeExecution)
  }

  private def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case s: QueryStageExec => shuffles(s.plan)
    case r: ReusedExchangeExec => shuffles(r.child)
    case e: ShuffleExchangeLike => e +: e.children.flatMap(shuffles)
    case other => (other.children ++ other.subqueries).flatMap(shuffles)
  }

  private def record(f: => Unit): Ran = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")) ->
          e.stageInfos.map(_.name).headOption.getOrElse(""))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try f
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    import scala.jdk.CollectionConverters._
    val byExec = jobs.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    Ran(plans.asScala.toSeq,
      byExec.filter(_._2.exists(_.startsWith("submitJob at GraftMaintenance"))))
  }

  /** No exchange anywhere, and `probes` probes of one job each. */
  private def assertExchangeFree(ran: Ran, probes: Int): Unit = {
    assert(ran.exchanges.isEmpty, s"exchanges: ${ran.exchanges}")
    assert(ran.probeExecutions == probes,
      s"probe executions: ${ran.plans.map(_._1)}")
    assert(ran.probeJobs.size == probes, s"probe jobs by execution: ${ran.probeJobs}")
    assert(ran.probeJobs.values.forall(_.size == 1),
      s"a probe must be one job: ${ran.probeJobs}")
  }

  private def sorted(dir: String): Seq[(Long, Long, Long)] =
    spark.read.format("graft").load(dir).select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private val model = (0L until 2000L).map(i => (i, i % 5, (i * 37) % 1009))

  test("deleteWhere and deleteWhereDv probe without an exchange") {
    val dir = fresh("del")
    val cow = record(GraftMaintenance.deleteWhere(spark, dir, col("k") % 97 === 3))
    assertExchangeFree(cow, 1)
    val dv = record(GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 89 === 5))
    assertExchangeFree(dv, 1)
    assert(sorted(dir) == model.filterNot(r => r._1 % 97 == 3 || r._1 % 89 == 5))
  }

  test("updateWhere and a changelog updateWhereDv probe without an exchange") {
    val dir = fresh("upd")
    val cow = record(GraftMaintenance.updateWhere(spark, dir, col("k") < 40,
      Map("v" -> (col("v") + 1))))
    assertExchangeFree(cow, 1)
    // changelog: one bitmap probe gives both the feed's files and the masks
    val mor = record(GraftMaintenance.updateWhereDv(spark, dir, col("k") % 50 === 7,
      Map("v" -> lit(-1L)), changelog = true))
    assertExchangeFree(mor, 1)
    assert(sorted(dir) == model.map { case (k, p, v) =>
      (k, p, if (k % 50 == 7) -1L else if (k < 40) v + 1 else v) }.sorted)
  }

  test("compact(1) over layout-free files does not shuffle") {
    val dir = fresh("cmp")
    GraftMaintenance.deleteWhereDv(spark, dir, col("k") % 13 === 0)
    val ran = record {
      val st = GraftMaintenance.compact(spark, dir, 1)
      assert(st.filesBefore == 4 && st.filesAfter == 1, st)
    }
    assertExchangeFree(ran, 0)
    assert(sorted(dir) == model.filterNot(_._1 % 13 == 0))
  }

  test("compact with partitionby, and zorder, still exchange") {
    val dir = fresh("layout")
    val byPart = record(GraftMaintenance.compact(spark, dir, 2, Map("partitionby" -> "p")))
    assert(byPart.exchanges.exists(_.endsWith("HashPartitioning")),
      s"a partitionby re-layout clusters rows by value: ${byPart.exchanges}")
    assert(sorted(dir) == model)
    val zdir = fresh("zorder")
    val z = record(GraftMaintenance.zorder(spark, zdir, Seq("k", "v"), 2))
    assert(z.exchanges.exists(_.endsWith("RangePartitioning")),
      s"a z-order range-partitions on the z value: ${z.exchanges}")
    assert(sorted(zdir) == model)
  }
}
