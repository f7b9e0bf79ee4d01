package graft.perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a round), `round` the round it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, round: Int,
    start: Long, end: Long)

/** Spans and counters of one run.
  *
  * With tracing off no spans are kept. With tracing on every layer call
  * the workloads make is wrapped in a span, and Spark jobs started inside a
  * span become its children (via the listener below). Everything stays in
  * memory until [[write]] at the end of the run.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  @volatile var on = false
  var round = 0
  val counters = mutable.LinkedHashMap[String, Double]()
  /** Called when a span opens/closes, so Spark jobs can be tagged. */
  var onEnter: Int => Unit = _ => ()
  var onExit: Int => Unit = _ => ()

  /** nanoTime minus wall-clock nanos: maps listener event times onto spans */
  private val epochShift = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochShift

  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v

  def newId(): Int = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = synchronized { spans += s }

  def currentLayer(id: Int): String = synchronized {
    spans.find(_.id == id).map(_.layer).orElse(stack.find(_._1 == id).map(_._2)).getOrElse("bench")
  }

  /** Time `f` as span `name` of `layer` when tracing is on. */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = newId()
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, layer) :: stack
      onEnter(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        onExit(stack.headOption.map(_._1).getOrElse(-1))
        record(Span(id, parent, name, layer, round, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per (round, layer): the time covered by the layer's spans,
    * minus the part covered by their children in other layers. Attribution
    * stops at the benchmark's own call boundaries: Spark job spans carry
    * their parent's layer (so parallel jobs are not counted twice), and a
    * graft scan that runs inside a query's job counts as `queries`.
    */
  def selfTime: Map[(Int, String), Double] = {
    val ss = all
    val layerOf = ss.map(s => s.id -> s.layer).toMap
    ss.groupBy(s => (s.round, s.layer)).map { case (key, mine) =>
      val ids = mine.map(_.id).toSet
      val foreign = ss.filter(c => ids(c.parent) && layerOf(c.id) != key._2)
      key -> (union(mine.map(s => (s.start, s.end))) - union(foreign.map(c => (c.start, c.end)))) / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Median over rounds of the summed duration of spans called `name`. */
  def perRound(name: String, rounds: Seq[Int]): Double = {
    val by = all.filter(_.name == name).groupMapReduce(_.round)(s => (s.end - s.start) / 1e9)(_ + _)
    Stats.median(rounds.map(r => by.getOrElse(r, 0.0)))
  }

  /** Spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.map(_.start).minOption.getOrElse(0L)
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""round":${s.round},"start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Spark job/stage/task events mapped onto the span that started them.
  * Job intervals, from the events' own submission and completion times,
  * become child spans; task run time and shuffle bytes are summed per
  * layer.
  */
final class SparkTrace(tracer: Tracer, sc: org.apache.spark.SparkContext)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val Key = "perfbench.span"
  private val jobSpan = mutable.Map[Int, (Int, Long, Int)]() // job -> (span, start, round)
  private val stageSpan = mutable.Map[Int, Int]()

  tracer.onEnter = id => sc.setLocalProperty(Key, id.toString)
  tracer.onExit = id => sc.setLocalProperty(Key, if (id < 0) null else id.toString)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
    id.foreach { s =>
      jobSpan(e.jobId) = (s, tracer.fromEpochMs(e.time), tracer.round)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (parent, t0, round) =>
      tracer.record(Span(tracer.newId(), parent, "spark.job", tracer.currentLayer(parent),
        round, t0, tracer.fromEpochMs(e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val layer = tracer.currentLayer(s)
      tracer.add(s"task_s@$layer", m.executorRunTime / 1e3)
      tracer.add(s"shuffle_mb@$layer",
        (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6)
    }
  }
}

/** The one place the benchmark reads the connector's scan counters. They
  * are JVM-global today; when they move to DataSource V2 custom metrics
  * only this adapter changes.
  */
object ScanCounters {
  final case class Snapshot(pageGroupsRead: Long, pageGroupsSkipped: Long, bytesFetched: Long) {
    def minus(o: Snapshot): Snapshot = Snapshot(pageGroupsRead - o.pageGroupsRead,
      pageGroupsSkipped - o.pageGroupsSkipped, bytesFetched - o.bytesFetched)
  }
  def now(): Snapshot = {
    val m = graft.spark.GraftMetrics
    Snapshot(m.pageGroupsRead.get, m.pageGroupsSkipped.get, m.bytesRead.get)
  }
}

/** Host context from /proc, recorded beside each run's numbers so a
  * contaminated run can be recognized. Never used to drop or repeat a run.
  */
object Host {
  final case class Ticks(steal: Long, busy: Long, total: Long)
  def ticks(): Ticks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val parts = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      // through steal only: guest time is already inside user/nice
      val total = parts.take(8).sum
      val idle = parts(3) + (if (parts.length > 4) parts(4) else 0L)
      Ticks(if (parts.length > 7) parts(7) else 0L, total - idle, total)
    } catch { case _: Exception => Ticks(0, 0, 0) }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
