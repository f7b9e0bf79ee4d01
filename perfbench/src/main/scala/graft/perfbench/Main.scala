package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Command-line options, as perfbench/run.py passes them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, injectFault: Boolean, work: java.io.File, data: java.io.File, build: String) {
  /** How many times the workload amplifies the tables: 1 in smoke runs. */
  def factor(default: Int): Int = if (smoke) 1 else default
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("smoke", "0") == "1",
      m.getOrElse("inject-fault", "0") == "1", new java.io.File(need("work")),
      new java.io.File(need("data")), m.getOrElse("build", "dev"))
  }
}

/** Outcome bookkeeping shared by every workload: each timed operation
  * is attempted once and counted failed if it threw or its output did not
  * match the expected result. A wrong result is a failure, never a fast op.
  */
final class Ops(args: Args) {
  var attempted = 0L
  var failed = 0L
  /** Wall seconds spent inside each op (not its check) this round. */
  val opTimes = mutable.LinkedHashMap[String, Double]()
  def opWall: Double = opTimes.values.sum
  private var faultPending = args.injectFault
  val failures = mutable.ArrayBuffer[String]()

  /** Whether to corrupt the next checked output (the fault-injection test). */
  def takeFault(): Boolean = { val f = faultPending; faultPending = false; f }

  /** Run one timed op and its check. `check` sees the op's output and
    * returns an error message, or None when the output is correct.
    */
  def op[T](name: String)(run: => T)(check: T => Option[String]): Unit = {
    attempted += 1
    val err =
      try {
        val t0 = System.nanoTime()
        val out = run
        opTimes(name) = opTimes.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        check(out)
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { msg =>
      failed += 1
      if (failures.length < 20) failures += s"$name: $msg"
    }
  }
}

/** What a workload implements. `prepare` loads the inputs once; `setup`
  * is the graft work that must precede the first timed op (the first write
  * of the tables the rounds use), repeated and its median reported as
  * setup_s; `round` is one pass of the closed loop.
  */
trait Workload {
  def prepare(): Unit
  def setup(rep: Int): Unit
  def warmup(): Unit
  def round(): Unit
  /** Fingerprint of the inputs the seed drives (context line only). */
  def inputs: String
  /** graft bytes per stored row of the workload's written tables */
  def bytesPerRow: Double
  /** per-layer metrics beyond the span-derived ones, over `rounds` */
  def layerMetrics(rounds: Seq[Int]): Map[String, Double]
  def close(): Unit
}

object Main {
  val SetupReps = 5

  def main(argv: Array[String]): Unit = {
    // end with the launcher: a killed run.py must not leave this JVM behind
    ProcessHandle.current().parent().ifPresent(_.onExit().thenRun(() => Runtime.getRuntime.halt(3)))
    val args = Args.parse(argv)
    val tracer = new Tracer
    val ops = new Ops(args)
    args.work.mkdirs()
    val w: Workload = args.workload match {
      case "codec_file" => new CodecFile(args, tracer, ops)
      case "table_io" => new TableIo(args, tracer, ops)
      case "query_mix" => new QueryMix(args, tracer, ops)
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    val code =
      try { run(args, w, tracer, ops); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally w.close()
    // Spark leaves non-daemon threads behind; exit explicitly
    System.out.flush()
    sys.exit(code)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map(_.asInstanceOf[
      java.lang.management.GarbageCollectorMXBean].getCollectionTime).filter(_ >= 0).sum / 1e3

  private def run(args: Args, w: Workload, tracer: Tracer, ops: Ops): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    w.prepare()
    val setups = (0 until SetupReps).map { rep =>
      System.gc()
      val t0 = System.nanoTime(); w.setup(rep); (System.nanoTime() - t0) / 1e9
    }
    val coldSetup = (System.currentTimeMillis() - jvmStart) / 1e3
    w.warmup()
    // one more untimed round sizes the timed region: as many whole rounds
    // as fit in --seconds, so every run times the same stretch of warm-up
    val c0 = System.nanoTime()
    w.round()
    val rounds = math.max(2, math.ceil(args.seconds / ((System.nanoTime() - c0) / 1e9)).toInt)
    val firstOp = (System.currentTimeMillis() - jvmStart) / 1e3

    // timed region: a closed loop of rounds.
    // A traced run alternates untraced and traced rounds: the traced ones
    // give the per-layer numbers, the pairs give the tracing overhead.
    ManagementFactory.getMemoryPoolMXBeans.forEach(_.resetPeakUsage())
    val gc0 = gcSeconds(); val host0 = Host.ticks()
    val roundS = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val plainOps = mutable.ArrayBuffer[Map[String, Double]]()
    val tStart = System.nanoTime()
    for (r <- 1 to rounds) {
      tracer.round = r
      tracer.on = args.trace && r % 2 == 0
      ops.opTimes.clear()
      System.gc() // every round starts from the same heap state
      tracer.span("round", "bench")(w.round())
      roundS += ((r, tracer.on, ops.opWall))
      if (!tracer.on) plainOps += ops.opTimes.toMap
    }
    tracer.on = false
    val timed = (System.nanoTime() - tStart) / 1e9
    val host1 = Host.ticks()
    val gc = gcSeconds() - gc0
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

    val dt = math.max(host1.total - host0.total, 1L).toDouble
    val steal = (host1.steal - host0.steal) / dt
    val busy = (host1.busy - host0.busy) / dt
    val load1 = Host.load1()

    val plain = roundS.filter(!_._2)
    val traced = roundS.filter(_._2)
    val metrics: Seq[(String, Double)] =
      if (!args.trace) Seq(
        "setup_s" -> Stats.median(setups),
        // each op's median over the rounds, summed: a pause that hits one
        // op in one round does not move the figure
        "round_s" -> plainOps.flatMap(_.keySet).distinct.map(n =>
          Stats.median(plainOps.map(_.getOrElse(n, 0.0)).toSeq)).sum,
        "bytes_per_row" -> w.bytesPerRow)
      else {
        val tracedRounds = traced.map(_._1).toSeq
        val self = tracer.selfTime
        val layerSelf = Metrics.layers.map { l =>
          s"self_s.$l" -> Stats.median(tracedRounds.map(r => self.getOrElse((r, l), 0.0)))
        }
        val overhead = Stats.median(traced.map(_._3).toSeq) / Stats.median(plain.map(_._3).toSeq) - 1
        val spanned = Metrics.spanNames.map(n => n -> tracer.perRound(n, tracedRounds))
        // layers a workload does not exercise read 0
        (Metrics.zeros(Metrics.perLayer.map(_._1)) ++ layerSelf ++ spanned ++
          w.layerMetrics(tracedRounds) ++ Seq(
          "round.count" -> roundS.length.toDouble,
          "setup.cold_s" -> coldSetup,
          "jvm.gc_s" -> gc,
          "jvm.heap_peak_mb" -> heapPeak,
          "trace.overhead_frac" -> overhead,
          "host.steal_frac" -> steal,
          "host.busy_frac" -> busy,
          "host.load1" -> load1)).toSeq
      }
    if (args.trace)
      tracer.write(new java.io.File(args.work, s"spans-${args.workload}-${args.seed}.jsonl").toPath)

    // context line (not the result): sample counts and host state
    println(Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "inputs" -> Json.str(w.inputs),
      "rounds" -> roundS.length.toString, "timed_s" -> Json.num(timed),
      "round_s" -> roundS.map(r => Json.num(r._3)).mkString("[", ",", "]"),
      "setup_reps_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "setup_cold_s" -> Json.num(coldSetup), "first_op_s" -> Json.num(firstOp),
      "host_steal_frac" -> Json.num(steal), "host_busy_frac" -> Json.num(busy),
      "host_load1" -> Json.num(load1),
      "failures" -> ops.failures.map(Json.str).mkString("[", ",", "]"))))

    val expected = if (args.trace) Metrics.perLayer.map(_._1) else Metrics.endToEnd.map(_._1)
    val got = metrics.toMap
    val missing = expected.filterNot(got.contains)
    require(missing.isEmpty, s"metrics not produced: ${missing.mkString(",")}")
    val units = (Metrics.perLayer ++ Metrics.endToEnd).toMap
    val body = expected.map { n =>
      n -> Json.obj(Seq("value" -> Json.num(got(n)), "unit" -> Json.str(units(n))))
    }
    println(Json.obj(Seq(
      "correct" -> (ops.failed == 0 && ops.attempted > 0).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(body))))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
