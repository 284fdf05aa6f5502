package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cache: Path, corpus: Option[Path], injectThrow: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("cache")), m.get("corpus").map(Paths.get(_)),
      m.get("inject-throw").contains("1"))
  }
}

/** One benchmark run: the session, the listeners, the tracer and the record
  * of every operation. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(false)
  val stages = new StageListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(stages)
  spark.listenerManager.register(plans)

  val ops = ArrayBuffer.empty[Run.Op]
  val planText = mutable.LinkedHashMap.empty[String, String]
  /** fields the output checks after the JVM need */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var seq = 0

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Runs one operation and records it. A throw records `failed` with the
    * error class and no time; a success records its wall time, host steal,
    * Spark task statistics and the plans it executed. */
  def op[T](kind: String, name: String)(body: => T): Option[(Double, T)] = {
    seq += 1
    val id = s"$kind#$seq"
    val sc = spark.sparkContext
    sc.setLocalProperty(StageListener.Key, id)
    tracer.op = id
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "name" -> name)
    val nPlans = plans.size
    val ticks0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    val out =
      try {
        val v = tracer.span(kind)(body)
        val wall = (System.nanoTime() - t0) / 1e9
        rec ++= Seq("status" -> "ok", "wall_s" -> wall)
        Some((wall, v))
      } catch {
        case NonFatal(e) =>
          rec ++= Seq("status" -> "failed", "error" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).take(300))
          None
      } finally sc.setLocalProperty(StageListener.Key, null)
    rec("steal_frac") = Host.stealFrac(ticks0, Host.cpuTicks())
    org.apache.spark.PerfbenchBus.drain(sc)
    val a = stages.acc(id)
    val executed = plans.since(nPlans)
    rec ++= Seq("jobs" -> a.jobs, "tasks" -> a.tasks, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
      "shuffle_MB" -> a.shuffleBytes / 1e6, "spill_MB" -> a.spillBytes / 1e6,
      "task_skew" -> a.taskSkew,
      "non_wsc_nodes" -> executed.map(Plans.nonWsc).sum,
      "scan_rows" -> executed.map(Plans.scanRows).sum)
    if (!planText.contains(name) && executed.nonEmpty)
      planText(name) = executed.map(Plans.text).mkString("\n")
    ops += rec
    out
  }
}

object Run {
  type Op = mutable.LinkedHashMap[String, Any]

  /** wall times of the successful operations of one kind */
  def walls(ops: Seq[Op], kind: String): Seq[Double] =
    ops.filter(o => o("kind") == kind && o("status") == "ok")
      .map(_("wall_s").asInstanceOf[Double])

  def traced(o: Op): Boolean = o.getOrElse("traced", false).asInstanceOf[Boolean]

  /** traced ÷ untraced median wall time − 1, per operation name that ran
    * both ways, and the median of that over names */
  def tracingOverhead(ops: Seq[Op]): Double =
    Stats.median(ops.filter(_("status") == "ok").groupBy(_("name")).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(traced)
      val wall = (xs: Seq[Op]) => Stats.median(xs.map(_("wall_s").asInstanceOf[Double]))
      if (t.isEmpty || u.isEmpty) None else Some(wall(t) / wall(u) - 1)
    })

  /** per operation kind: sample count, median, and the highest percentile
    * with at least ten samples beyond it (when there are enough samples) */
  def latency(ops: Seq[Op]): Map[String, Map[String, Any]] =
    ops.map(_("kind").toString).distinct.map { k =>
      val w = walls(ops, k).sorted
      val tail = if (w.size < 11) None
        else Some(Map("percentile" -> 100.0 * (w.size - 10) / w.size, "s" -> w(w.size - 11)))
      k -> Map("n" -> w.size, "median_s" -> Stats.median(w), "tail" -> tail)
    }.toMap
}

/** A workload: set-up, warm-up, the timed loop and its output checks. */
trait Workload {
  /** One set-up round: ingest the workload's table afresh. */
  def ingest(r: Run, round: Int): Unit
  def warmup(r: Run): Unit
  /** One closed-loop round of operations. */
  def round(r: Run, i: Int): Unit
  /** Output checks after the loop; returns failed-check descriptions. */
  def check(r: Run): Seq[String]
  /** unit_s and op_geomean_ms over the given timed operations. */
  def endToEnd(ops: Seq[Run.Op]): Map[String, Double]
  /** Inputs for the per-layer probes of the traced run. */
  def probeInputs(r: Run): Layers.Probe
  /** Extra fields for the run record (what the output checks need). */
  def record(r: Run): Map[String, Any] = Map.empty
}

object Main {
  val SetupRounds = 2

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      // 4 MB splits: the tables here are tens of MB, and a task per file
      // (one row group each) keeps every core busy in the scan stages
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = new Run(spark, args)
    val w: Workload = args.workload match {
      case "bulk_extract" => new BulkExtract(args)
      case "export_mix" => new ExportMix(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val host0 = Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> Host.loadAvg())
    val compiles0 = Codegen.compiles

    // set-up: session start + median ingest round + warm-up; the first
    // round runs on a cold JVM, so the median of two is the mean of a cold
    // and a warm ingest, and one-time costs moved into ingest still show
    val ingestS = (0 until SetupRounds).map { i =>
      val t = System.nanoTime(); w.ingest(r, i); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    w.warmup(r)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(ingestS) + warmupS
    val nWarm = r.ops.size

    // closed loop: whole rounds until the time is spent; the traced run
    // alternates traced and untraced rounds so it can report the overhead
    val loop0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - loop0) / 1e9 < args.seconds) {
      r.tracer.on = args.trace && i % 2 == 0
      val before = r.ops.size
      w.round(r, i)
      r.ops.drop(before).foreach { o => o("traced") = r.tracer.on; o("round") = i }
      i += 1
    }
    r.tracer.on = false
    if (args.injectThrow)
      r.op("selftest", "selftest_throw") {
        throw new IllegalStateException("deliberate failure injected by --inject-throw 1")
      }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val measured = r.ops.drop(nWarm)
    val nMeasured = r.ops.size
    val checkFailures = w.check(r) ++
      (r.ops.take(nWarm) ++ r.ops.drop(nMeasured)).filter(_("status") == "failed")
        .map(o => s"${o("id")} ${o("name")} threw ${o("error")}: ${o("message")}")

    val measuredOps = measured.toSeq
    val e2e = Map("setup_s" -> setupS, "peak_rss_mb" -> Host.peakRssMb()) ++
      w.endToEnd(measuredOps.filterNot(Run.traced))

    val layers: Map[String, Any] =
      if (!args.trace) Map.empty
      else {
        val tracedOps = measuredOps.filter(Run.traced)
        val probes = Layers.probe(r, w.probeInputs(r), tracedOps, ingestS, compiles0)
        Map("metrics" -> probes,
          "tracing_overhead_frac" -> Run.tracingOverhead(measuredOps),
          "span_summary" -> r.tracer.summary.map { case (n, (c, tot, self)) =>
            n -> Map("count" -> c, "total_s" -> tot, "self_s" -> self) })
      }
    if (args.trace) r.tracer.writeJsonl(r.dir(".").resolve("spans.jsonl"))

    val attempted = measured.size
    val failedOps = measured.count(_("status") == "failed")
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "metrics" -> (if (args.trace) layers("metrics") else e2e),
      "end_to_end" -> e2e,
      "attempted" -> attempted, "failed" -> failedOps,
      "failed_frac" -> failedOps.toDouble / math.max(1, attempted),
      "check_failures" -> checkFailures,
      "setup" -> Map("session_s" -> sessionS, "ingest_s" -> ingestS,
        "warmup_s" -> warmupS, "setup_s" -> setupS),
      "loop_s" -> loopS, "rounds" -> i,
      "latency" -> Run.latency(measuredOps.filterNot(Run.traced)),
      "host" -> (host0 ++ Map("loadavg_end" -> Host.loadAvg())),
      "ops" -> r.ops)
    record ++= layers.filter(_._1 != "metrics")
    record ++= w.record(r) ++ r.extra
    Json.write(r.dir(".").resolve("record.json"), record)
    Files.write(r.dir(".").resolve("plans.txt"),
      r.planText.map { case (n, p) => s"== $n ==\n$p\n" }.mkString("\n").getBytes("UTF-8"))
    spark.stop()
  }
}
