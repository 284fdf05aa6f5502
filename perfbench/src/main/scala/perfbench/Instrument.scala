package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer: maps, sequences, strings, numbers, booleans, null. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: Path, v: Any): Unit =
    Files.write(path, apply(v).getBytes(StandardCharsets.UTF_8))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Span recorder for the traced run. Spans live in memory and are written as
  * JSON lines at exit; with tracing off `span` only evaluates its body. */
final class Tracer(var on: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val s = spans.synchronized {
        val s = Span(spans.size, name, parent, op, System.nanoTime(), 0L)
        spans += s
        s
      }
      stack.set(s.id :: stack.get())
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get().tail)
      }
    }

  /** name → (count, total seconds, self seconds); self time is the span's
    * duration minus the time its direct children cover. */
  def summary: Map[String, (Int, Double, Double)] = spans.synchronized {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => s.end - s.start).sum / 1e9,
        ss.map(s => s.end - s.start - childTime(s.id)).sum / 1e9))
    }
  }

  def writeJsonl(path: Path): Unit = spans.synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: String,
      start: Long, var end: Long)
}

/** Per-operation Spark task statistics, keyed by the `perfbench.op` local
  * property that the benchmark sets around each timed operation. */
final class StageListener extends SparkListener {
  final class Acc {
    var jobs = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

    /** max ÷ median task time in the stage with the most task time */
    def taskSkew: Double =
      if (stageTaskMs.isEmpty) 1.0
      else {
        val ts = stageTaskMs.values.maxBy(_.sum).map(_.toDouble).toSeq
        val med = Stats.median(ts)
        if (med > 0) ts.max / med else 1.0
      }
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageOp = mutable.Map.empty[Int, String]

  def acc(op: String): Acc = synchronized(accs.getOrElseUpdate(op, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(StageListener.Key)))
    op.foreach { o =>
      acc(o).jobs += 1
      e.stageInfos.foreach(s => stageOp(s.stageId) = o)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { o =>
      val a = acc(o)
      a.tasks += 1
      a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object StageListener {
  val Key = "perfbench.op"
}

/** Collects the executed plan of every query the session runs, in order. */
final class PlanListener extends QueryExecutionListener {
  val plans = ArrayBuffer.empty[SparkPlan]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.synchronized(plans += qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def size: Int = plans.synchronized(plans.size)

  def since(n: Int): Seq[SparkPlan] = plans.synchronized(plans.drop(n).toSeq)
}

object Plans {
  /** Physical operators that run outside whole-stage codegen, not counting
    * exchanges, stage wrappers and the write command at the root. */
  def nonWsc(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nonWsc(a.executedPlan)
    case s: QueryStageExec => nonWsc(s.plan)
    case w: WholeStageCodegenExec => inputs(w.child).map(nonWsc).sum
    case _: Exchange | _: ReusedExchangeExec | _: InputAdapter => p.children.map(nonWsc).sum
    case other =>
      val name = other.getClass.getSimpleName
      val structural = name.startsWith("AQEShuffleRead") || name.contains("Write") ||
        name.startsWith("AppendData") || name.startsWith("OverwriteByExpression") ||
        name.startsWith("ExecutedCommand") || name.startsWith("DataWritingCommand")
      (if (structural) 0 else 1) + other.children.map(nonWsc).sum
  }

  /** every physical operator, through adaptive plans, query stages and
    * whole-stage codegen */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** rows produced by the file scans, after file and row-group pruning */
  def scanRows(p: SparkPlan): Long = nodes(p).collect {
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum

  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case i: InputAdapter => Seq(i.child)
    case o => o.children.flatMap(inputs)
  }

  def text(p: SparkPlan): String = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
    case o => o.treeString
  }
}

/** Host context and process memory, read from /proc; never fails the run. */
object Host {
  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(java.nio.file.Paths.get(path)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  /** (steal ticks, total ticks) since boot */
  def cpuTicks(): (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val v = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }.getOrElse((0L, 0L))

  def stealFrac(t0: (Long, Long), t1: (Long, Long)): Double =
    if (t1._2 > t0._2) (t1._1 - t0._1).toDouble / (t1._2 - t0._2) else 0.0

  def loadAvg(): String = read("/proc/loadavg").map(_.trim).getOrElse("")

  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(l => l.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}

/** Spark's own codegen histograms (CodegenMetrics). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics

  def maxMethodBytes: Long =
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax

  /** (compilations, mean compile ms) so far */
  def compiles: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
