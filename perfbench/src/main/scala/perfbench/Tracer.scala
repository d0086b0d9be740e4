package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

import graft.core.api.{Sink, Source, Transform}

/** Spans around the calls the benchmark makes into each layer of the
  * program. A span sets a job group and description for the jobs it
  * starts, and takes its own share of the task counters: the meter's
  * barrier runs at each span boundary, so events land in the innermost
  * open span. Spans stay in memory and are written as JSON lines when
  * the run ends. With `enabled = false` every method is a plain call.
  */
final class Tracer(spark: SparkSession, meter: Meter, val enabled: Boolean, workload: String) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  var op = 0
  private var open: List[(String, Counters)] = Nil

  private def flush(into: Counters): Unit = { meter.barrier(); into.add(meter.take()) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      open.headOption.fold { meter.barrier(); meter.take(); () }(p => flush(p._2))
      val sc = spark.sparkContext
      val keys = Seq("spark.jobGroup.id", "spark.job.description")
      val saved = keys.map(sc.getLocalProperty)
      sc.setJobGroup(name, s"$workload/op$op/$name", interruptOnCancel = false)
      val own = new Counters
      val parent = open.headOption.map(_._1)
      open = (name, own) :: open
      val cpu = Tracer.threadCpu()
      val start = System.nanoTime
      try body
      finally {
        val end = System.nanoTime
        val cpuNs = Tracer.threadCpu() - cpu
        flush(own)
        open = open.tail
        keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
        spans += Span(name, op, parent, start, end, cpuNs, own)
      }
    }

  /** The last closed span of this operation with this name. */
  def last(name: String): Span = spans.reverseIterator.find(s => s.op == op && s.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name in op $op"))

  /** Every span of this operation below (and including) `root`. */
  def subtree(root: String): Seq[Span] = {
    val names = mutable.Set(root)
    spans.filter(_.op == op).reverseIterator.foreach { s =>
      if (s.parent.exists(names)) names += s.name
    }
    spans.filter(s => s.op == op && names(s.name)).toSeq
  }

  def source(label: String, s: Source): Source =
    if (!enabled) s else new Source { def load(sp: SparkSession): DataFrame = span(s"build:$label")(s.load(sp)) }

  def transform(label: String, t: Transform): Transform =
    if (!enabled) t else (df: DataFrame) => span(s"build:$label")(t(df))

  def sink(label: String, s: Sink): Sink =
    if (!enabled) s else new Sink { def write(df: DataFrame): Unit = span(s"sink:$label")(s.write(df)) }

  /** Run `df` to its last row without collecting it, in a span of its
    * own; returns the row count and the executed query. */
  def materialise(name: String)(df: => DataFrame): (Long, QueryExecution) = span(name) {
    val qe = df.queryExecution
    (qe.toRdd.count(), qe)
  }

  def write(path: Path, counters: Seq[(String, Double)]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj(Seq("type" -> "span", "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "parent" -> s.parent.orNull, "jobs" -> s.c.jobs, "tasks" -> s.c.tasks))
    } :+ Json.obj(Seq("type" -> "counters", "workload" -> workload) ++ counters)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object Tracer {
  /** One call into a layer: wall and main-thread CPU time, and the task
    * counters of the jobs it ran outside its child spans. */
  final case class Span(name: String, op: Int, parent: Option[String], startNs: Long, endNs: Long,
      cpuNs: Long, c: Counters) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread. */
  def threadCpu(): Long = threads.getCurrentThreadCpuTime
}

/** Executed-plan inspection: the final adaptive plan of a query. */
object Plans {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive._
  import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
  import org.apache.spark.sql.execution.datasources.WriteFilesExec
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

  /** Every executed operator once: adaptive roots and query stages are
    * opened, a reused exchange is not entered again. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Operators that compute rows outside whole-stage codegen. Exchanges,
    * stage wrappers and write commands move or hand over rows and are
    * not counted. */
  def fallbacks(p: SparkPlan, inCodegen: Boolean = false): Int = p match {
    case a: AdaptiveSparkPlanExec => fallbacks(a.executedPlan)
    case s: QueryStageExec => fallbacks(s.plan)
    case _: ReusedExchangeExec => 0
    case w: WholeStageCodegenExec => fallbacks(w.child, inCodegen = true)
    case i: InputAdapter => fallbacks(i.child)
    case _: Exchange | _: AQEShuffleReadExec | _: CommandResultExec | _: DataWritingCommandExec |
        _: WriteFilesExec | _: ExecutedCommandExec | _: ColumnarToRowExec =>
      p.children.map(fallbacks(_)).sum
    case other => (if (inCodegen) 0 else 1) + other.children.map(fallbacks(_, inCodegen)).sum
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
}
