package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed user operation: a stage call, a query or a txlog call. */
final case class OpSample(name: String, group: String, pass: Int, seconds: Double, ok: Boolean)

final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the calls the benchmark makes into each layer. Kept in
  * memory and written out when the run ends; a no-op unless tracing.
  * Single client thread, so the parent is the innermost open span.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var pass: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, pass, t0, System.nanoTime())
      }
    }

  /** Seconds in spans called `name`, per call. */
  def durations(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  def json: String = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"pass":${s.pass},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Engine counts, attributed to the operation group (`ingest`, `eda`,
  * `curation`, `lakehouse`) that was current when each job started. A job
  * started by a helper thread inside a call (the connected-components
  * speculation) lands in the group of the call that spawned it.
  */
final class EngineListener extends SparkListener {
  @volatile var phase: String = ""

  final class Counts {
    var tasks, stages, runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
  }

  private val byPhase = mutable.Map.empty[String, Counts]
  private val jobPhase = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobLaunched = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val jobOk = mutable.Map.empty[Int, Boolean]

  private def counts(p: String): Counts = byPhase.getOrElseUpdate(p, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobPhase(e.jobId) = phase
    e.stageIds.foreach { s =>
      stageJob.getOrElseUpdate(s, e.jobId)
      stagePhase.getOrElseUpdate(s, phase)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOk(e.jobId) = e.jobResult == JobSucceeded
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach(j => jobLaunched(j) += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stagePhase.getOrElse(e.stageInfo.stageId, phase)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stagePhase.getOrElse(e.stageId, phase))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  /** Engine metrics over `phases` (all when empty), divided by `units`
    * (passes) where they are totals. A task counts as useful when its job
    * succeeded; tasks of failed or cancelled jobs are wasted work.
    */
  def metrics(prefix: String, phases: Set[String], units: Int, wallS: Double, cores: Int): Map[String, Double] = synchronized {
    def selected(p: String) = phases.isEmpty || phases(p)
    val sel = byPhase.iterator.filter { case (p, _) => selected(p) }.map(_._2).toSeq
    def sum(f: Counts => Long): Double = sel.map(f).sum.toDouble
    val jobs = jobPhase.iterator.filter { case (_, p) => selected(p) }.map(_._1).toSeq
    val launched = jobs.map(jobLaunched).sum.toDouble
    val useful = jobs.filter(j => jobOk.getOrElse(j, false)).map(jobLaunched).sum.toDouble
    val n = math.max(units, 1).toDouble
    Map(
      s"$prefix.tasks" -> sum(_.tasks) / n,
      s"$prefix.stages" -> sum(_.stages) / n,
      s"$prefix.executor_run_s" -> sum(_.runMs) / 1e3 / n,
      s"$prefix.executor_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      s"$prefix.gc_s" -> sum(_.gcMs) / 1e3 / n,
      s"$prefix.core_busy" -> (if (wallS > 0) sum(_.runMs) / 1e3 / (wallS * cores) else 0.0),
      s"$prefix.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      s"$prefix.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      s"$prefix.spill_bytes" -> sum(_.spill) / n,
      s"$prefix.input_bytes" -> sum(_.input) / n,
      s"$prefix.output_bytes" -> sum(_.output) / n,
      s"$prefix.useful_task_ratio" -> (if (launched > 0) useful / launched else 1.0))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
