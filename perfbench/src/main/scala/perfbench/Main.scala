package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one workload run does around the measured loop. */
trait Workload {
  /** Set-up after a fresh session: the first touch of the inputs. */
  def setUp(ctx: Ctx): Unit

  /** One unit of work — a pipeline pass, a query mix or a commit-stream
    * episode — recording its operations through `ctx.op`.
    */
  def pass(ctx: Ctx): Unit

  /** Workload-level numbers for the report. */
  def report(ctx: Ctx): Map[String, Double]
}

/** Workloads run one after the other in each pass. */
final class Sequence(parts: Workload*) extends Workload {
  def setUp(ctx: Ctx): Unit = parts.foreach(_.setUp(ctx))
  def pass(ctx: Ctx): Unit = parts.foreach(_.pass(ctx))
  def report(ctx: Ctx): Map[String, Double] = parts.map(_.report(ctx)).reduce(_ ++ _)
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer,
    val listener: Option[EngineListener]) {
  val ops = mutable.ArrayBuffer.empty[OpSample]
  var measuring = false
  var pass = 0
  var passes = 0 // measured passes completed

  /** Times one user operation. An exception fails the operation and is
    * reported, never rethrown: a failed call must not end the run or
    * masquerade as a fast one.
    */
  def op[T](name: String, group: String)(body: => T): Option[T] = {
    listener.foreach(_.phase = group)
    val t0 = System.nanoTime()
    val r =
      try Some(tracer(s"op.$group")(body))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    if (measuring) ops += OpSample(name, group, pass, (System.nanoTime() - t0) / 1e9, r.isDefined)
    r
  }

  /** Marks an already recorded operation of this pass as wrong. */
  def fail(name: String): Unit =
    if (measuring) {
      val i = ops.lastIndexWhere(o => o.name == name && o.pass == pass)
      if (i >= 0) ops(i) = ops(i).copy(ok = false)
    }

  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Main.deleteTree(d)
    Files.createDirectories(d)
  }
}

/** `perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed>`
  *
  * Closed loop, one client: each operation starts when the previous one
  * has returned. Spark runs `local[cores]` with `cores` shuffle
  * partitions. Order of a run: three set-ups (a fresh session with the
  * graft extensions, then the workload's first touch of its inputs; the
  * first one counts from JVM start), one untimed warm-up pass (JIT, code
  * generation, lazy initialisation), then whole measured passes until
  * `seconds` have passed, at least two. Writes `result.json` (and
  * `trace.json` when tracing) to the work directory.
  */
object Main {
  val SetUps = 3
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, input, workDir, secondsArg, traceArg, seedArg) = args
    val work = Paths.get(workDir)
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def since(t0: Long) = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      // the lake's batch side: a pipeline refresh, then the notebook's queries
      case "batch" => new Sequence(new Ingest(s"$input/pfam"), new Analytics(s"$input/tables"))
      case "lakehouse" => new Lakehouse
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups, setupShares = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val untraced = new Tracer(false)
    for (i <- 0 until SetUps) {
      val t0 = System.nanoTime()
      val j0 = cpuJiffies()
      if (spark != null) spark.stop()
      spark = session(work, cores)
      wl.setUp(new Ctx(spark, work, seed, untraced, None))
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else since(t0))
      setupShares += unstolen(j0, cpuJiffies())
    }
    val w0 = System.nanoTime()
    val warm = new Ctx(spark, work, seed, untraced, None)
    warm.pass = -1
    wl.pass(warm)
    spark.catalog.clearCache()
    val warmup = since(w0)
    System.gc()

    val tracer = new Tracer(tracing)
    val listener = if (tracing) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener(_))
    val ctx = new Ctx(spark, work, seed, tracer, listener)
    ctx.measuring = true
    val passWalls, passShares = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val m0 = cpuJiffies()
    while (since(t0) < seconds || ctx.passes < MinPasses) {
      tracer.pass = ctx.pass
      val p0 = System.nanoTime()
      val j0 = cpuJiffies()
      wl.pass(ctx)
      passWalls += since(p0)
      passShares += unstolen(j0, cpuJiffies())
      // release the pass's cached relations and garbage outside the timed
      // sections, so no pass pays for the one before it
      spark.catalog.clearCache()
      System.gc()
      ctx.passes += 1
      ctx.pass += 1
    }
    val wall = since(t0)
    val stolen = 1.0 - unstolen(m0, cpuJiffies())
    listener.foreach(_ => waitForListeners(spark))
    val metrics = wl.report(ctx) ++ Map("host.steal_share" -> stolen) ++
      listener.map(_.metrics("spark", Set.empty, ctx.passes, wall, cores)).getOrElse(Map.empty)
    spark.stop()

    def nums(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val ops = ctx.ops.map { o =>
      Json.obj(Seq("name" -> Json.str(o.name), "group" -> Json.str(o.group), "pass" -> o.pass.toString,
        "s" -> Json.num(o.seconds), "ok" -> o.ok.toString))
    }.mkString("[", ",\n", "]")
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_s" -> nums(setups),
      "setup_unstolen" -> nums(setupShares),
      "warmup_s" -> Json.num(warmup),
      "pass_s" -> nums(passWalls),
      "pass_unstolen" -> nums(passShares),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "spans" -> tracer.spans.size.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "ops" -> ops))
    Files.write(work.resolve("result.json"), result.getBytes(UTF_8))
    if (tracing) Files.write(work.resolve("trace.json"), tracer.json.getBytes(UTF_8))
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Listener events are delivered asynchronously: drain the bus before
    * reading counts. `listenerBus` is package-private in Scala but a
    * public method in bytecode.
    */
  private def waitForListeners(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case NonFatal(_) => Thread.sleep(2000) }

  /** (busy, stolen) CPU jiffies of the whole machine since boot, from
    * /proc/stat: busy = user + nice + system + irq + softirq; stolen = time
    * the hypervisor ran something else while a virtual CPU wanted to run.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of the CPU time wanted between two readings that the machine
    * got (1 without a hypervisor taking any). Wall times scaled by it read
    * as on an uncontended host, so a noisy neighbour is not a regression.
    */
  def unstolen(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen <= 0) 1.0 else busy.toDouble / (busy + stolen)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .linesIterator.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}
