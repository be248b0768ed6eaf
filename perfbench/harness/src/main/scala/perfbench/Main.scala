package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.config.Project
import graft.plan.{DependencyAnalyzer, Planner}

/** Drives one workload through the engine's public entry points and writes
  * the measurements to `<work>/result.json` and the spans to
  * `<work>/spans.json`. An untraced run (`--trace 0`) times
  * the operations only. A traced run (`--trace 1`) alternates untraced and
  * traced operations: traced ones record spans around the calls into each
  * layer and register Spark's public listeners, and the difference between
  * the two medians is the tracing overhead.
  *
  * Operations: `frontend_scale` validates the project
  * (`ValidateProject.validate`); `medallion_full` runs it with
  * `--full-refresh`; `medallion_incremental` lands one staged increment and
  * runs it without a refresh, timed from landing complete to return.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val project = work.resolve("project").toString
    val warehouse = work.resolve("warehouse").toString
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt

    val builder = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    if (traced) builder.withExtensions(_.injectParser((_, d) => new CountingParser(d)))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val bench = new Bench(spark, tracer, workload, project, warehouse, work, a)
    val out = mutable.LinkedHashMap[String, Any]()
    try {
      bench.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .foreach(_.resetPeakUsage())
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (bench.hasNext && (i < bench.minOps || System.nanoTime() < deadline)) {
        bench.op(traced && i % 2 == 1)
        i += 1
      }
      out("setup_s") = setupS
      out ++= bench.result()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      out("peak_rss_mb") = Bench.vmHwmMb()
      out("heap_peak_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      Json.write(work.resolve("result.json"), out)
      Json.writeSpans(work.resolve("spans.json"), tracer.allSpans)
      spark.stop()
    }
  }
}

final class Bench(spark: SparkSession, tracer: Tracer, workload: String,
    project: String, warehouse: String, work: Path, a: Map[String, String]) {
  private val env = "dev"
  private val staging = work.resolve("staging")
  private val landing = work.resolve("landing")
  private val untracedS = mutable.ArrayBuffer.empty[Double]
  private val tracedS = mutable.ArrayBuffer.empty[Double]
  /** Per traced operation: metric → value. */
  private val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted, failed = 0L
  private var landed = 0
  private val nIncrements = a.get("increments").map(_.toInt).getOrElse(0)

  val minOps: Int = a("min_ops").toInt
  def hasNext: Boolean = workload != "medallion_incremental" || landed < nIncrements

  /** Durations of the set-up operations, in order. */
  val setupOpsS = mutable.ArrayBuffer.empty[Double]
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupOpsS += (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = workload match {
    case "frontend_scale" => (1 to a("warmup").toInt).foreach(_ => timed(validate()))
    case "medallion_full" => (1 to a("warmup").toInt).foreach(_ => timed(run(full = true)))
    case "medallion_incremental" =>
      timed(run(full = true))
      (1 to a("warmup").toInt).foreach { _ => land(); timed(run(full = false)) }
  }

  /** One measured operation. */
  def op(traced: Boolean): Unit = {
    if (workload == "medallion_incremental") land()
    if (!traced) {
      val t0 = System.nanoTime()
      doOp()
      untracedS += (System.nanoTime() - t0) / 1e9
    } else {
      val row = mutable.Map.empty[String, Double]
      val gc0 = Bench.gcSeconds()
      val frontS = frontEnd(row)
      if (workload == "frontend_scale") tracedS += frontS
      else {
        val fs0 = FsStats(warehouse)
        tracer.attach()
        val c0 = tracer.snapshot()
        val a0 = System.currentTimeMillis()
        val (outcomes, s) = tracer.spanWith("RunProject.execute")(doOp())
        val a1 = System.currentTimeMillis()
        tracer.drain()
        tracer.detach()
        tracedS += s
        execLayers(row, c0, tracer.snapshot(), a0, a1, outcomes)
        storeLayers(row, fs0, FsStats(warehouse))
      }
      row("jvm.gc_s") = Bench.gcSeconds() - gc0
      layerRows += row.toMap
    }
  }

  private def doOp(): Seq[graft.exec.PipelineOrchestrator.Outcome] = workload match {
    case "frontend_scale" => validate(); Nil
    case "medallion_full" => run(full = true)
    case _ => run(full = false)
  }

  private def validate(): Unit = {
    val (ok, issues) = graft.ValidateProject.validate(spark, project, env)
    val expect = a("expect_flowgroups").toInt
    attempted += 1
    if (ok != expect || issues.nonEmpty) {
      failed += 1
      errors += s"validate: $ok of $expect flowgroups ok, ${issues.size} issue(s): " +
        issues.take(3).map(i => s"${i.context}: ${i.message}").mkString("; ")
    }
  }

  private def run(full: Boolean): Seq[graft.exec.PipelineOrchestrator.Outcome] = {
    val outcomes = graft.RunProject.execute(spark, project, env, warehouse,
      flags = if (full) Set("--full-refresh") else Set.empty)
    attempted += outcomes.size
    outcomes.filter(o => o.error.isDefined || o.skipped).foreach { o =>
      failed += 1
      errors += s"${o.flowgroup}: " +
        o.error.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse("skipped")
    }
    outcomes
  }

  /** Moves the next staged increment into the landing directories. The
    * nation snapshot replaces the previous one. */
  private def land(): Unit = {
    landed += 1
    val inc = staging.resolve(f"$landed%04d")
    for (table <- Files.list(inc).iterator().asScala.toSeq.sortBy(_.toString);
         f <- Files.list(table).iterator().asScala.toSeq.sortBy(_.toString)) {
      val dest = landing.resolve(table.getFileName)
      Files.createDirectories(dest)
      Files.move(f, dest.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The front end of a run, call by call: the same sequence of layer calls
    * `ValidateProject.validate` makes, each in its own span. */
  private def frontEnd(row: mutable.Map[String, Double]): Double = {
    val p0 = CountingParser.plans.get()
    val (_, s) = tracer.spanWith("frontend") {
      val (project_, loadS) = tracer.spanWith("config.load")(Project.load(project))
      val ((files, resolved), resolveS) = tracer.spanWith("config.resolve") {
        val files = project_.resolutionFiles
        (files, files.flatMap(project_.resolvePipelineFile(_, env, lenient = true)))
      }
      val (_, orderS) = tracer.spanWith("plan.order")(resolved.foreach(fg =>
        Planner.plan(fg, a => DependencyAnalyzer.actionInputs(spark, a,
          projectRoot = project))))
      val (gens, graphS) = tracer.spanWith("plan.graph") {
        val g = DependencyAnalyzer.flowgroupGraph(spark, resolved, projectRoot = project)
        row("plan.edges") = g.edges.values.map(_.size).sum.toDouble
        g.generations.size
      }
      row("config.load_s") = loadS
      row("config.resolve_s") = resolveS
      row("config.files") = files.size.toDouble
      row("config.flowgroups") = resolved.size.toDouble
      row("config.actions") = resolved.map(_.actions.size).sum.toDouble
      row("plan.order_s") = orderS
      row("plan.graph_s") = graphS
      row("plan.generations") = gens.toDouble
    }
    row("plan.sql_parses") = (CountingParser.plans.get() - p0).toDouble
    s
  }

  private def execLayers(row: mutable.Map[String, Double], c0: Counters, c1: Counters,
      a0: Long, a1: Long, outcomes: Seq[graft.exec.PipelineOrchestrator.Outcome]): Unit = {
    val wall = (a1 - a0) / 1000.0
    val jobs = tracer.synchronized(tracer.jobIntervals.filter(j => j._2 > a0 && j._1 < a1).toSeq)
    val (byLayer, idle) = Tracer.attribute(a0, a1, jobs)
    def d(f: Counters => Long) = (f(c1) - f(c0)).toDouble
    row("exec.jobs") = d(_.jobs)
    row("exec.tasks") = d(_.tasks)
    row("exec.task_run_s") = d(_.taskRunMs) / 1e3
    row("exec.task_cpu_s") = d(_.taskCpuNs) / 1e9
    row("exec.busy_frac") = d(_.taskRunMs) / 1e3 / (wall * spark.sparkContext.defaultParallelism)
    row("exec.idle_s") = idle
    row("exec.shuffle_bytes") = d(_.shuffleBytes)
    row("exec.input_bytes") = d(_.inputBytes)
    row("exec.spill_bytes") = d(_.spillBytes)
    row("exec.job_s") = byLayer.getOrElse("exec", 0.0)
    row("store.job_s") = byLayer.getOrElse("store", 0.0)
    row("stream.job_s") = byLayer.getOrElse("stream", 0.0)
    row("tests.job_s") = byLayer.getOrElse("tests", 0.0)
    row("eventlog.job_s") = byLayer.getOrElse("eventlog", 0.0)
    row("accounting.wall_s") = wall
    val fgSum = outcomes.map(_.durationMs).sum / 1e3
    row("exec.fg_sum_s") = fgSum
    row("exec.fg_parallelism") = fgSum / wall
    row("catalyst.queries") = d(_.queries)
    row("catalyst.analysis_s") = d(_.analysisMs) / 1e3
    row("catalyst.optimization_s") = d(_.optimizationMs) / 1e3
    row("catalyst.planning_s") = d(_.planningMs) / 1e3
    row("stream.queries") = d(_.streams)
    row("stream.triggers") = d(_.triggers)
    row("stream.trigger_s") = d(_.triggerMs) / 1e3
    row("stream.add_batch_s") = d(_.addBatchMs) / 1e3
    row("stream.planning_s") = d(_.streamPlanningMs) / 1e3
    row("stream.commit_s") = d(_.commitMs) / 1e3
    row("stream.lifecycle_s") = d(_.lifecycleMs) / 1e3
    row("stream.input_rows") = d(_.inputRows)
    row("stream.state_rows") = d(_.stateRows)
  }

  private def storeLayers(row: mutable.Map[String, Double], before: FsStats,
      after: FsStats): Unit = {
    val written = after.files.filter { case (p, (size, mtime)) =>
      before.files.get(p).forall(_ != ((size, mtime)))
    }
    row("store.files_written") = written.size.toDouble
    row("store.bytes_written") = written.values.map(_._1).sum.toDouble
    row("store.changelog_bytes") = after.bytesWhere(_.contains("__changes"))
    row("store.tombstone_bytes") = after.bytesWhere(_.contains("__tombstones"))
    row("store.checkpoint_bytes") = after.bytesWhere(_.contains("/_checkpoints/"))
    row("store.warehouse_bytes") = after.bytesWhere(_ => true)
  }

  def result(): Map[String, Any] = {
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    val layers: Map[String, Double] =
      layerRows.flatMap(_.keys).distinct.map(k => k -> med(layerRows.flatMap(_.get(k)).toSeq)).toMap
    val counts: Map[String, Seq[Double]] =
      layerRows.flatMap(_.keys).distinct.map(k => k -> layerRows.flatMap(_.get(k)).toSeq).toMap
    Map(
      "setup_ops_s" -> setupOpsS.toSeq,
      "op_s" -> untracedS.toSeq,
      "traced_op_s" -> tracedS.toSeq,
      "layers" -> layers,
      "per_op" -> counts,
      "sites_s" -> tracer.synchronized(tracer.siteSeconds.toMap),
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "increments_landed" -> landed,
      "warehouse_bytes" -> FsStats(warehouse).bytesWhere(_ => true))
  }
}

object Bench {

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def vmHwmMb(): Double = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status")) { s =>
    s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}

/** Every regular file under a directory: path → (bytes, mtime). */
final case class FsStats(files: Map[String, (Long, Long)]) {
  def bytesWhere(p: String => Boolean): Double =
    files.collect { case (k, (size, _)) if p(k) => size }.sum.toDouble
}

object FsStats {
  def apply(root: String): FsStats = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) FsStats(Map.empty[String, (Long, Long)])
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      FsStats(s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val f = p.toFile
        p.toString -> ((f.length(), f.lastModified()))
      }.toMap)
    }
  }
}

/** Minimal JSON writer for the result file (numbers, strings, maps, seqs). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }

  def write(p: Path, m: scala.collection.Map[String, Any]): Unit =
    Files.writeString(p, render(m))

  def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Files.writeString(p, spans.sortBy(_.id).map(s => render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs)).mkString("[\n", ",\n", "\n]"))
}
