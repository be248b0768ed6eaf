package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. Times are epoch microseconds, so spans and
  * Spark's listener events share one clock. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, attrs: Map[String, Any])

/** Counts Catalyst `parsePlan` calls made through the session's parser. */
final class CountingParser(d: ParserInterface) extends ParserInterface {
  override def parsePlan(s: String) = { CountingParser.plans.incrementAndGet(); d.parsePlan(s) }
  override def parsePlanWithParameters(s: String, c: ParameterContext) = {
    CountingParser.plans.incrementAndGet(); d.parsePlanWithParameters(s, c)
  }
  override def parseExpression(s: String) = d.parseExpression(s)
  override def parseTableIdentifier(s: String) = d.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String) = d.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String) = d.parseMultipartIdentifier(s)
  override def parseQuery(s: String) = d.parseQuery(s)
  override def parseRoutineParam(s: String) = d.parseRoutineParam(s)
  override def parseTableSchema(s: String) = d.parseTableSchema(s)
  override def parseDataType(s: String) = d.parseDataType(s)
}

object CountingParser {
  val plans = new AtomicLong()
}

/** Cumulative counters fed by Spark's public listeners. */
final class Counters {
  var jobs, tasks, taskRunMs, taskCpuNs, shuffleBytes, inputBytes, spillBytes = 0L
  var queries, analysisMs, optimizationMs, planningMs = 0L
  var streams, triggers, triggerMs, addBatchMs, streamPlanningMs, commitMs = 0L
  var lifecycleMs, inputRows, stateRows = 0L
  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.tasks = tasks; c.taskRunMs = taskRunMs; c.taskCpuNs = taskCpuNs
    c.shuffleBytes = shuffleBytes; c.inputBytes = inputBytes; c.spillBytes = spillBytes
    c.queries = queries; c.analysisMs = analysisMs; c.optimizationMs = optimizationMs
    c.planningMs = planningMs; c.streams = streams; c.triggers = triggers
    c.triggerMs = triggerMs; c.addBatchMs = addBatchMs; c.streamPlanningMs = streamPlanningMs
    c.commitMs = commitMs; c.lifecycleMs = lifecycleMs; c.inputRows = inputRows
    c.stateRows = stateRows
    c
  }
}

/** In-memory span recorder plus the Spark listeners of a traced run. Spark
  * jobs are attributed to a layer by the graft frames in their call site. */
final class Tracer(spark: SparkSession) {
  private val originUs = System.currentTimeMillis() * 1000
  private val originNs = System.nanoTime()
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  @volatile private var current = 0L

  /** Runs `body` in a span and returns its result with the span's seconds. */
  def spanWith[T](name: String)(body: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val parent = current
    current = id
    val t0 = nowUs
    try {
      val r = body
      val t1 = nowUs
      spans.add(Span(id, parent, name, t0, t1, Map.empty))
      (r, (t1 - t0) / 1e6)
    } finally current = parent
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  // ------------------------------------------------------------ listeners
  val c = new Counters
  /** Finished jobs: (start ms, end ms, layer). */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, String)]
  /** Spark-job time per call-site file, over every traced job. */
  val siteSeconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val running = mutable.Map.empty[Int, (Long, String, String, Long, String)]
  private val markerStages = mutable.Set.empty[Int]
  @volatile private var markersSeen = 0L
  private val streamStart = mutable.Map.empty[java.util.UUID, Long]
  private val streamTriggerMs = mutable.Map.empty[java.util.UUID, Long]
  private val streamState = mutable.Map.empty[java.util.UUID, Long]
  @volatile private var streamsOpen = 0

  /** Call site (long form) of each running SQL execution. */
  private val sqlCallSites = mutable.Map.empty[Long, String]

  private val jobs = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlCallSites(s.executionId) = s.details
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlCallSites.remove(s.executionId)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties).getOrElse(new java.util.Properties)
      if (props.getProperty(Tracer.Marker) != null) markerStages ++= e.stageIds
      else {
        // jobs that adaptive execution submits from its own threads carry no
        // graft frames; the SQL execution that owns them does
        val stage = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
        val sql = Option(props.getProperty("spark.sql.execution.id"))
          .flatMap(id => sqlCallSites.get(id.toLong))
        val site = (sql.toSeq :+ stage).find(_.contains("graft.")).getOrElse(stage)
        running(e.jobId) = (e.time, Tracer.siteFile(site),
          Tracer.layerOf(site, props.getProperty("sql.streaming.queryId") != null),
          current, site)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      running.remove(e.jobId) match {
        case Some((t0, site, layer, parent, details)) =>
          c.jobs += 1
          jobIntervals += ((t0, e.time, layer))
          siteSeconds(site) += (e.time - t0) / 1e3
          spans.add(Span(nextId.getAndIncrement(), parent, "spark.job", t0 * 1000,
            e.time * 1000, Map("site" -> site, "layer" -> layer,
              "graft_frames" -> details.linesIterator.filter(_.contains("graft.")).take(6).toSeq)))
        case None => markersSeen += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      c.queries += 1
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        if (!streamStart.contains(e.runId)) {
          streamStart(e.runId) = java.time.Instant.parse(e.timestamp).toEpochMilli
          c.streams += 1
          streamsOpen += 1
        }
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.triggers += 1
        c.triggerMs += ms("triggerExecution")
        c.addBatchMs += ms("addBatch")
        c.streamPlanningMs += ms("queryPlanning")
        c.commitMs += ms("walCommit") + ms("commitOffsets")
        c.inputRows += p.numInputRows
        streamTriggerMs(p.runId) = streamTriggerMs.getOrElse(p.runId, 0L) + ms("triggerExecution")
        streamState(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        streamStart.remove(e.runId).foreach { t0 =>
          c.lifecycleMs += (System.currentTimeMillis() - t0) -
            streamTriggerMs.remove(e.runId).getOrElse(0L)
          c.stateRows += streamState.remove(e.runId).getOrElse(0L)
          streamsOpen -= 1
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }

  def snapshot(): Counters = synchronized(c.copy())

  /** Waits until every listener event of the work done so far is handled:
    * a marker job's end is queued behind all earlier job events, streams
    * are all terminated, and the query-execution count has settled. */
  def drain(): Unit = {
    val seen = markersSeen
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Marker, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.Marker, null)
    def waitFor(ok: => Boolean): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (!ok && System.nanoTime() < deadline) Thread.sleep(5)
    }
    waitFor(markersSeen > seen)
    waitFor(streamsOpen == 0)
    var last = -1L
    waitFor { val q = synchronized(c.queries); val same = q == last; last = q
      if (!same) Thread.sleep(50); same }
  }
}

object Tracer {
  val Marker = "perfbench.marker"

  /** The source file of a call site's first graft frame
    * (`graft.exec.TableStore.append(TableStore.scala:123)` → `TableStore.scala`),
    * else of its first frame. */
  def siteFile(callSite: String): String = {
    val lines = callSite.linesIterator.toSeq
    lines.find(_.contains("graft.")).orElse(lines.headOption)
      .map(l => l.substring(l.indexOf('(') + 1).takeWhile(c => c != ':' && c != ')'))
      .filter(_.nonEmpty).getOrElse("?")
  }

  /** The layer of a job, from the graft frames of its long call site (the
    * stack that submitted it): a data test, then the event log or the
    * monitoring pipeline, then a TableStore commit, then other work of a
    * streaming query; anything else is the runner's own work. */
  def layerOf(callSite: String, streaming: Boolean): String =
    if (callSite.contains("DataTests") || callSite.contains(".executeTest(")) "tests"
    else if (callSite.contains("EventLog.scala") || callSite.contains("Monitoring.scala")) "eventlog"
    else if (callSite.contains("TableStore.scala")) "store"
    else if (streaming) "stream"
    else "exec"

  /** Splits the window [a, b] (ms) among the jobs that ran in it: each
    * instant covered by k jobs gives 1/k of itself to each job's key, and
    * instants no job covers are idle. Returns (seconds per key, idle s). */
  def attribute(a: Long, b: Long, jobs: Seq[(Long, Long, String)]): (Map[String, Double], Double) = {
    val ev = jobs.flatMap { case (s, e, k) =>
      val (s1, e1) = (math.max(s, a), math.min(e, b))
      if (e1 > s1) Seq((s1, 1, k), (e1, -1, k)) else Nil
    }.sortBy(x => (x._1, x._2))
    val active = mutable.Map.empty[String, Int].withDefaultValue(0)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var t = a
    var covered = 0.0
    ev.foreach { case (time, d, k) =>
      val n = active.values.sum
      if (n > 0 && time > t) {
        val dt = (time - t) / 1000.0
        covered += dt
        active.foreach { case (kk, m) => if (m > 0) out(kk) += dt * m / n }
      }
      t = time
      active(k) += d
    }
    (out.toMap, (b - a) / 1000.0 - covered)
  }
}
