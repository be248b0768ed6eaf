package graft.exec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryException, Trigger}

import graft.plan.Planner

/** The one stream-start seam of the engine: every runner-owned streaming
  * query starts, runs to completion and surfaces its refusals through
  * [[drain]] — the "small library over Structured Streaming" the DLT
  * table primitives are built on.
  *
  * Partitioning (guide §2: derive partitioning from input size instead of
  * a constant tuned for either local mode or the cluster). A stateful
  * streaming operator creates one state-store instance per shuffle
  * partition — a stream-stream join keeps FOUR per partition — and every
  * microbatch pays a fixed per-store commit cost (delta file create +
  * fsync + rename against the checkpoint filesystem) regardless of how
  * many rows the store holds. With `spark.sql.shuffle.partitions` sized for
  * the cluster (the right thing for batch work), a stream whose input is
  * small pays partitions × stores × commits of pure fixed I/O: the r18
  * driver measured the SAME stream gates 2× faster at 8 cores/partitions
  * than at 32 because of exactly this. So a stateful stream's partition
  * count is derived from its listed source bytes — one partition per
  * [[BytesPerPartition]] (128 MB), and NEVER above the session's
  * configured parallelism: a large input keeps the cluster's setting, a
  * small one stops minting empty state stores.
  *
  * The derived value is set on a CLONE of the stream's session, never on
  * the shared one, so batch work other orchestrator threads plan at the
  * same moment cannot observe it. It applies only at the stream's FIRST
  * start: Spark pins `spark.sql.shuffle.partitions` (with the other
  * state-relevant confs) in the checkpoint's offset log and re-applies it
  * on every restart, so a landing directory that grows across runs cannot
  * re-shape existing state — and a restart derives nothing.
  */
object StreamTuning {

  /** Target listed source bytes per stream partition. */
  private val BytesPerPartition = 128L * 1024 * 1024

  /** Listing guard: past this many files the source is "large" without
    * finishing the walk — the answer (keep the session value) is already
    * known, and an unbounded listing would itself become the cost. */
  private[exec] val MaxListedFiles = 20000

  /** Sum the on-disk bytes of every file-backed streaming source in the
    * plan. None when the plan has no recognizable file-backed streaming
    * source (kafka, rate, custom providers), a listing fails, or the
    * listing passes [[MaxListedFiles]] — callers must then leave the
    * session configuration alone. */
  def inputBytes(df: DataFrame): Option[Long] = try {
    // the ANALYZED plan — temp-view references (every transform chain in
    // the runner) are unresolved leaves in the raw logical plan
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val sources = leaves.filter(
      _.getClass.getSimpleName.startsWith("StreamingRelation"))
    if (sources.isEmpty) return None
    val paths = sources.flatMap { rel =>
      try {
        // v1 StreamingRelation(dataSource, sourceName, output) — file
        // sources resolve through it; private[sql] at the Scala level, so
        // reflect. Anything unrecognized poisons the estimate to None
        // rather than undercounting.
        val ds = rel.getClass.getMethod("dataSource").invoke(rel)
        val declared = ds.getClass.getMethod("paths").invoke(ds)
          .asInstanceOf[Seq[String]]
        val opt = ds.getClass.getMethod("options").invoke(ds)
          .asInstanceOf[Map[String, String]]
        val all = declared ++ opt.get("path")
        if (all.isEmpty) return None
        all
      } catch { case _: ReflectiveOperationException => return None }
    }
    var total = 0L
    var files = 0
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    // listStatus, not listFiles: a located status copies owner and
    // permission, which the local filesystem loads by forking one process
    // per file — minutes for a directory near the listing cap. False once
    // the walk passes the cap.
    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(dir).forall { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(fs, st.getPath)
        else {
          if (!name.startsWith("_") && !name.startsWith(".")) {
            total += st.getLen
            files += 1
          }
          files <= MaxListedFiles
        }
      }
    val listed = paths.distinct.forall { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      !fs.exists(hp) || walk(fs, hp)
    }
    if (listed) Some(total) else None
  } catch { case scala.util.control.NonFatal(_) => None }

  /** True when the stream plan itself carries a stateful operator
    * (aggregation, dedup, stream-stream join, …) — the shapes that mint
    * one state store per shuffle partition per operator. Streams WITHOUT
    * one (passthrough appends, foreachBatch merge engines) are left at
    * the session setting on purpose: they hold no per-partition state to
    * save on, and a foreachBatch body's jobs run against the stream's
    * session conf, so a value derived from the (small) stream source
    * would silently under-partition a merge that rewrites a large
    * target. */
  private def hasStatefulOp(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    plan.isStreaming && plan.exists {
      case a: Aggregate => a.isStreaming
      case d: Deduplicate => d.isStreaming
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case n => n.isStreaming &&
        Set("DeduplicateWithinWatermark", "FlatMapGroupsWithState",
          "TransformWithState").contains(n.getClass.getSimpleName)
    }
  }

  /** The partition count for a stream over `df`, or None to keep the
    * session value: ceil(bytes / [[BytesPerPartition]]), only for plans
    * that carry streaming state, and only when it is below the session's
    * `spark.sql.shuffle.partitions`. */
  def derivePartitions(df: DataFrame): Option[Int] =
    if (!hasStatefulOp(df)) None
    else {
      val session = df.sparkSession.sessionState.conf.numShufflePartitions
      inputBytes(df)
        .map(bytes => math.max(1L, (bytes + BytesPerPartition - 1) / BytesPerPartition))
        .filter(_ < session).map(_.toInt)
    }

  /** True once the checkpoint's offset log holds a batch — the partition
    * count is pinned there and a derived value would be ignored. */
  private def pinned(df: DataFrame, checkpoint: String): Boolean = {
    val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val fs = offsets.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.exists(offsets) &&
      fs.listStatus(offsets).exists(!_.getPath.getName.startsWith("."))
  }

  /** Run `df` as a stream to completion: `sink` configures the writer
    * (format, options, output mode, foreachBatch body), then the stream
    * starts with `checkpoint` under `Trigger.AvailableNow()` — every new
    * input once, then stop.
    *
    * On a first start with a derived partition count, `df`'s analyzed plan
    * is rebound onto a clone of its session that carries the count; the
    * shared session's conf is never written. The clone has its own stream
    * manager, so the session's query listeners are added to it and see the
    * stream like any other (it is not in the session's `streams.active`).
    * Deriving only before the offset log holds a batch also bounds the
    * clones to one per checkpoint: Spark never unregisters a stream
    * manager's listener bus.
    *
    * A refusal (`Planner.PlanError`) raised inside the stream — a
    * foreachBatch guard — surfaces as itself, the same error every other
    * refusal of the action throws, not buried in Spark's
    * `StreamingQueryException`. Lifecycle time records through
    * `GateLifecycle.awaitStream`. */
  def drain(df: DataFrame, checkpoint: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val derived =
      if (pinned(df, checkpoint)) None else derivePartitions(df)
    val bound = derived.fold(df) { n =>
      val b = org.apache.spark.sql.graftnative.PlanBridge.onClonedSession(
        df, "spark.sql.shuffle.partitions", n.toString)
      df.sparkSession.streams.listListeners()
        .foreach(b.sparkSession.streams.addListener)
      b
    }
    graft.tools.GateLifecycle.awaitStream(
      sink(bound.writeStream)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start(),
      q => try q.awaitTermination() catch {
        case e: StreamingQueryException =>
          throw Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .collectFirst { case pe: Planner.PlanError => pe }
            .getOrElse(e)
      })
  }
}
