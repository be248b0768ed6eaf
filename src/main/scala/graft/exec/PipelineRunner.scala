package graft.exec

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.operators.{DataTests, Expectations, Quarantine, ScdMerge, SchemaTransform, SnapshotCdc}
import graft.plan.Planner

/** Plugin traits — the Scala equivalent of the reference's python-function
  * load/transform plugins (generators/load/python.py,
  * generators/transform/python.py). Implementations are looked up by class
  * name and instantiated reflectively. */
trait SourceFunction {
  def apply(spark: SparkSession, parameters: Map[String, Any]): DataFrame
}
trait TransformFunction {
  def apply(inputs: Seq[DataFrame], spark: SparkSession, parameters: Map[String, Any]): DataFrame
}
trait BatchHandler {
  def apply(df: DataFrame, batchId: Long): Unit
}
/** Snapshot-polling source for snapshot-CDC writes — DLT's
  * `next_snapshot_and_version(latest_snapshot_version)` contract
  * (reference: snapshot_cdc_source_function.py): given the last processed
  * version (None on first run), return the next full snapshot and its
  * version, or None when caught up. Versions must be monotonically
  * increasing. */
trait SnapshotFunction {
  def apply(spark: SparkSession, lastVersion: Option[Long],
      parameters: Map[String, Any]): Option[(DataFrame, Long)]
}

/** The interpreter: executes a resolved FlowGroup as real DataFrames — the
  * Spark-native replacement for the reference's generate-then-run-on-DLT
  * design (SURVEY preamble: "an interpreter, not a generator").
  *
  * Each action builds a DataFrame registered in the view registry; write
  * actions run batch jobs or streaming queries. Batch writes and
  * `Trigger.AvailableNow` streams make the whole pipeline runnable to
  * completion in one call — the `once` backfill semantics of DLT flows.
  */
final class PipelineRunner(
    spark: SparkSession,
    store: TableStore,
    checkpointRoot: String,
    plugins: Map[String, AnyRef] = Map.empty,
    hooks: PipelineHooks = PipelineHooks.noop,
    /** Base for project-relative file references in YAML (sql_path,
      * expectations_file, schema_path/schema_file). */
    projectRoot: String = ".",
    /** Project-defined operational-metadata columns (the lhp.yaml
      * operational_metadata catalog): name → expression + applies_to scope
      * + enabled flag. */
    opMetaColumns: Map[String, graft.operators.OperationalMetadata.ColumnDef] = Map.empty,
    runId: String = java.util.UUID.randomUUID().toString,
    /** Tables to rebuild from scratch this run (drop table + stream
      * checkpoints before writing); "*" = every write target — the
      * reference CLI's --full-refresh. */
    fullRefresh: Set[String] = Set.empty,
    /** Project uc_tagging policy (reference models/_uc_tagging.py — on by
      * default; `enabled: false` disables the tag sidecar + hook while
      * comments still apply). */
    tagsEnabled: Boolean = true,
    /** True when an orchestrator performed the full-refresh DROPS up front
      * (once globally — per-runner drops would let a cross-flowgroup
      * fan-in's later flow wipe an earlier flow's fresh output). The
      * runner then skips its own table/companion drops but keeps every
      * OTHER refresh behavior (checkpoint wipe is idempotent; Auto Loader
      * schema-pin reset and includeExistingFiles snapshot re-take are
      * per-load-action and fire exactly once). */
    refreshDropsExternal: Boolean = false,
    /** Reconcile mode (uc_tagging.remove_undeclared_tags): true = existing
      * tags absent from the declared set are REMOVED; false (reference
      * default) = tagging is purely additive — a tag declared last month
      * survives a config that no longer mentions it. */
    removeUndeclaredTags: Boolean = false,
    /** Default root for file sinks that declare no `path` option. None =
      * `<warehouse>/_sinks`; sandbox runs pass a namespaced root so a dev
      * run's sink output never appends into the shared default location. */
    sinkRoot: Option[String] = None) {

  private val defaultSinkRoot: String =
    sinkRoot.getOrElse(s"${store.warehouse}/_sinks")

  // Spark 4's checkpoint file-checksum sidecars write one extra file per
  // checkpoint file — for a stateful microbatch that means 2× the file ops
  // on EVERY state-store commit, measured at 30-40% of the q62
  // stream-stream join's wall (state commitMs 58.6 s → 30.0 s summed, run
  // wall 10.5 s → 7.3 s). They detect storage-layer corruption only; the
  // engine's exactly-once contract comes from its own protocol (idempotent
  // file placement, intent markers, replay-safe merges — kill-matrix
  // pinned, checksums uninvolved). Default them OFF once any runner is
  // constructed. NOTE the setting is SESSION-WIDE from that point on: it
  // also covers non-runner streaming queries sharing the session (Spark
  // offers no per-query writeStream option for it). A deployment that
  // wants detection opts back in via pipeline_config `configuration`,
  // which lands in the session BEFORE the runner is constructed and is
  // honored here by the explicit-set check.
  locally {
    val k = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    if (!spark.sessionState.conf.contains(k)) spark.conf.set(k, "false")
  }

  /** Resolve a YAML file reference: absolute/existing as-is, else relative
    * to the project root; bare schema names resolve to
    * `<root>/schemas/<name>.yaml` (the reference's schema_file layout). */
  private def resolveFile(ref: String): java.nio.file.Path = {
    val direct = java.nio.file.Paths.get(ref)
    val inRoot = java.nio.file.Paths.get(projectRoot, ref)
    if (java.nio.file.Files.exists(direct)) direct
    else if (java.nio.file.Files.exists(inRoot)) inRoot
    else java.nio.file.Paths.get(projectRoot, "schemas", s"$ref.yaml")
  }

  private def readFile(ref: String): String =
    new String(java.nio.file.Files.readAllBytes(resolveFile(ref)))

  /** Checkpoint location for a streaming action, namespaced by pipeline and
    * flowgroup — action names are only unique WITHIN a flowgroup, so a bare
    * `<root>/<action>` path would silently share stream state across
    * flowgroups (found by the partitioned-vs-flat CDC property test). */
  private def checkpointFor(action: String): String =
    s"$checkpointRoot/$currentPipeline/$currentFlowgroup/$action"

  private var currentPipeline = ""
  private var currentFlowgroup = ""
  private var currentOpMeta: Option[Seq[String]] = None


  /** View registry: our stand-in for dp.temporary_view (SURVEY §1.1). */
  private val views = mutable.LinkedHashMap[String, DataFrame]()
  /** Views that are streaming DataFrames. */
  private val streamingViews = mutable.Set[String]()

  def view(name: String): DataFrame = views.getOrElse(name,
    spark.table(name)) // fall through to catalog temp views / tables

  private def resolveSource(name: String): DataFrame =
    views.getOrElse(name, store.readIfExists(name).getOrElse(spark.table(name)))

  private def register(target: Option[String], df: DataFrame, streaming: Boolean): Unit =
    target.foreach { t =>
      views(t) = df
      if (streaming) streamingViews += t
      // streaming DFs register as temp views too: SQL over them stays
      // streaming (how incremental MVs aggregate their source)
      df.createOrReplaceTempView(t)
    }

  /** Operational-metadata injection for an action's output (reference:
    * EVERY load/transform/write generator consults
    * OperationalMetadataService). Selection semantics mirror
    * metadata.py:170-253 exactly:
    *  - an explicit action-level `false` disables injection outright;
    *  - otherwise the selected names are the UNION of the flowgroup-level
    *    and action-level selections (not an override) — `true` at either
    *    level selects every available column;
    *  - the selected set then filters per-column by `applies_to` against
    *    this action's target type (loads/transforms = `view`, writes their
    *    table kind), so a view-scoped column never lands on a table and a
    *    default-scoped custom column never lands on a load.
    * Writes inherit too: their source views usually already carry the
    * columns (re-injection overwrites with the same values), but an
    * aggregating or catalog-reading SQL write drops them, and the
    * reference re-applies at the write generator. `_source_file` only
    * materializes on file loads — other actions have no `_metadata`
    * struct to project it from. */
  private def withOpMeta(a: Action, df: DataFrame): DataFrame = {
    import graft.model.OpMeta
    val sel: Option[Seq[String]] = (a.operationalMetadata, currentOpMeta) match {
      case (Some(OpMeta.Disabled), _) => None
      case (Some(OpMeta.Enabled(cols)), fg) =>
        if (cols.isEmpty || fg.exists(_.isEmpty)) Some(Nil) // either level = all
        else Some((cols ++ fg.getOrElse(Nil)).distinct)
      case (None, fg) => fg
    }
    val targetType = a match {
      case _: MaterializedViewWrite => "materialized_view"
      case _: WriteAction => "streaming_table"
      case _ => "view"
    }
    sel match {
      case None => df
      case Some(select) => graft.operators.OperationalMetadata.inject(df,
        graft.operators.OperationalMetadata.Context(
          currentPipeline, currentFlowgroup, runId,
          isFileLoad = a.isInstanceOf[CloudFilesLoad],
          targetType = targetType),
        custom = opMetaColumns, select = select)
    }
  }

  /** Load actions transitively upstream of a write target named in this
    * run's full refresh: their schema-pin / preexisting-listing sidecars
    * reset along with the table (Auto Loader's schema-location reset applies
    * to TARGETED refreshes too, not only `--full-refresh *`). */
  private var refreshTargetedLoads: Set[String] = Set.empty

  private def computeRefreshTargetedLoads(fg: FlowGroup,
      inputs: Action => Seq[String]): Set[String] =
    if (fullRefresh.isEmpty) Set.empty
    else {
      val deps = Planner.dependencies(fg.actions, inputs)
      val seeds = fg.actions.collect {
        case w: WriteAction
          if fullRefresh.contains("*") || fullRefresh.contains(w.table) => w.name }
      val closure = mutable.Set[String]()
      def visit(n: String): Unit =
        if (closure.add(n)) deps.getOrElse(n, Set.empty).foreach(visit)
      seeds.foreach(visit)
      fg.actions.collect {
        case l: CloudFilesLoad if closure(l.name) => l.name }.toSet
    }

  def run(fg: FlowGroup): Unit = {
    currentPipeline = fg.pipeline
    currentFlowgroup = fg.flowgroup
    currentOpMeta = fg.operationalMetadata
    try {
      // dependency edges include views referenced inside SQL (Catalyst
      // parse), so SQL-only consumers order and validate correctly. The
      // parse is memoized per action: validate/order/refresh-target passes
      // each consult it, and re-parsing the same SQL 3-5x per action is
      // pure waste on metadata-plane latency.
      val parsed = mutable.Map[String, Seq[String]]()
      val inputs = (a: Action) => parsed.getOrElseUpdate(a.name,
        graft.plan.DependencyAnalyzer.actionInputs(spark, a,
          projectRoot = projectRoot))
      refreshTargetedLoads = computeRefreshTargetedLoads(fg, inputs)
      // opt-in per-action wall-clock lines (`spark.graft.timing=true`):
      // the profiling seam for locating which ACTION dominates a pipeline
      // run — stderr, not the event log, because timing noise is a
      // diagnosis artifact, not operational history
      val timing = spark.conf.getOption("spark.graft.timing").contains("true")
      Planner.plan(fg, inputs).foreach { a =>
        val t0 = System.nanoTime()
        execute(a)
        if (timing) System.err.println(
          f"[graft] TIMING ${fg.pipeline}/${fg.flowgroup}/${a.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      hooks.onFlowgroupComplete(fg.pipeline, fg.flowgroup, None)
    } catch { case e: Throwable =>
      hooks.onFlowgroupComplete(fg.pipeline, fg.flowgroup, Some(e))
      throw e
    } finally {
      // release frames cached for write-path reuse (zorder quantile pass)
      pendingUnpersist.foreach(df => { df.unpersist(): Unit })
      pendingUnpersist.clear()
    }
  }

  def execute(action: Action): Unit = action match {

    // ------------------------------------------------------------- loads
    case a: CloudFilesLoad =>
      // declared schema: inline DDL wins, else a schema FILE via SchemaParser
      // (reference: schema_parser.py:19-92, cloudfiles.py:30-55)
      // Auto Loader's user-provided Avro reader schema (the avro
      // comprehensive template's cloudFiles.avroSchema): an evolved-
      // compatible schema in Avro JSON; acts as the declared schema.
      // Validated UNCONDITIONALLY (not inside an orElse chain) so a
      // misplaced option is loud even when table_schema is also set.
      val avroReaderSchema = cfOpt(a, "avroSchema").map { js =>
        if (a.format != "avro") throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': cloudFiles.avroSchema only applies to " +
            s"format 'avro' (got '${a.format}')")
        try graft.sources.AvroBridge.toStruct(
          new org.apache.avro.Schema.Parser().parse(js))
        catch {
          case e: org.apache.avro.SchemaParseException =>
            throw graft.config.YamlConfig.ConfigError(
              s"load '${a.name}': cloudFiles.avroSchema is not a valid " +
                s"Avro schema (${e.getMessage})")
        }
      }
      val declaredBase = a.schemaDdl.map(StructType.fromDDL).orElse(
        a.schemaPath.map(p => graft.config.SchemaParser.parse(readFile(p)).schema))
      if (declaredBase.isDefined && avroReaderSchema.isDefined)
        throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': both table_schema/schema file and " +
            "cloudFiles.avroSchema declare a schema — remove one")
      val declared = declaredBase.orElse(avroReaderSchema)
      // schema hints override/extend the INFERRED schema (Auto Loader
      // semantics — unused when a full schema is declared); the value may be
      // inline DDL or a schema-file reference (cloudfiles.py:30-55)
      val hintSchema = cfOpt(a, "schemaHints")
        .orElse(a.options.get("schemaHints")).map { h =>
          if (h.endsWith(".yaml") || h.endsWith(".yml") || h.endsWith(".json"))
            graft.config.SchemaParser.parse(readFile(h)).schema
          else StructType.fromDDL(h)
        }
      def merge(inferred: StructType): StructType = hintSchema match {
        case None => inferred
        case Some(hints) => StructType(
          inferred.map(f => hints.find(_.name.equalsIgnoreCase(f.name))
            .map(h => f.copy(dataType = h.dataType, nullable = h.nullable)).getOrElse(f)) ++
          hints.filterNot(h => inferred.exists(_.name.equalsIgnoreCase(h.name))))
      }
      // schemaEvolutionMode emulation (reference: generators/load/
      // cloudfiles.py:36-44). Auto Loader's semantics are RESTART-time: a
      // new column fails the stream, and the restarted stream picks up the
      // evolved schema. Each engine run IS a restart (AvailableNow), so the
      // emulation is a schema sidecar next to the action's checkpoint:
      //  - addNewColumns: merge this run's inferred schema into the sidecar;
      //    new columns appear, old rows read as null (TableStore widening).
      //  - failOnNewColumns: a new inferred column vs the sidecar is a loud
      //    error; the schema otherwise stays pinned.
      //  - rescue: schema stays pinned; unexpected columns land in the
      //    rescued-data column (see rescueParse).
      //  - none/absent: fixed declared/inferred schema (OSS default).
      val evolutionMode = cfOpt(a, "schemaEvolutionMode")
      evolutionMode.foreach {
        case "none" | "addNewColumns" | "failOnNewColumns" | "rescue" => ()
        case other => throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': unknown cloudFiles.schemaEvolutionMode '$other'")
      }
      // `current` is BY-NAME: the pinned modes (none/rescue with a sidecar,
      // declared schemas) never force it, so inference does not re-scan the
      // landing directory on every run just to discard the result
      def evolve(current: => StructType): StructType = {
        // cloudFiles.schemaLocation (Auto Loader's schema-tracking dir) is
        // HONORED as the sidecar directory; the default sits next to the
        // action's checkpoint. Sharing one location between two loads would
        // silently share a pin (Auto Loader errors on this too) — reject.
        val sidecar = cfOpt(a, "schemaLocation") match {
          case Some(dir) =>
            val owner = schemaLocationOwners.getOrElseUpdate(dir,
              s"$currentPipeline/$currentFlowgroup/${a.name}")
            if (owner != s"$currentPipeline/$currentFlowgroup/${a.name}")
              throw graft.config.YamlConfig.ConfigError(
                s"load '${a.name}': cloudFiles.schemaLocation '$dir' is already " +
                s"used by load '$owner' — schema-tracking locations must be unique per load")
            java.nio.file.Paths.get(dir, "__schema.ddl")
          case None => java.nio.file.Paths.get(checkpointFor(a.name) + "__schema.ddl")
        }
        // a full refresh — global, or TARGETED at a write this load feeds —
        // resets the pin (Auto Loader's schema-location reset): re-infer
        // from what is in the source now. The INTENT is recorded once per
        // runner even when no sidecar exists yet — guarding on existence
        // alone would let a second run wipe the pin the first run created
        if ((fullRefresh.contains("*") || refreshTargetedLoads(a.name)) &&
            refreshedSchemaPins.add(sidecar.toString) &&
            java.nio.file.Files.exists(sidecar))
          java.nio.file.Files.delete(sidecar)
        def persisted: Option[StructType] =
          if (java.nio.file.Files.exists(sidecar))
            Some(StructType.fromDDL(java.nio.file.Files.readString(sidecar)))
          else None
        def persist(s: StructType): StructType = {
          java.nio.file.Files.createDirectories(sidecar.getParent)
          java.nio.file.Files.writeString(sidecar, s.toDDL)
          s
        }
        evolutionMode match {
          case Some("addNewColumns") =>
            lazy val cur = current
            persist(persisted match {
              case Some(ps) => StructType(ps ++ cur.filterNot(f =>
                ps.exists(_.name.equalsIgnoreCase(f.name))))
              case None => cur
            })
          case Some("failOnNewColumns") => persisted match {
            case Some(ps) =>
              val fresh = current.filterNot(f => ps.exists(_.name.equalsIgnoreCase(f.name)))
              if (fresh.nonEmpty) throw graft.config.YamlConfig.ConfigError(
                s"load '${a.name}': new column(s) ${fresh.map(_.name).mkString(", ")} " +
                "appeared in the source (schemaEvolutionMode=failOnNewColumns)")
              ps
            case None => persist(current)
          }
          case Some("none") | Some("rescue") =>
            // "pinned" must mean pinned ACROSS RUNS, not per-run inference:
            // without the sidecar, a new source column would drift into the
            // re-inferred schema and become a typed column — for rescue mode
            // that is the exact opposite of the contract (new columns belong
            // in the rescue column). First run persists; later runs reuse.
            // A DECLARED schema is already the pin — it always wins.
            if (declared.isDefined) current else persisted.getOrElse(persist(current))
          case _ => current // absent: legacy per-run declared/inferred schema
        }
      }
      // rescued-data emulation (Auto Loader's rescuedDataColumn): raw-text
      // read + from_json/from_csv parse captures the raw record whenever a
      // row fails to parse against the schema, and (json) any top-level
      // field the schema doesn't declare — json/csv only (parquet/orc are
      // self-describing; there is nothing to rescue).
      // schemaEvolutionMode=rescue engages it with the default column name.
      // xml without an explicit rowTag is SILENTLY empty: Spark's default
      // tag is 'ROW', which matches nothing in a real document — the one
      // format where a missing option reads zero rows instead of erroring
      // case-insensitive like every other option consumer (cfOpt contract):
      // `cloudFiles.rowtag` / `rowtag` are honored by the translator, so the
      // guard must see them too
      if (a.format == "xml" && !a.options.keys.exists(k =>
          k.equalsIgnoreCase("cloudFiles.rowTag") || k.equalsIgnoreCase("rowTag")))
        throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': xml needs an explicit rowTag " +
            "(cloudFiles.rowTag) — Spark's default 'ROW' would silently " +
            "match nothing in most documents")
      val rescueCol = cfOpt(a, "rescuedDataColumn")
        .orElse(cfOpt(a, "rescueDataColumn")) // reference examples carry both spellings
        // the comprehensive templates ALSO carry the bare (un-prefixed)
        // reader-option spelling; OSS sources would silently ignore it —
        // exactly the believed-but-dropped state the option contract bans
        .orElse(a.options.collectFirst {
          case (k, v) if k.equalsIgnoreCase("rescuedDataColumn") ||
            k.equalsIgnoreCase("rescueDataColumn") => v
        })
        .orElse(if (evolutionMode.contains("rescue")) Some("_rescued_data") else None)
      rescueCol.foreach { rc =>
        // json/csv rescue parses raw text; avro rescue routes type-mismatch
        // and undeclared writer fields into the column at decode (the
        // bridge's rescueCol path). parquet/orc remain refused: their scans
        // are schema-projected, nothing reaches a rescue column.
        if (a.format != "json" && a.format != "csv" && a.format != "avro")
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': cloudFiles.rescuedDataColumn only applies to " +
            s"json/csv/avro (got format '${a.format}' — parquet/orc scans are " +
            "schema-projected, nothing reaches a rescue column)")
        if (declared.exists(_.fieldNames.exists(_.equalsIgnoreCase(rc))))
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': declared schema already contains rescue column '$rc'")
        // the rescue path reads raw lines: a csv header line would parse as
        // a (malformed) data row and emit one phantom rescued record per
        // file; quoted multi-line records break the same way — reject both
        // configurations loudly rather than corrupt quietly. Lookups are
        // CASE-INSENSITIVE like Spark's own reader options ('Header: true'
        // takes effect in the reader, so it must trip the guard too)
        def optCI(name: String): Option[String] =
          a.options.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
        if (a.format == "csv" && optCI("header").exists(_.toBoolean))
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': rescuedDataColumn with csv 'header: true' is " +
            "not supported (the line-based rescue parse would rescue every " +
            "header row); drop the header option or pre-strip headers")
        if (a.format == "csv" && optCI("multiLine").exists(_.toBoolean))
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': rescuedDataColumn with csv 'multiLine: true' " +
            "is not supported (rescue parses line-by-line)")
      }
      // includeExistingFiles=false means "skip files present at STREAM
      // start" — a batch read has no stream start, so the option cannot take
      // effect; silently accepting it would re-read the full backfill every
      // run while the user believes it excluded
      if (a.readMode != "stream" &&
          cfOpt(a, "includeExistingFiles").exists(!_.toBoolean))
        throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': cloudFiles.includeExistingFiles=false requires " +
          "readMode: stream (a batch read has no stream start to exclude " +
          "files before); use readMode: stream or drop the option")
      val passThrough = translateCloudFilesOptions(a)
      // avro reads through the engine's bridge (no spark-avro connector in
      // this deployment's jars): binaryFile lists/streams the files with the
      // same checkpoint/backfill machinery as every other format, and the
      // bridge decodes container blocks with the Avro serde jar that DOES
      // ship. Inference reads file headers only (bytes per file, not rows).
      def inferredSchema(): StructType =
        if (a.format == "avro") graft.sources.AvroBridge.inferSchema(
          spark, a.path, passThrough,
          // cloudFiles.mergeSchema=false = Auto Loader's single-file
          // inference; the engine default stays cross-file merge (loud on
          // conflicts, so the wider default is safe)
          merge = cfOpt(a, "mergeSchema").forall(_.toBoolean))
        else spark.read.format(a.format).options(passThrough).load(a.path).schema
      // the ONE avro read path (stream/batch × rescue/plain): binaryFile
      // lists the files, the bridge decodes; evolve() is identity when no
      // evolution mode is set, so the schema formula is shared too
      def avroRead(streamMode: Boolean, rescue: Option[String]): DataFrame = {
        val schema = evolve(declared.getOrElse(merge(inferredSchema())))
        rescue.foreach { rc =>
          if (schema.fieldNames.exists(_.equalsIgnoreCase(rc)))
            throw graft.config.YamlConfig.ConfigError(
              s"load '${a.name}': schema already contains rescue column '$rc'")
        }
        val bin =
          if (streamMode)
            // the includeExistingFiles anti-join must run on the binaryFile
            // frame — the decoded rows no longer carry `_metadata.file_path`
            excludePreexisting(a, spark.readStream.format("binaryFile")
              .schema(graft.sources.AvroBridge.binaryFileSchema)
              .options(passThrough).load(a.path))
          else spark.read.format("binaryFile").options(passThrough).load(a.path)
        graft.sources.AvroBridge.decode(bin, schema, rescue)
      }
      // WARC/WET (Common Crawl archives) — fixed record schema, same
      // binaryFile-listing shape as avro; see sources/WarcBridge
      def warcRead(streamMode: Boolean): DataFrame = {
        if (declared.isDefined || hintSchema.isDefined)
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': WARC records have a FIXED schema " +
              "(warc_type, record_id, warc_date, target_uri, content_type, " +
              "content_length, headers, payload) — remove the declared " +
              "schema/hints; parse the payload downstream instead")
        if (evolutionMode.isDefined) throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': cloudFiles.schemaEvolutionMode does not apply " +
            "to format 'warc' (the record schema is fixed)")
        val bin =
          if (streamMode) excludePreexisting(a, spark.readStream.format("binaryFile")
            .schema(graft.sources.AvroBridge.binaryFileSchema)
            .options(passThrough).load(a.path))
          else spark.read.format("binaryFile").options(passThrough).load(a.path)
        graft.sources.WarcBridge.decode(bin)
      }
      // Rescue mode reads RAW TEXT and parses each line with from_json /
      // from_csv, so the rescue column is an ordinary materialized column.
      // Reading with the scan-level corrupt-record option instead is subtly
      // broken: a filter on the corrupt column pushes into the scan, where
      // the parser evaluates it BEFORE populating the column — the violating
      // row passes the filter and still shows a rescue value in the output
      // (caught by CloudFilesOptionsSpec's quarantine round-trip).
      // The text source names its one column `value`; a data schema with its
      // own `value` column would collide (ambiguous reference on json, a
      // silent double-drop on csv) — so the raw line is aliased to a reserved
      // name immediately after load, before any data column exists.
      val RawLineCol = "__graft_raw"
      def rescueParse(raw0: DataFrame, rc: String): DataFrame = {
        val raw = raw0.select(col("value").as(RawLineCol))
        val dataSchema = evolve(declared.getOrElse(merge(inferredSchema())))
        if (dataSchema.fieldNames.exists(_.equalsIgnoreCase(RawLineCol)))
          throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': column name '$RawLineCol' is reserved by the " +
            "rescued-data parse; rename the source column")
        val full = dataSchema.add(rc, org.apache.spark.sql.types.StringType, nullable = true)
        val parseOpts = passThrough.filterNot(_._1 == "maxFilesPerTrigger") ++
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> rc)
        val parsed = a.format match {
          case "json" => from_json(col(RawLineCol), full, parseOpts)
          case "csv" => from_csv(col(RawLineCol), full, parseOpts)
          case other => throw graft.config.YamlConfig.ConfigError(
            s"load '${a.name}': rescuedDataColumn unsupported for '$other'")
        }
        val base = raw.select(parsed.as("__parsed"), col(RawLineCol))
          .select(col("__parsed.*"), col(RawLineCol))
        // json: top-level fields the schema doesn't declare are RESCUED, not
        // dropped (Auto Loader's rescued-data semantics for new columns).
        // Scalars only — a nested-object extra nulls the map and is covered
        // by the corrupt-record path when it matters.
        val withExtras = a.format match {
          case "json" =>
            val declaredArr = array(dataSchema.fieldNames.toSeq.map(lit): _*)
            val extraMap = map_filter(
              from_json(col(RawLineCol), "map<string,string>", Map.empty[String, String]),
              (k, _) => !array_contains(declaredArr, k))
            base.withColumn(rc, coalesce(col(rc),
              when(extraMap.isNotNull && size(extraMap) > 0, to_json(extraMap))))
          case _ => base
        }
        withExtras.drop(RawLineCol)
      }
      val base =
        if (a.readMode == "stream") {
          rescueCol match {
            case Some(rc) if a.format == "avro" =>
              // pinned schema + bridge-side rescue: mismatched/undeclared
              // writer fields land in rc instead of failing the batch
              avroRead(streamMode = true, rescue = Some(rc))

            case Some(rc) =>
              val raw = spark.readStream.format("text")
                .options(passThrough.view.filterKeys(
                  Set("maxFilesPerTrigger", "maxFileAge", "cleanSource", "sourceArchiveDir")).toMap)
                .load(a.path)
              rescueParse(excludePreexisting(a, raw), rc)
            case None if a.format == "warc" => warcRead(streamMode = true)
            case None =>
              // file streams need a schema: declared, or inferred from
              // existing files (dev convenience) merged with hints; the
              // evolution sidecar merges/pins/rejects across runs
              if (a.format == "avro") avroRead(streamMode = true, rescue = None)
              else {
                val schema = evolve(declared.getOrElse(merge(inferredSchema())))
                val stream0 = spark.readStream.format(a.format).schema(schema)
                  .options(passThrough).load(a.path)
                excludePreexisting(a, stream0)
              }
          }
        } else rescueCol match {
          case Some(rc) if a.format == "avro" =>
            avroRead(streamMode = false, rescue = Some(rc))
          case Some(rc) =>
            rescueParse(spark.read.format("text").load(a.path), rc)
          case None if a.format == "avro" =>
            avroRead(streamMode = false, rescue = None)
          case None if a.format == "warc" => warcRead(streamMode = false)
          case None =>
            val r = spark.read.format(a.format).options(passThrough)
            // EVERY evolution mode routes through evolve on batch reads too
            // — the none/rescue pin must hold across batch runs as well
            val evolved = evolutionMode match {
              case Some(_) =>
                Some(evolve(declared.getOrElse(merge(inferredSchema()))))
              case None => declared
            }
            val df0 = evolved.map(r.schema).getOrElse(r).load(a.path)
            if (evolved.isEmpty && hintSchema.isDefined) {
              val merged = merge(df0.schema)
              df0.select(merged.map(f =>
                (if (df0.columns.exists(_.equalsIgnoreCase(f.name))) col(f.name)
                 else lit(null)).cast(f.dataType).as(f.name)): _*)
            } else df0
        }
      register(a.target, withOpMeta(a, base), a.readMode == "stream")

    case a: TableLoad =>
      val base0 = if (a.versionAsOf.isDefined || a.timestampAsOf.isDefined) {
        // batch-only (parse-enforced); timestamps resolve to the LATEST
        // commit at-or-before the bound (Delta timestampAsOf semantics)
        val v = a.versionAsOf.getOrElse {
          val bound = parseTs(a.timestampAsOf.get, a.name)
          val commits = commitTsOf(a.table, a.name)
          commits.filter(_._2 <= bound).lastOption.map(_._1).getOrElse(
            throw Planner.PlanError(
              s"load '${a.name}': timestamp_as_of '${a.timestampAsOf.get}' is " +
                s"before '${a.table}''s first commit"))
        }
        timeTravel(a.table, v, a.name)
      } else if (a.readMode == "stream" && (a.skipChangeCommits || a.ignoreDeletes)) {
        // skipChangeCommits (Delta delta.py:99-195 contract): stream only
        // blind-append commits, dropping merge-rewrite commits (CDC
        // corrections, GDPR deletes). The table directory itself cannot be
        // skip-filtered — a rewrite swaps in files indistinguishable from
        // appends — so the stream rides the append-only `__changes`
        // companion, filtered on the per-version `._commit_kinds` sidecar
        // and projected back to table rows. Rewrite versions fold into a
        // literal NOT-IN (rewrites are rare by the option's own use case;
        // the common append version needs no predicate at all).
        // ignoreDeletes is the narrower sibling: only delete-kind commits
        // are excused — an update/rewrite commit still breaks the stream,
        // loudly, as it would in Delta.
        val optName = if (a.skipChangeCommits) "skipChangeCommits" else "ignoreDeletes"
        val chTable = s"${a.table}__changes"
        if (!store.exists(chTable)) throw Planner.PlanError(
          s"load '${a.name}': $optName needs the engine-managed " +
            s"change log — write '${a.table}' with change_log: true " +
            "(an external table's rewrite commits are indistinguishable)")
        assertLogIntegrity(chTable, s"load '${a.name}'")
        val kinds = store.commitKinds(chTable)
        val latest = store.currentCommitVersion(chTable).getOrElse(-1L)
        // partial coverage = silently wrong skipping (an unrecorded rewrite
        // commit would stream through) — same loudness as commitTsOf
        if (kinds.isEmpty || kinds.head._1 != 0 ||
            kinds.size.toLong != kinds.last._1 + 1 || kinds.last._1 != latest)
          throw Planner.PlanError(
            s"load '${a.name}': '$chTable' has PARTIAL commit-kind coverage " +
              s"(recorded ${kinds.size} of 0..$latest) — the log predates " +
              "kind recording, so append and rewrite commits cannot be told " +
              "apart; full-refresh the producing write to rebuild the log")
        if (!a.skipChangeCommits) {
          val rewrites = kinds.filter(k => k._2 != "append" && k._2 != "delete")
          if (rewrites.nonEmpty) throw Planner.PlanError(
            s"load '${a.name}': table '${a.table}' has update/rewrite " +
              s"commits (versions ${rewrites.map(_._1).mkString(", ")}) — " +
              "ignoreDeletes only excuses delete-only commits; use " +
              "skipChangeCommits to drop rewrite commits as well")
        }
        val dropped = kinds.filter(k =>
          if (a.skipChangeCommits) k._2 != "append" else k._2 == "delete")
          .map(_._1)
        val schema = store.read(chTable).schema
        val stream = rateLimited(spark.readStream.schema(schema), a)
          .parquet(store.path(chTable))
        val kept = if (dropped.isEmpty) stream
          else stream.filter(!col("_commit_version").isInCollection(dropped))
        kept.drop("_change_type", "_commit_version")
      } else if (a.readMode == "stream") {
        // stream a parquet-backed table directory. Streaming is only sound
        // over APPEND-ONLY tables: a rewrite (CDC merge / replace) swaps in
        // new files that the file stream re-reads wholesale.
        if (store.getMeta(a.table, "rewritten").isDefined)
          graft.Log.warn(s"load '${a.name}': table " +
            s"'${a.table}' is rewritten by merges — a file stream re-reads " +
            "rewritten files (duplicates); stream its __changes companion " +
            "(change_log: true) instead")
        val batch = resolveSource(a.table)
        rateLimited(spark.readStream.schema(batch.schema), a)
          .parquet(store.path(a.table))
      } else resolveSource(a.table)
      // every read of a `__changes` companion — bounded CDF windows, plain
      // batch/stream consumption — shares the half-commit integrity contract
      // of version_as_of (checked at plan time; the write path re-checks
      // per commit, so a mid-run crash cannot corrupt silently either)
      if (a.table.endsWith("__changes") && store.exists(a.table))
        assertLogIntegrity(a.table, s"load '${a.name}'")
      // CDF bounds resolve TOGETHER at run time: timestamps map to versions
      // via the commit-ts sidecar (startingTimestamp = earliest commit
      // at-or-after, endingTimestamp = latest at-or-before — Delta
      // semantics); a resolved start above the resolved end is a loud
      // error, not a silent empty frame. Version-only bounds never touch
      // the sidecar (lazy), so pre-timestamp logs keep working with them.
      val tsBounded = if (!a.hasCdfBounds) base0
      else {
        lazy val commits = commitTsOf(a.table, a.name)
        val start = a.cdfStartingVersion.orElse(a.cdfStartingTimestamp.map { s =>
          val bound = parseTs(s, a.name)
          commits.find(_._2 >= bound).map(_._1).getOrElse {
            // a stream may start "from now" (beyond the last commit) and
            // pick up future versions — Delta's streaming source allows it;
            // a BATCH read of a window after the last commit is a user error
            if (a.readMode == "stream") commits.last._1 + 1
            else throw Planner.PlanError(
              s"load '${a.name}': startingTimestamp '$s' is after " +
                s"'${a.table}''s last commit")
          }
        })
        val end = a.cdfEndingVersion.orElse(a.cdfEndingTimestamp.map { s =>
          val bound = parseTs(s, a.name)
          commits.filter(_._2 <= bound).lastOption.map(_._1).getOrElse(
            throw Planner.PlanError(
              s"load '${a.name}': endingTimestamp '$s' is before '${a.table}''s first commit"))
        })
        for (s <- start; e <- end) if (s > e) throw Planner.PlanError(
          s"load '${a.name}': CDF range is empty — resolved start version $s " +
            s"is after resolved end version $e")
        val d1 = start.map(v => base0.filter(col("_commit_version") >= v)).getOrElse(base0)
        end.map(v => d1.filter(col("_commit_version") <= v)).getOrElse(d1)
      }
      val filtered = a.whereClause.foldLeft(tsBounded)((d, w) => d.where(w))
      val projected = if (a.selectColumns.nonEmpty)
        filtered.select(a.selectColumns.map(col): _*) else filtered
      register(a.target, withOpMeta(a, projected), a.readMode == "stream")

    case a: SqlLoad =>
      val sql = a.sqlPath.map(readFile).getOrElse(a.sql)
      val (df, streaming) = sqlWithStreamRefs(sql)
      // readMode is declarative intent, not a switch here (streaming-ness
      // comes from stream(...) refs) — but accepting `readMode: stream`
      // on a batch sql would silently re-read the full source every run
      // and duplicate downstream appends; make the mismatch loud
      if (a.readMode == "stream" && !streaming) throw Planner.PlanError(
        s"load '${a.name}': readMode: stream on a sql load requires a " +
          "stream(view_or_table) reference in the sql — this sql resolved " +
          "fully batch, which would silently full-re-read per run")
      register(a.target, withOpMeta(a, df), streaming)

    case a: JdbcLoad =>
      var r = spark.read.format("jdbc").option("url", a.url).options(a.options)
      a.query.foreach(q => r = r.option("query", q))
      a.dbtable.foreach(t => r = r.option("dbtable", t))
      register(a.target, withOpMeta(a, r.load()), streaming = false)

    case a: KafkaLoad =>
      // option assembly + exclusivity validation live in KafkaSupport so
      // the contract is spec-pinned without a broker (KafkaSupportSpec)
      register(a.target,
        withOpMeta(a, spark.readStream.format("kafka")
          .options(graft.sources.KafkaSupport.readerOptions(a)).load()),
        streaming = true)

    case a: FunctionLoad =>
      val fn = plugin[SourceFunction](a.functionClass)
      val df = fn(spark, a.parameters)
      // honor the declared readMode against what the plugin actually
      // built: `readMode: stream` over a batch frame would silently
      // re-land the function's full output every run
      if (a.readMode == "stream" && !df.isStreaming) throw Planner.PlanError(
        s"load '${a.name}': readMode: stream but function " +
          s"'${a.functionClass}' returned a BATCH frame — build the source " +
          "with spark.readStream inside the plugin, or drop readMode")
      register(a.target, withOpMeta(a, df), df.isStreaming)

    case a: CustomSourceLoad =>
      // DataSource V2 provider by class name — the custom_datasource load
      val df =
        if (a.readMode == "stream")
          spark.readStream.format(a.providerClass).options(a.options).load()
        else spark.read.format(a.providerClass).options(a.options).load()
      register(a.target, withOpMeta(a, df), a.readMode == "stream")

    // -------------------------------------------------------- transforms
    case a: SqlTransform =>
      // upstream views are already temp views
      val sql = a.sqlPath.map(readFile).getOrElse(a.sql)
      val (df, streaming) = sqlWithStreamRefs(sql)
      register(a.target, withOpMeta(a, df),
        streaming || a.source.exists(streamingViews.contains))

    case a: SchemaTransformAction =>
      // schema_file resolves at run time, project-relative (reference
      // generators/transform/schema.py:95-100) — a missing/malformed file
      // is a contextual PlanError, not a raw NIO stack
      val (renames, casts, declared) = a.schemaFile match {
        case None => (a.renames, a.casts, a.declared)
        case Some(f) =>
          val p =
            try graft.config.SchemaTransformParser.parseFileText(readFile(f))
            catch {
              case e: graft.config.YamlConfig.ConfigError => throw Planner.PlanError(
                s"schema transform '${a.name}': schema_file '$f' — ${e.getMessage}")
              case e: java.io.IOException => throw Planner.PlanError(
                s"schema transform '${a.name}': schema_file '$f' could not be " +
                  s"read (resolved to '${resolveFile(f)}'): ${e.getMessage}")
            }
          (p.renames, p.casts, p.declared)
      }
      val spec = SchemaTransform.Spec(renames, casts, declared,
        if (a.strict) SchemaTransform.Strict else SchemaTransform.Permissive)
      register(a.target, withOpMeta(a, SchemaTransform(resolveSource(a.source), spec)),
        streamingViews.contains(a.source))

    case a0: DataQualityTransform =>
      // inline expectations plus any expectations_file rules
      val a = a0.copy(rules = a0.rules ++
        a0.expectationsFile.toSeq.flatMap(f =>
          graft.config.YamlConfig.rulesFromFile(resolveFile(f).toString)))
      val src = resolveSource(a.source)
      a.quarantineTable match {
        case None =>
          // ONE wrap, observation named by the action: the old double wrap
          // (observeWarnings + apply's default-named observe) computed the
          // warn metrics twice and collided on the shared default name the
          // moment two expectation datasets met in one plan
          val out = Expectations(src, a.rules, observationName = a.name)
          register(a.target, withOpMeta(a0, out), streamingViews.contains(a.source))
        case Some(dlq) if streamingViews.contains(a.source) || src.isStreaming =>
          // streaming quarantine: DLQ routing needs batch writes, so the
          // violations drain through their own checkpointed foreachBatch
          // query (AvailableNow — only new files route per run), while the
          // clean view stays a pure streaming filter for downstream writes
          val tag = a.quarantineSourceTable.getOrElse(a.source)
          StreamTuning.drain(src, checkpointFor(a.name + "__quarantine"))(
            _.foreachBatch { (batch: DataFrame, id: Long) =>
              Quarantine.routeViolations(store, dlq, batch, a.rules, tag): Unit
              hooks.onBatchCommitted(currentPipeline, currentFlowgroup, dlq, id)
            })
          register(a.target, withOpMeta(a0, Expectations.dropQuarantined(src, a.rules)), streaming = true)
        case Some(dlq) =>
          // batch quarantine: clean rows pass through; violating rows are
          // annotated and inserted into the DLQ keyed by content hash
          // (see Quarantine for the full recycle cycle)
          val clean = Quarantine.routeViolations(store, dlq, src, a.rules,
            a.quarantineSourceTable.getOrElse(a.source))
          register(a.target, withOpMeta(a0, clean), streaming = false)
      }

    case a: TempTableTransform =>
      val tmp = s"__tmp_${a.name}"
      store.overwrite(tmp, resolveSource(a.source))
      register(a.target, withOpMeta(a, store.read(tmp)), streaming = false)

    case a: WatermarkTransform =>
      // a pure plan annotation: downstream SQL over the target view sees
      // the watermark below its aggregation/join/dedup. Op-meta is NOT
      // re-injected — the view is the source's rows, just annotated.
      val src = resolveSource(a.source)
      if (!src.isStreaming) throw Planner.PlanError(
        s"watermark transform '${a.name}': source '${a.source}' is not a " +
          "streaming view — a watermark on a batch frame is a silent no-op")
      if (!src.columns.contains(a.column)) throw Planner.PlanError(
        s"watermark transform '${a.name}': column '${a.column}' is not in " +
          s"'${a.source}' (columns: ${src.columns.mkString(", ")})")
      register(a.target, src.withWatermark(a.column, a.delay), streaming = true)

    case a: FunctionTransform =>
      val fn = plugin[TransformFunction](a.functionClass)
      register(a.target, withOpMeta(a, fn(a.source.map(resolveSource), spark, a.parameters)),
        a.source.exists(streamingViews.contains))

    // ------------------------------------------------------------ writes
    case a: StreamingTableWrite => executeStreamingWrite(a)

    case a: MaterializedViewWrite if a.incrementalRecompute =>
      // Declared partition-scoped recompute (mode: incremental_recompute —
      // see the model's scaladoc): the OVER-window MV shape that complete/
      // append streaming maintenance cannot express. The sql is BATCH over
      // the accumulated base table; recompute.view is the delta stream
      // deciding WHICH keys changed. Each refresh recomputes only the
      // affected keys' partitions from the current base — the key filter
      // is a broadcast semi-join Catalyst pushes below the Window to the
      // scan (PushDownLeftSemiAntiJoin; RecomputeMvSpec pins the plan) —
      // and swaps them in via replacePartitions. Untouched partitions are
      // never read or rewritten. Crash replays are self-healing: the base
      // is fully written before this action runs (topo order), so
      // recomputing a replayed batch's keys from the current base yields
      // the final answer for those keys regardless of replay count.
      applyFullRefresh(a.table, a.name)
      val keys = a.recomputeKeys
      val deltaView = a.recomputeView.get
      // Delta resolution. recompute.view naming a WRITTEN TABLE (the base
      // itself) is the recommended form: the delta stream then reads the
      // base's own files, so a key is flagged iff its rows are already IN
      // the base. A view-based delta shares the SOURCE with the base write
      // through two independent checkpoints — a file landing between the
      // base stream finishing and the delta stream starting is consumed
      // against a base that lacks its rows, and those keys go permanently
      // stale. View-based stays supported for bases the engine does not
      // manage, with that caveat on the model scaladoc.
      val delta: DataFrame =
        if (!views.contains(deltaView) && !streamingViews.contains(deltaView) &&
            store.exists(deltaView)) {
          if (store.getMeta(deltaView, "rewritten").isDefined)
            throw Planner.PlanError(graft.ErrorCodes.ACT_011(
              s"materialized_view '${a.name}' (mode: incremental_recompute): " +
                s"base table '$deltaView' is rewritten by merges — a file " +
                "stream re-reads rewritten files; stream its __changes " +
                "companion (change_log: true) as the delta instead"))
          spark.readStream.schema(store.read(deltaView).schema)
            .parquet(store.path(deltaView))
        } else if (views.contains(deltaView)) resolveSource(deltaView)
        else throw Planner.PlanError(graft.ErrorCodes.ACT_011(
          s"materialized_view '${a.name}' (mode: incremental_recompute): " +
            s"recompute.view '$deltaView' names neither a registered view " +
            "nor a written table — point it at the base table (recommended) " +
            "or the stream that feeds it"))
      if (!delta.isStreaming) throw Planner.PlanError(graft.ErrorCodes.ACT_011(
        s"materialized_view '${a.name}' (mode: incremental_recompute): " +
          s"recompute.view '$deltaView' is not a streaming view — the delta " +
          "stream decides which keys changed; point it at the base table " +
          "or the stream that feeds it"))
      val sqlText = a.sql.orElse(a.sqlPath.map(readFile)).get
      if (graft.plan.StreamRef.streamedViews(sqlText).nonEmpty)
        throw Planner.PlanError(graft.ErrorCodes.ACT_011(
          s"materialized_view '${a.name}' (mode: incremental_recompute): the " +
            "sql must be a BATCH query over the accumulated base table — the " +
            "delta comes from recompute.view, not from stream(...) in the sql"))
      val probe = spark.sql(sqlText)
      if (probe.isStreaming) throw Planner.PlanError(graft.ErrorCodes.ACT_011(
        s"materialized_view '${a.name}' (mode: incremental_recompute): the " +
          "sql must be a BATCH query over the accumulated base table — the " +
          "delta comes from recompute.view, not a streaming source in the sql"))
      // ONE wrapper stack shared by the plan-time probe and the per-batch
      // path — drift between the two would make the probe validate a
      // different pipeline than the one that writes
      def wrapMv(df0: DataFrame): DataFrame = {
        val d1 = withOpMeta(a, df0)
        val d2 = a.rowFilter.map(d1.filter).getOrElse(d1)
        enforceDeclaredSchema(Expectations(d2, a.expectations, s"expectations_${a.name}"),
          a.tableSchemaDdl, a.name, a.tagsFile)
      }
      if (keys.isEmpty)
        runGlobalWindowRecompute(a, delta, deltaView, sqlText, probe, wrapMv)
      else {
        val missingDelta = keys.filterNot(k => delta.columns.exists(_.equalsIgnoreCase(k)))
        if (missingDelta.nonEmpty) throw Planner.PlanError(graft.ErrorCodes.ACT_011(
          s"materialized_view '${a.name}' (mode: incremental_recompute): " +
            s"recompute key(s) ${missingDelta.mkString(", ")} not in " +
            s"recompute.view '$deltaView' (columns: ${delta.columns.mkString(", ")})"))
        auditRecomputeShape(a.name, probe, keys)
        // the wrapper stack is column-static: probe it ONCE here so a
        // declared schema that drops a key is a plan-time PlanError, not a
        // mid-stream failure wrapped in StreamingQueryException
        locally {
          val lost = keys.filterNot(k =>
            wrapMv(probe).columns.exists(_.equalsIgnoreCase(k)))
          if (lost.nonEmpty) throw Planner.PlanError(graft.ErrorCodes.ACT_011(
            s"materialized_view '${a.name}': recompute key(s) " +
              s"${lost.mkString(", ")} were removed by the declared schema/" +
              "row wrappers — the keys are the replace granularity and " +
              "must reach the table"))
        }
        StreamTuning.drain(delta.select(keys.map(col): _*), checkpointFor(a.name))(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          // ONE distinct job: the collected rows serve the cardinality
          // guard, the broadcast probe (as a local relation — the big
          // recompute job does not re-derive the distinct), and
          // replacePartitions' affected set. Metadata-scale ONLY if the
          // keys are bounded-cardinality as the mode's contract says; a
          // high-cardinality key would silently make this a driver-side
          // copy of the delta, so refuse loudly at the same order of
          // magnitude where partition-per-value layout itself stops
          // making sense, naming the fix (bucket the key).
          val affectedRows =
            batch.distinct().limit(100001).collect().toSeq
          if (affectedRows.size > 100000) throw Planner.PlanError(graft.ErrorCodes.ACT_011(
            s"materialized_view '${a.name}' (mode: incremental_recompute): " +
              "one delta batch touches over 100000 distinct key values " +
              "— recompute keys must be bounded-cardinality (each value is " +
              "one physical partition); derive a coarser bucket column " +
              "(e.g. key % 1024) and recompute on that"))
          if (affectedRows.nonEmpty) {
            // NULL-SAFE key match: a NULL key value is a real partition
            // (Hive's __HIVE_DEFAULT_PARTITION__) and replacePartitions
            // WILL drop its directory when it is in the affected set — an
            // EqualTo semi-join would never re-emit those rows, silently
            // deleting the null partition instead of recomputing it
            import scala.jdk.CollectionConverters._
            val aff = spark.createDataFrame(
                affectedRows.asJava, affectedRows.head.schema)
              .select(keys.map(k => col(k).as(s"__aff_$k")): _*)
            val cond = keys.map(k => col(k) <=> col(s"__aff_$k"))
              .reduce(_ && _)
            val recomputed = spark.sql(sqlText)
              .join(broadcast(aff), cond, "left_semi")
            // recomputed partitions carry THIS run's operational metadata —
            // a partition rewrite is a fresh materialization of those rows
            store.replacePartitions(a.table,
              clustered(wrapMv(recomputed), a.clusterColumns, a.clusterStrategy),
              keys, affectedRows)
          }
          // fires even for an empty delta batch: the table side finished
          // its (no-op) commit and the checkpoint will record the batch
          // next — same at-least-once seam as every other fire site
          hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
        })
      }
      store.setProperties(a.table, a.tableProperties)
      applyGovernanceMetadata(a.table, a.comment, a.tags, a.tagsFile)
      registerTableView(a.table)
      hooks.onTableWritten(currentPipeline, currentFlowgroup, a.table)

    case a: MaterializedViewWrite if a.incrementalJoin =>
      // Declared-incremental join MV (mode: incremental_join — see the
      // model's scaladoc). Stage 1 streams ONLY new fact rows through the
      // stream-static join (dims resolve as current batch frames; small
      // dims auto-broadcast, or carry explicit /*+ BROADCAST */ hints in
      // joined_sql) and lands them exactly-once in the __joined companion.
      // Stage 2 recomputes the aggregation over the companion — pre-joined
      // rows, so exact DISTINCT aggregates work, which is precisely the
      // shape streaming complete-mode aggregation (mode: incremental)
      // rejects.
      applyFullRefresh(a.table, a.name)
      val companion = s"${a.table}__joined"
      // the companion lives and dies with the MV: a refresh that drops the
      // MV (and this action's checkpoint) must drop the accumulated join
      // too, or the restarted stream re-lands history beside stale rows
      if ((fullRefresh.contains("*") || fullRefresh.contains(a.table)) &&
          refreshed.add(companion) && !refreshDropsExternal)
        store.drop(companion)
      val (joined, isStreaming) = sqlWithStreamRefs(a.joinedSql.get)
      if (!isStreaming) throw Planner.PlanError(
        s"materialized_view '${a.name}' (mode: incremental_join): joined_sql's " +
          "stream(...) reference did not resolve to a streamable source")
      val mvFlowKey = s"$currentPipeline/$currentFlowgroup/${a.name}"
      StreamTuning.drain(joined, checkpointFor(a.name))(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          store.appendBatch(companion, batch, mvFlowKey, id)
          hooks.onBatchCommitted(currentPipeline, currentFlowgroup, companion, id)
        })
      store.readIfExists(companion).foreach { j =>
        // registered by basename (the temp-view catalog rejects dots) —
        // the same convention every written table follows below
        j.createOrReplaceTempView(tableViewName(companion))
        val agg0 = withOpMeta(a, spark.sql(a.sql.orElse(a.sqlPath.map(readFile)).get))
        val agg1 = a.rowFilter.map(agg0.filter).getOrElse(agg0)
        val agg = enforceDeclaredSchema(Expectations(agg1, a.expectations, s"expectations_${a.name}"),
          a.tableSchemaDdl, a.name, a.tagsFile)
        store.overwrite(a.table, clustered(agg, a.clusterColumns, a.clusterStrategy), a.partitionColumns)
      }
      store.setProperties(a.table, a.tableProperties)
      applyGovernanceMetadata(a.table, a.comment, a.tags, a.tagsFile)
      registerTableView(a.table)
      hooks.onTableWritten(currentPipeline, currentFlowgroup, a.table)

    case a: MaterializedViewWrite =>
      applyFullRefresh(a.table, a.name)
      val raw = withWatermarkOverlay(a) {
        // through sqlWithStreamRefs, not bare spark.sql: the incremental
        // branch's own refusal text recommends "stream(...)", which bare
        // spark.sql rejects as an unknown table-valued function — the
        // stream() rewrite must work on the path whose error suggests it
        a.sql.orElse(a.sqlPath.map(readFile)).map(s => sqlWithStreamRefs(s)._1)
          .getOrElse(resolveSource(a.source.get))
      }
      // top-level dedup detection runs on the RAW plan, before the
      // row-wise wrappers (row_filter / expectations / declared schema)
      // stack Filters and Projects above the Distinct. The wrappers then
      // re-apply to the under-dedup child: they commute with full-row
      // distinct, and for keyed dropDuplicates the kept row is arbitrary
      // by definition, so pre-dedup filtering is within its contract.
      val dedup: Option[(DataFrame, Seq[String])] =
        if (a.incremental && !a.incrementalJoin) dedupTop(raw) else None
      val df0 = withOpMeta(a, dedup.map(_._1).getOrElse(raw))
      val df1 = a.rowFilter.map(df0.filter).getOrElse(df0)
      val df = enforceDeclaredSchema(Expectations(df1, a.expectations, s"expectations_${a.name}"),
        a.tableSchemaDdl, a.name, a.tagsFile)
      if (a.incremental) {
        // incremental maintenance. MV decision table (shape → mode):
        //   plain aggregation over a stream          → incremental
        //     (complete-mode streaming agg: checkpointed partial state,
        //     each run reads only NEW data and REPLACES the table — a
        //     100 TB source is scanned once across all runs)
        //   windowed agg + declared watermark        → incremental
        //     (APPEND-mode: only finalized windows emit and append;
        //     state is bounded by the open-window count)
        //   top-level SELECT DISTINCT / dropDuplicates → incremental
        //     (per-batch anti-join against the MV table — the table IS
        //     the dedup state, so no data-sized streaming state exists)
        //   dim-join + aggregation (exact DISTINCT)  → incremental_join
        //   OVER windows, key-local                  → incremental_recompute
        //     (partition-scoped recompute of affected keys over the
        //     accumulated base; handled by the branch above)
        //   stream-stream join, all sides watermarked → incremental
        //     (APPEND-mode: joined rows emit once and append; state is
        //     bounded by the watermark horizon + the join's time
        //     constraint — q62's semantics run directly as MV maintenance)
        //   nested dedup / unwatermarked stream-stream → full refresh
        //     only (omit mode) — the audit below REFUSES with an ACT-011
        //     naming the offending shape instead of letting Spark's
        //     UnsupportedOperationChecker surface an anonymous
        //     stream-start failure.
        // a batch source cannot maintain checkpointed aggregate state — a
        // contextual PlanError naming the action, not a bare require (the
        // raw IllegalArgumentException carried no action name)
        if (!df.isStreaming) throw Planner.PlanError(
          s"materialized_view '${a.name}' (mode: incremental) needs a " +
            "streaming source/SQL — reference a stream-loaded view " +
            "(readMode: stream / stream(...)) or drop mode: incremental")
        val mvFlowKey = s"$currentPipeline/$currentFlowgroup/${a.name}"
        dedup match {
          case Some((child, keys)) =>
            // dedup-bearing MV: batch-internal dedup, then a null-safe
            // anti-join against current MV content keeps only first-seen
            // rows/keys. Per-batch cost is one scan of the MV (output-
            // sized, the merge-whenNotMatched posture) — not of history.
            // appendBatch's (flow, batch) txn identity makes crash
            // replays no-ops even before the anti-join would.
            //
            // A full-row DISTINCT spans the columns the USER's dedup saw —
            // the under-dedup child's output — NOT columns the wrappers
            // injected above it (operational metadata's
            // `_ingestion_timestamp`/`_pipeline_run_id` differ per run by
            // construction; keying on them would re-append every row every
            // run, silently unbounding the "dedup state = the MV" contract).
            // The kept row carries its first-seen run's metadata, matching
            // the full-refresh path where metadata attaches above Distinct.
            val dedupCols =
              if (keys.nonEmpty) keys
              else child.columns.toSeq
            StreamTuning.drain(df, checkpointFor(a.name))(
              _.foreachBatch { (batch: DataFrame, id: Long) =>
                val missing = dedupCols.filterNot(batch.columns.contains)
                if (missing.nonEmpty) throw Planner.PlanError(
                  s"materialized_view '${a.name}': dedup columns " +
                    s"${missing.mkString(", ")} were removed by the declared " +
                    "schema/row wrappers — keep the DISTINCT columns in the " +
                    "target schema or omit mode: incremental")
                val d0 = batch.dropDuplicates(dedupCols)
                val fresh = store.readIfExists(a.table) match {
                  case Some(t) =>
                    d0.join(t, dedupCols.map(c => d0(c) <=> t(c)).reduce(_ && _),
                      "left_anti")
                  case None => d0
                }
                store.appendBatch(a.table,
                  clustered(fresh, a.clusterColumns, a.clusterStrategy),
                  mvFlowKey, id)
                hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
              })
          case None =>
            // stream-stream-bearing SQL auto-routes to append-mode
            // maintenance when every stream side is watermarked (the r12
            // decision table sent this shape to a refusal naming the
            // watermark-transform + streaming_table detour; with the
            // watermarks already declared, the MV can run the same
            // append-mode maintenance directly — joined rows emit once,
            // append across runs, state bounded by the watermark horizon
            // exactly as q62's streaming_table route)
            val ssjAppend = watermarkedStreamStreamJoin(df)
            auditIncrementalShape(a.name, df,
              watermarked = a.watermarkColumn.isDefined,
              appendRoute = ssjAppend)
            if (ssjAppend) logSsjStateHorizon(a.name, df)
            if (a.watermarkColumn.isDefined || ssjAppend)
              StreamTuning.drain(df, checkpointFor(a.name))(_.outputMode("append")
                .foreachBatch { (batch: DataFrame, id: Long) =>
                  store.appendBatch(a.table,
                    clustered(batch, a.clusterColumns, a.clusterStrategy),
                    mvFlowKey, id)
                  hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
                })
            else
              StreamTuning.drain(df, checkpointFor(a.name))(_.outputMode("complete")
                .foreachBatch { (batch: DataFrame, id: Long) =>
                  store.replace(a.table, clustered(batch, a.clusterColumns, a.clusterStrategy), a.partitionColumns)
                  hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
                })
        }
      } else {
        store.overwrite(a.table, clustered(df, a.clusterColumns, a.clusterStrategy), a.partitionColumns)
      }
      store.setProperties(a.table, a.tableProperties)
      applyGovernanceMetadata(a.table, a.comment, a.tags, a.tagsFile)
      registerTableView(a.table)
      hooks.onTableWritten(currentPipeline, currentFlowgroup, a.table)

    case a: SinkWrite =>
      val src = withOpMeta(a, resolveSource(a.source))
      a.sinkType match {
        case "files" =>
          val p = a.options.getOrElse("path", s"$defaultSinkRoot/${a.sinkId}")
          if (src.isStreaming)
            StreamTuning.drain(src, checkpointFor(a.sinkId))(
              _.format(a.options.getOrElse("format", "parquet")).option("path", p))
          else src.write.mode("append")
            .format(a.options.getOrElse("format", "parquet")).save(p)
        case "kafka" =>
          val opts = graft.sources.KafkaSupport.sinkOptions(
            a.name, a.options, src.columns.toSeq)
          val conformed = graft.sources.KafkaSupport.conformColumns(src)
          if (src.isStreaming)
            StreamTuning.drain(conformed, checkpointFor(a.sinkId))(
              _.format("kafka").options(opts))
          else conformed.write.format("kafka").options(opts).save()
        case "delta" =>
          // reference delta_sink.py: `format: delta` + options.tableName
          // (catalog table) or options.path (external location). Engine
          // mapping: the warehouse IS this engine's table layer (parquet
          // dirs + sidecars), so tableName appends to a store-managed
          // table — streaming via the file sink's own metadata log
          // (exactly-once), batch via store.append. An explicit path
          // behaves like the files sink at that location.
          //
          // The two write modes must NEVER mix on one table: once a
          // `_spark_metadata` sink log exists, spark.read resolves the
          // listing through it and every non-logged batch file silently
          // VANISHES from reads (and batch files would break the log's
          // exactly-once accounting). Refusing the mix loudly beats rows
          // that exist on disk but not in any query.
          a.options.get("tableName").orElse(a.options.get("table")) match {
            case Some(t) =>
              val sinkLog = new java.io.File(store.path(t), "_spark_metadata")
              val tableDir = new java.io.File(store.path(t))
              if (src.isStreaming) {
                val plainFiles = !sinkLog.exists() && tableDir.isDirectory &&
                  Option(tableDir.listFiles()).exists(_.exists(f =>
                    f.getName.endsWith(".parquet")))
                if (plainFiles) throw Planner.PlanError(
                  s"delta sink '${a.name}': table '$t' already holds " +
                    "batch-appended files — a streaming sink's metadata log " +
                    "would hide them from every read. Use a fresh table or " +
                    "keep this sink batch.")
                StreamTuning.drain(src, checkpointFor(a.sinkId))(
                  _.format("parquet").option("path", store.path(t)))
              } else {
                if (sinkLog.exists()) throw Planner.PlanError(
                  s"delta sink '${a.name}': table '$t' is owned by a " +
                    "streaming sink (_spark_metadata present) — batch rows " +
                    "appended beside the log are invisible to reads. Use a " +
                    "fresh table or stream into this one.")
                store.append(t, src)
              }
              registerTableView(t)
              hooks.onTableWritten(currentPipeline, currentFlowgroup, t)
            case None =>
              val p = a.options.getOrElse("path", throw Planner.PlanError(
                s"delta sink '${a.name}' needs options.tableName or options.path"))
              if (src.isStreaming)
                StreamTuning.drain(src, checkpointFor(a.sinkId))(
                  _.format("parquet").option("path", p))
              else src.write.mode("append").parquet(p)
          }
        case "foreachbatch" =>
          val handler = plugin[BatchHandler](a.handlerClass.getOrElse(
            throw Planner.PlanError(s"foreachbatch sink '${a.name}' missing handler")))
          if (src.isStreaming)
            StreamTuning.drain(src, checkpointFor(a.sinkId))(
              _.foreachBatch((df: DataFrame, id: Long) => handler(df, id)))
          else handler(src, 0L)
        case "custom" =>
          // DataSource V2 custom sink: a classpath TableProvider with
          // SupportsWrite (reference: generators/write/sinks/custom_sink.py
          // registers a DataSink class and writes format(sink_name))
          val provider = a.handlerClass.getOrElse(throw Planner.PlanError(
            s"custom sink '${a.name}' missing custom_sink_class"))
          if (src.isStreaming)
            StreamTuning.drain(src, checkpointFor(a.sinkId))(
              _.format(provider).options(a.options))
          else src.write.format(provider).options(a.options).mode("append").save()
        case other => throw Planner.PlanError(s"unknown sink type '$other'")
      }

    // ------------------------------------------------------------- tests
    case a: TestAction => executeTest(a)
  }

  /** Execute SQL containing `stream(x)` references (the reference dialect —
    * docs/concepts/the-action-model.rst:73).
    *
    *  - `stream(view)` over an in-memory STREAMING view: the temp view is
    *    already a streaming DataFrame — strip the wrapper, SQL stays
    *    streaming (unchanged behavior).
    *  - `stream(table)` over an engine-managed APPEND-ONLY table: overlay
    *    the name with a file stream over the table directory for the
    *    duration of the sql() call, so the read is INCREMENTAL across runs
    *    (checkpointed by the consuming write) — DLT's semantics. Previously
    *    this degraded to a full batch re-read, so a re-run into an append
    *    target duplicated every historical row.
    *  - merge-REWRITTEN tables cannot be file-streamed (rewrites re-appear
    *    as new files): warn and fall back to the batch read, as before.
    *
    * Returns the DataFrame and whether any streamed ref made it streaming. */
  private def sqlWithStreamRefs(sql: String): (DataFrame, Boolean) = {
    val streamed = graft.plan.StreamRef.streamedViews(sql)
    val overlays = streamed.filter { t =>
      !streamingViews.contains(t) && !views.contains(t) && store.exists(t)
    }.flatMap { t =>
      if (store.getMeta(t, "rewritten").isDefined) {
        graft.Log.warn(s"stream($t): table is rewritten by " +
          "merges — falling back to a batch read (stream its __changes " +
          "companion for incremental consumption)")
        None
      } else Some(t)
    }
    // QUALIFIED names (namespaced pipelines) overlay under a mangled temp
    // view and the SQL reference is rewritten to it — a temp view cannot
    // carry dots, and the earlier dotted-name exclusion silently degraded
    // stream(cat.sch.t) to a batch re-read of the full history (the exact
    // duplicate-append regression this function's batch-fallback WARN
    // exists to prevent; the dotted case had no warning at all)
    // EVERY overlay registers under a fresh mangled name and the SQL
    // reference is rewritten to it — never a createOrReplace of the
    // table's own leaf view. Overlaying the shared name was a race under
    // the orchestrator's parallel flowgroup threads: another flowgroup's
    // batch `FROM <leaf>` planned during the overlay window resolved the
    // STREAMING frame and died with Spark's writeStream error (or worse,
    // planned against the mid-swap restore). Unique names make the
    // window disappear; the view is dropped once the plan is built.
    val saved = overlays.map { t =>
      val viewName = "__stream_" + t.replace('.', '_') + "_" +
        PipelineRunner.overlayId.incrementAndGet()
      val batchSchema = store.read(t).schema
      spark.readStream.schema(batchSchema).parquet(store.path(t))
        .createOrReplaceTempView(viewName)
      (t, viewName)
    }
    val rename = saved.toMap
    try {
      val df = spark.sql(graft.plan.StreamRef.stripTo(sql, rename))
      (df, df.isStreaming || streamed.exists(streamingViews.contains))
    } finally saved.foreach { case (_, viewName) =>
      spark.catalog.dropTempView(viewName): Unit
    }
  }

  /** CDF emulation (SURVEY §7.3b): append the applied batch to an
    * append-only `<table>__changes` companion with `_change_type` +
    * `_commit_version` — the parquet stand-in for Delta's readChangeFeed.
    * A `replay` sidecar records whether (and how) point-in-time states can
    * be reconstructed from the log — the basis of version_as_of. */
  private def logChanges(a: StreamingTableWrite, batch: DataFrame,
      mergeOpts: Option[ScdMerge.Options],
      txn: Option[(String, Long)] = None): Option[ChangeCommit] =
    if (!a.changeLog) None else {
    val chTable = s"${a.table}__changes"
    // foreachBatch replay of a FULLY-committed batch (crash after commit,
    // before the checkpoint marker): the txn sidecar says this (flow,
    // batch) already produced its commit — logging it again would double
    // the change rows at a fresh version. Partial commits never reach here
    // via this skip: their txn line was not written, and the intent-marker
    // probe below stays loud for them.
    val txnId = txn.map { case (flow, id) => s"$flow#$id" }
    if (txnId.exists(committedTxnsCached(chTable).contains)) return None
    // serialize the replay spec FIRST: its separator-name guard must fire
    // before any rows land in the log
    val spec = replaySpec(mergeOpts)
    // the WHOLE version-assignment + append + counter-advance sequence
    // runs under the log table's lock (reentrant — the inner appends
    // re-acquire): two parallel fan-in flowgroups otherwise both peek the
    // same next version, tag two logical commits with one number, and
    // interleave each other's intent markers
    store.withTableLock(chTable) {
    val version = store.nextCommitVersion(chTable, "_commit_version")
    // Write-path integrity: if a previous commit crashed between append and
    // counter advance, nextCommitVersion (a pure peek) returns the SAME
    // version — re-appending would land the interrupted batch's rows twice
    // at one version, which then passes every read-side check. A full-log
    // probe per microbatch would be O(log size) on the hot append path, so
    // the trigger is an O(1) intent marker instead: set before the append,
    // cleared after the commit completes — it survives IFF a commit was
    // interrupted, and only then does the (expensive, pushdown-pruned)
    // orphan probe run. A crash BEFORE the append leaves the marker but no
    // rows; the probe finds the log clean and the write proceeds.
    if (store.getMeta(chTable, "commit_intent").isDefined)
      assertLogIntegrity(chTable, s"write '${a.name}'", force = true)
    store.setMeta(chTable, "commit_intent", version.toString)
    val (nDel, nTrunc) =
      try commitChangeRows(a, chTable, version, batch, mergeOpts, spec, txnId)
      catch { case e: Throwable => uncacheIntegrity(chTable); throw e }
    Some(ChangeCommit(chTable, version, nDel, nTrunc))
    }
  }

  /** One completed change-log commit, with the delete/truncate-hit counts
    * observed on the append itself — the seam that lets the tombstone
    * machinery reuse the durably-written log rows instead of re-scanning
    * (and checkpointing) the batch plan a second time. */
  private final case class ChangeCommit(table: String, version: Long,
      nDeletes: Option[Long], nTruncates: Option[Long])

  /** The append + sidecar sequence of one change-log commit; any throw
    * inside leaves the intent marker set (cleared last) and the caller
    * drops the integrity-probe cache for the log. */
  private def commitChangeRows(a: StreamingTableWrite, chTable: String,
      version: Long, batch: DataFrame,
      mergeOpts: Option[ScdMerge.Options], spec: String,
      txnId: Option[String] = None): (Option[Long], Option[Long]) = {
    val deleteExpr = mergeOpts.flatMap(_.applyAsDeletes)
    val truncExpr = mergeOpts.flatMap(_.applyAsTruncates)
    // the delete-ONLY probe (commit-kind decision below), the delete count,
    // and the truncate-hit count all ride the append itself as observed
    // metrics — each was otherwise one more full pass over the batch per
    // microbatch (guide §1.2); Observation is valid here because the
    // append is a BATCH action inside foreachBatch. The counts feed the
    // tombstone machinery (mergeInto), which then derives its candidate
    // set from the just-written log rows instead of re-scanning the batch.
    val wantKind = mergeOpts.exists(_.scdType == 1) && deleteExpr.isDefined
    val obsMetrics = {
      val b = Seq.newBuilder[org.apache.spark.sql.Column]
      if (wantKind)
        b += count(when(!(expr(deleteExpr.get) <=> lit(true)), 1)).as("__n_nondel")
      deleteExpr.foreach(d =>
        b += count(when(expr(d) <=> lit(true), 1)).as("__n_del"))
      truncExpr.foreach(t =>
        b += count(when(expr(t) <=> lit(true), 1)).as("__n_trunc"))
      b.result()
    }
    val delProbe =
      if (obsMetrics.nonEmpty)
        Some(new org.apache.spark.sql.Observation(
          s"graft_commitkind_${version}_${java.util.UUID.randomUUID()}"))
      else None
    val logged = batch
      .withColumn("_change_type",
        when(deleteExpr.map(expr).getOrElse(lit(false)), "delete").otherwise("upsert"))
      .withColumn("_commit_version", lit(version))
    store.append(chTable, delProbe.fold(logged)(o =>
      logged.observe(o, obsMetrics.head, obsMetrics.tail: _*)))
    // sidecars advance only AFTER the rows are durably appended — the old
    // counter-first ordering let a crashed append leave a phantom empty
    // latest version, and version_as_of at it silently returned the
    // PREVIOUS state. The remaining (inverse) crash window — rows at v but
    // counter still v-1 — is caught loudly by timeTravel's counter-vs-log
    // cross-check instead of resolving wrong.
    store.advanceCommitVersion(chTable, version)
    // commit wall-clock → `._commit_ts` sidecar: what Delta keeps in its
    // log, and what timestamp_as_of / startingTimestamp resolve against
    store.recordCommitTimestamp(chTable, version)
    // commit kind → `._commit_kinds`: a plain append flow appends blindly;
    // any merge-engine batch (CDC, snapshot-CDC) rewrites the target —
    // the per-version signal skipChangeCommits streams filter on. An SCD1
    // merge whose batch carried ONLY apply_as_deletes rows is the narrower
    // `delete` kind (retention / GDPR erasure) that ignoreDeletes excuses.
    // SCD2 is EXCLUDED on purpose: its "delete" is a close-out UPDATE
    // (existing rows rewritten with __end_at), exactly the commit class
    // ignoreDeletes must stay loud on. Decided from the in-memory batch —
    // not a read-back of the just-written log, which would put an
    // O(log-size) listing on every delete-predicate microbatch (the cost
    // class the intent-marker design above exists to avoid). A row whose
    // predicate is not TRUE (false or null → logged "upsert") makes the
    // commit a rewrite. The count arrives from the append's observed
    // metric (get blocks until the completed write's listener fires); an
    // empty batch counts 0 non-deletes = "delete", matching the old
    // probe's is-empty answer. The wait is BOUNDED: if the listener event
    // is ever dropped (listener-bus overflow) or a future append change
    // short-circuits the write action, a blocked `get` would hang the
    // microbatch forever — after the deadline fall back to direct probes
    // of the (persisted) batch instead.
    val observed: Map[String, Any] = delProbe.fold(Map.empty[String, Any]) { o =>
      try {
        scala.concurrent.Await.ready(o.future,
          scala.concurrent.duration.Duration(60, "s"))
        o.get // ready above → no block
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          graft.Log.warn(s"commit-kind observation for '${a.name}' never " +
            "fired within 60 s — falling back to direct batch probes")
          Map.empty[String, Any]
      }
    }
    def observedCount(key: String)(fallback: => Long): Option[Long] =
      observed.get(key) match {
        case Some(n: Long) => Some(n)
        case _ if delProbe.isDefined => Some(fallback) // timeout fallback
        case _ => None
      }
    val deleteOnly = wantKind && observedCount("__n_nondel")(
      batch.filter(!(expr(deleteExpr.get) <=> lit(true))).count()).contains(0L)
    val nDel = deleteExpr.map(d => observedCount("__n_del")(
      batch.filter(expr(d) <=> lit(true)).count()).get)
    val nTrunc = truncExpr.map(t => observedCount("__n_trunc")(
      batch.filter(expr(t) <=> lit(true)).count()).get)
    store.recordCommitKind(chTable, version,
      if (mergeOpts.isEmpty) "append"
      else if (deleteOnly) "delete"
      else "rewrite")
    // the sidecar is per-TABLE: if another flow (fan-in) or an earlier
    // config already logged under DIFFERENT merge options, replaying the
    // mixed log under either set would be silently wrong — degrade to
    // "mixed" (sticky: "none" from a truncate config also never upgrades)
    val prior = store.getMeta(chTable, "replay")
    store.setMeta(chTable, "replay", if (prior.exists(_ != spec)) "mixed" else spec)
    // txn identity lands with the other post-append sidecars: a crash
    // before this line leaves no txn record, so a replay re-commits through
    // the intent-marker path instead of silently skipping a lost commit
    txnId.foreach { t =>
      store.recordCommitTxn(chTable, version, t)
      committedTxnsCached(chTable) += t
    }
    // commit complete — clear the intent marker LAST (a crash among the
    // sidecar writes above leaves the marker; the next write's probe then
    // finds the log clean, and partial ts/kind sidecar coverage is caught
    // loudly by their own readers)
    store.deleteMeta(chTable, "commit_intent")
    (nDel, nTrunc)
  }

  /** How `<table>__changes` replays into a point-in-time state:
    *   - `append`: plain append flows — state at v = all rows with
    *     `_commit_version <= v`.
    *   - `scd;…`: the serialized MERGE-TIME options — state at v =
    *     [[ScdMerge.applyChanges]] over the bounded log as one batch (the
    *     merge is a rebuild-from-versions, so sequential batches and their
    *     union rebuild the same chains whenever the log retains the full
    *     ordering information). Covers SCD1, SCD2 (history-at-v),
    *     ignore_null_updates, column lists, and snapshot-CDC diffs.
    *     KNOWN DIVERGENCE: SCD1 drops tombstones from the table, so a
    *     LOWER-sequence event logged in a commit AFTER a delete re-inserts
    *     the key sequentially but loses to the delete in replay — replay
    *     reconstructs the logical (sequence-ordered) timeline, which equals
    *     the arrival-order state whenever sequences are monotone with
    *     commits (the normal case).
    *   - `none`: truncates — a truncate's effect depends on batch
    *     boundaries the log does not preserve; version_as_of fails loudly.
    *   - `mixed`: flows with differing merge options share the log —
    *     neither option set can replay it; fails loudly. */
  private def replaySpec(mergeOpts: Option[ScdMerge.Options]): String = mergeOpts match {
    case None => "append"
    case Some(o) if o.applyAsTruncates.isEmpty =>
      // the sidecar's ';'/','/'=' separators are load-bearing: a column
      // name containing one would round-trip into DIFFERENT Options (extra
      // phantom columns) and replay a wrong point-in-time state without
      // ever hitting the unparseable-sidecar guard — reject loudly at
      // write time instead
      def l(s: Seq[String]) = {
        s.find(c => c.exists(";,=".contains(_))).foreach(c =>
          throw Planner.PlanError(
            s"change_log: CDC column name '$c' contains a replay-sidecar " +
              "separator (';', ',' or '=') — rename the column or disable " +
              "change_log on this write"))
        s.mkString(",")
      }
      val track = o.trackHistoryColumns.map(t => s";track=${l(t)}").getOrElse("")
      val cols = o.columnList.map(c => s";cols=${l(c)}").getOrElse("")
      s"scd;type=${o.scdType};keys=${l(o.keys)};seq=${l(o.sequenceBy)}" +
        s";inu=${o.ignoreNullUpdates}$track;trackx=${l(o.trackHistoryExcept)}" +
        s"$cols;colsx=${l(o.exceptColumnList)}"
    case _ => "none"
  }

  /** Parse a user timestamp bound: `yyyy-MM-dd`, `yyyy-MM-dd HH:mm:ss[.SSS]`
    * (UTC, matching the session timezone contract), ISO-8601 (with T and
    * optional zone — the form unquoted YAML dates canonicalize to), or raw
    * epoch milliseconds (11+ digits — an 8-digit `20260101` would silently
    * read as 1970, so compact dates are rejected with guidance instead).
    * Loud on anything else. */
  private def parseTs(s: String, name: String): Long = {
    val t = s.trim
    if (t.forall(_.isDigit)) {
      if (t.length >= 11) t.toLong
      else throw Planner.PlanError(
        s"load '$name': ambiguous numeric timestamp '$s' — epoch milliseconds " +
          "have 11+ digits; for dates use yyyy-MM-dd (compact yyyyMMdd is not accepted)")
    } else scala.util.Try {
      val iso = t.replace(' ', 'T')
      scala.util.Try(java.time.Instant.parse(iso).toEpochMilli).getOrElse(
        scala.util.Try(java.time.LocalDateTime.parse(iso))
          .getOrElse(java.time.LocalDate.parse(iso).atStartOfDay())
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    }.getOrElse(throw Planner.PlanError(
      s"load '$name': unparseable timestamp '$s' — use yyyy-MM-dd[ HH:mm:ss] " +
        "(UTC) or epoch milliseconds"))
  }

  /** The change log's recorded (version, epochMillis) commits, loud when
    * absent or PARTIAL — a sidecar that covers only post-upgrade commits
    * would silently misresolve timestamp bounds (e.g. a startingTimestamp
    * before every commit would skip the unrecorded early versions). */
  private def commitTsOf(table: String, name: String): Seq[(Long, Long)] = {
    val chTable = if (table.endsWith("__changes")) table else s"${table}__changes"
    val ts = store.commitTimestamps(chTable)
    if (ts.isEmpty) throw Planner.PlanError(
      s"load '$name': no commit timestamps recorded for '$chTable' — the " +
        "change log predates timestamp recording or does not exist; " +
        "version bounds (version_as_of/startingVersion) work without timestamps")
    val latest = store.currentCommitVersion(chTable).getOrElse(ts.last._1)
    if (ts.head._1 != 0 || ts.size.toLong != ts.last._1 + 1 || ts.last._1 != latest)
      throw Planner.PlanError(
        s"load '$name': '$chTable' has PARTIAL commit-timestamp coverage " +
          s"(recorded versions ${ts.head._1}..${ts.last._1} of 0..$latest) — " +
          "timestamp bounds would silently misresolve; use version bounds")
    ts
  }

  /** Counter-vs-log integrity: rows beyond the recorded counter mean a
    * change-log commit crashed between its append and its counter advance —
    * the half-commit cannot be distinguished from a complete one, so every
    * consumer (time travel, CDF windows, `__changes` loads, and the NEXT
    * write, which would otherwise re-append the batch at the same version
    * and silently duplicate it) fails loudly instead. The check is a
    * pushdown EXISTENCE probe, not a full-log aggregate: parquet row-group
    * min/max stats prune `_commit_version > latest` to ~zero I/O on a
    * healthy log. */
  // One integrity probe per (log, version) per runner: the probe is a small
  // Spark job, and a pipeline with many consumers of one log (time-travel
  // replays, bounded CDF windows) would otherwise re-run it per consumer.
  // Sound within a runner's lifetime because of the single-writer
  // discipline: the only mutation path is this runner's own write path,
  // which bumps the commit counter (new cache key → fresh probe). The two
  // ways a log can rot mid-run bypass the cache explicitly: a process
  // crash kills the runner (next run probes fresh), and an in-process
  // commit failure caught by the orchestrator's fault policy calls
  // [[uncacheIntegrity]] — plus the write path's intent-marker probe
  // always runs `force`d, since a surviving marker IS evidence of an
  // interrupted commit.
  private val integrityProbed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()

  /** Forget cached probes for one log — called when a commit to it throws
    * partway, the one in-process path that can orphan rows at a cached
    * (table, version) key. */
  private def uncacheIntegrity(chTable: String): Unit =
    integrityProbed.removeIf(_._1 == chTable): Unit

  private def assertLogIntegrity(chTable: String, who: String,
      force: Boolean = false): Unit =
    store.readIfExists(chTable).foreach { changes =>
      // a table that merely has a `__changes`-suffixed NAME (no guard
      // forbids one) is not a change log — probing it would crash on the
      // missing column with a raw AnalysisException
      if (!changes.columns.contains("_commit_version")) return
      val latest = store.currentCommitVersion(chTable).getOrElse(-1L)
      if (!force && integrityProbed.contains((chTable, latest))) return
      val orphaned = !changes.filter(col("_commit_version") > latest).isEmpty
      if (orphaned) throw Planner.PlanError(
        s"$who: '$chTable' holds rows beyond the recorded counter $latest — " +
          "a change-log commit was interrupted; full-refresh the producing " +
          "write to rebuild the log")
      integrityProbed.add((chTable, latest)): Unit
    }

  /** maxFilesPerTrigger: Delta's stream rate limit, passed verbatim to
    * Spark's file-stream source (same option name, same semantics —
    * microbatch size capped at N files). */
  private def rateLimited(r: org.apache.spark.sql.streaming.DataStreamReader,
      a: graft.model.TableLoad): org.apache.spark.sql.streaming.DataStreamReader =
    a.maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong))

  /** version_as_of by change-log replay — Delta time travel emulated for
    * engine-managed tables (SURVEY §7.3, narrowed round 7). One merge-engine
    * pass over the bounded log; scale class = the CDC rebuild itself. */
  private def timeTravel(table: String, v: Long, name: String): DataFrame = {
    val chTable = s"${table}__changes"
    val changes = store.readIfExists(chTable).getOrElse(throw Planner.PlanError(
      s"load '$name': version_as_of needs the engine-managed change log — " +
        s"write '$table' with change_log: true"))
    // version bounds are a loud error, not a silent clamp: v beyond the
    // latest commit would present the CURRENT table as a past snapshot
    val latest = store.currentCommitVersion(chTable).getOrElse(-1L)
    if (v < 0 || v > latest) throw Planner.PlanError(
      s"load '$name': version_as_of $v out of range — '$table' has " +
        s"commit versions 0..$latest")
    assertLogIntegrity(chTable, s"load '$name'")
    val bounded = changes.filter(col("_commit_version") <= v)
    store.getMeta(chTable, "replay") match {
      case Some("append") => bounded.drop("_change_type", "_commit_version")
      case Some(s) if s.startsWith("scd;") =>
        val opts = scala.util.Try {
          val kv = s.drop(4).split(";").map { p =>
            val (k, vv) = p.span(_ != '='); k -> vv.drop(1)
          }.toMap
          def l(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
          ScdMerge.Options(
            keys = l("keys"), sequenceBy = l("seq"),
            scdType = kv("type").toInt,
            trackHistoryColumns = kv.get("track").map(_ => l("track")),
            trackHistoryExcept = l("trackx"),
            ignoreNullUpdates = kv("inu").toBoolean,
            // the log already evaluated the delete predicate into _change_type
            applyAsDeletes = Some("_change_type = 'delete'"),
            columnList = kv.get("cols").map(_ => l("cols")),
            exceptColumnList = l("colsx") ++ Seq("_change_type", "_commit_version"))
        }.getOrElse(throw Planner.PlanError(
          s"load '$name': '$table' has an unparseable replay sidecar '$s' — " +
            "re-run the write to refresh it"))
        ScdMerge.applyChanges(None, bounded, opts)
      case Some("mixed") => throw Planner.PlanError(
        s"load '$name': '$table' is change-logged by flows with DIFFERENT " +
          "merge options (fan-in or a config change) — no single option set " +
          "replays the mixed log; version_as_of unavailable")
      case Some(_) => throw Planner.PlanError(
        s"load '$name': '$table' was change-logged with apply_as_truncates — " +
          "a truncate's effect depends on batch boundaries the log does not " +
          "preserve; version_as_of unavailable")
      case None => throw Planner.PlanError(
        s"load '$name': '$table' has no replay sidecar (its change log was " +
          "written before replay metadata existed) — re-run the write once " +
          "to record it, then version_as_of works")
    }
  }

  /** schemaLocation dir → owning load (pipeline/flowgroup/action): two loads
    * sharing one schema-tracking dir would silently share a pin. */
  private val schemaLocationOwners = mutable.Map[String, String]()

  private val refreshed = mutable.Set[String]()
  /** Schema-pin sidecars already reset by this runner's full refresh — the
    * delete must fire once per runner, not once per run (a re-run would
    * wipe the freshly re-pinned schema). */
  private val refreshedSchemaPins = mutable.Set[String]()

  /** Build the MV's DataFrame with its declared watermark (if any) applied
    * to the source view for the duration of the build: the watermark must
    * sit BELOW the aggregation the sql constructs, so the streaming temp
    * view is overlaid with its `withWatermark` twin, the sql runs, and the
    * original registration is restored. The target view is `watermark.view`
    * when declared, else inferred — exactly one registered streaming view
    * named in the sql; zero or several is a loud error, not a guess. */
  private def withWatermarkOverlay(a: MaterializedViewWrite)(build: => DataFrame): DataFrame =
    a.watermarkColumn match {
      case None => build
      case Some(wc) =>
        // the parser guarantees delay+sql exist whenever column does
        val delay = a.watermarkDelay.get
        val sqlText = a.sql.orElse(a.sqlPath.map(readFile)).getOrElse("")
        val target = a.watermarkView.getOrElse {
          val refs = streamingViews.toSeq.sorted.filter(v =>
            ("""\b""" + java.util.regex.Pattern.quote(v) + """\b""").r
              .findFirstIn(sqlText).isDefined)
          refs match {
            case Seq(one) => one
            case Seq() => throw Planner.PlanError(
              s"materialized_view '${a.name}': watermark declared but the " +
                "sql references no registered streaming view — name it via " +
                "watermark.view")
            case many => throw Planner.PlanError(
              s"materialized_view '${a.name}': watermark is ambiguous " +
                s"across streaming views ${many.mkString(", ")} — name one " +
                "via watermark.view")
          }
        }
        val orig = views.getOrElse(target, throw Planner.PlanError(
          s"materialized_view '${a.name}': watermark.view '$target' is not " +
            "a registered streaming view"))
        if (!orig.columns.contains(wc)) throw Planner.PlanError(
          s"materialized_view '${a.name}': watermark column '$wc' is not in " +
            s"view '$target' (columns: ${orig.columns.mkString(", ")})")
        orig.withWatermark(wc, delay).createOrReplaceTempView(target)
        try build finally orig.createOrReplaceTempView(target)
    }

  /** True when the MV SQL's plan contains a stream-stream join whose BOTH
    * sides carry event-time watermarks — the shape the append-mode
    * maintenance route can run directly (the audit refuses the
    * unwatermarked variant before this can matter). */
  private def watermarkedStreamStreamJoin(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Join => LJoin}
    def hasWm(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.exists { case _: EventTimeWatermark => true; case _ => false }
    df.isStreaming && df.queryExecution.analyzed.exists {
      case j: LJoin if j.left.isStreaming && j.right.isStreaming =>
        hasWm(j.left) && hasWm(j.right)
      case _ => false
    }
  }

  /** GLOBAL-window MV maintenance (mode: incremental_recompute, NO keys) —
    * the leaderboard shape: `rank()/dense_rank()/row_number() OVER
    * (ORDER BY …)` with an empty PARTITION BY, ranking the WHOLE base.
    * Neither streaming maintenance (unbounded state) nor key-local
    * recompute (no key) can express it, and the naive plan is the one
    * thing this engine must never run at 100 TB: Spark executes an
    * empty-partition window as a SINGLE-TASK sort of the entire table.
    *
    * Two-level decomposition (see
    * [[org.apache.spark.sql.graftnative.GlobalWindowMv]] for the plan
    * surgery): range-bucket the base on the first ORDER BY column
    * (boundaries sampled once, frozen in the `gwmeta` table sidecar),
    * rank each bucket locally in parallel, and lift local → global ranks
    * with per-bucket prefix offsets from a tiny row/distinct-count
    * summary. Per refresh, the delta's lowest touched bucket m bounds the
    * work: buckets sorting before m keep their rows AND their offsets
    * (the base is append-only, so counts only grow after m), hence their
    * ranks — those partitions are never read or rewritten, byte-stable by
    * construction. The suffix [m, last] recomputes from the current base
    * behind a scan-pushable order-column range filter, exactly the keyed
    * path's posture, and crash replays self-heal the same way (recompute
    * from current base is idempotent; counts for untouched buckets in a
    * stale sidecar are still correct because the crashed run never
    * touched them). The MV table carries a trailing `__gw_bucket` int
    * column — the physical replace granularity.
    *
    * Reference: `generators/write/materialized_view.py:21` (DLT Enzyme's
    * incremental-MV surface — this closes its global-OVER-window
    * residue). */
  private def runGlobalWindowRecompute(a: MaterializedViewWrite,
      delta: DataFrame, deltaView: String, sqlText: String, probe: DataFrame,
      wrapMv: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.graftnative.GlobalWindowMv
    val shape0 = GlobalWindowMv.analyze(probe.queryExecution.analyzed) match {
      case Right(sh) => sh
      case Left(msg) => throw Planner.PlanError(graft.ErrorCodes.ACT_011(
        s"materialized_view '${a.name}' (mode: incremental_recompute, " +
          s"global-window route): $msg"))
    }
    // the delta must carry the ranking column — or, computed ORDER BY,
    // every column the expression reads — to locate which buckets changed
    val refNames = GlobalWindowMv.deltaRefNames(shape0)
    val refCols = refNames.map(n =>
      delta.columns.find(_.equalsIgnoreCase(n)).getOrElse(
        throw Planner.PlanError(graft.ErrorCodes.ACT_011(
          s"materialized_view '${a.name}' (global-window route): ORDER BY " +
            s"column '$n' not in recompute.view " +
            s"'$deltaView' (columns: ${delta.columns.mkString(", ")}) — " +
            "the delta must carry the ranking column (for a computed " +
            "ORDER BY, every column it reads) to locate which buckets " +
            "changed"))))
    // plan-time wrapper probe: a declared schema that drops __gw_bucket
    // would fail mid-stream; surface it here, by name
    if (!wrapMv(probe.withColumn("__gw_bucket", lit(0)))
        .columns.contains("__gw_bucket"))
      throw Planner.PlanError(graft.ErrorCodes.ACT_011(
        s"materialized_view '${a.name}' (global-window route): the " +
          "declared schema/row wrappers removed __gw_bucket — it is the " +
          "physical replace granularity and must reach the table " +
          "(declare it as __gw_bucket INT, or drop the declared schema)"))
    StreamTuning.drain(delta.select(refCols.map(col): _*), checkpointFor(a.name))(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        // re-resolve per batch (the keyed path's convention): the base
        // view's files may differ between microbatches of one run
        val plan = spark.sql(sqlText).queryExecution.analyzed
        val shape = GlobalWindowMv.analyze(plan)
          .getOrElse(throw Planner.PlanError(graft.ErrorCodes.ACT_011(
            s"materialized_view '${a.name}' (global-window route): the " +
              "sql's window shape changed between the plan-time audit and " +
              "this refresh (a referenced view was redefined mid-run?) — " +
              "re-run the pipeline")))
        val dt = shape.orderAttr.dataType
        val sig = GlobalWindowMv.orderSig(shape)
        val rawMeta = store.getMeta(a.table, "gwmeta")
        val decoded = rawMeta.flatMap(GlobalWindowMv.decodeMeta)
        val stored = decoded
          // the frozen boundaries/counts are only valid for the SAME
          // order spec (column, direction, nulls, tie-break keys) and
          // column type; a dense_rank added after counts were stored
          // without distincts would read zero offsets — all of these
          // fall back to a fresh bootstrap (full recompute), never to
          // silently wrong ranks
          .filter(mt => mt.typeDdl == dt.sql && mt.orderSig == sig &&
            (!shape.needsDistinct || mt.hasDistincts))
        // an EXISTING sidecar that fails decode or validation degrades to
        // a full bootstrap — correct, but it must say WHY: a standing
        // cause (a corrupt sidecar, an edited ORDER BY, a host-class
        // decode bug — the r16 locale defect was exactly this shape)
        // would otherwise turn every incremental refresh into a silent
        // full recompute forever
        if (rawMeta.isDefined && stored.isEmpty)
          graft.Log.warn(s"materialized_view '${a.name}': table " +
            s"'${a.table}' carries a gwmeta sidecar that " +
            (decoded match {
              case None => "failed to decode"
              case Some(mt) if mt.typeDdl != dt.sql || mt.orderSig != sig =>
                "no longer matches this query's order spec/type " +
                  s"(stored sig/type: '${mt.orderSig}'/'${mt.typeDdl}', " +
                  s"query: '$sig'/'${dt.sql}')"
              case Some(_) =>
                // the remaining filter condition: distinct counts needed
                // but never stored — expected ONE-TIME re-bootstrap after
                // adding a dense_rank, not a standing fault
                "lacks the distinct counts this query's dense_rank needs " +
                  "(stored before the function was added — expected once)"
            }) +
            " — running a full bootstrap refresh and re-deriving state. " +
            "If this repeats every run, the cause is standing; " +
            "investigate rather than paying full recomputes forever")
        val (meta0, minBucket) = stored match {
          case Some(mt) =>
            // an edited buckets: value cannot take effect while the
            // boundaries stay frozen — say so instead of appearing to
            // honor the config (the count itself stays stored so this
            // fires once per mismatched refresh, not per sync run)
            if (mt.declaredBuckets != a.recomputeBuckets)
              graft.Log.warn(s"materialized_view '${a.name}': recompute." +
                s"buckets is now ${a.recomputeBuckets} but the table's " +
                s"range boundaries were frozen at ${mt.declaredBuckets} — " +
                s"the declared value takes effect only after a full " +
                s"refresh of '${a.table}' re-derives them")
            val bnds = GlobalWindowMv.Boundaries(mt.boundaries, dt)
            val orderValue = GlobalWindowMv.deltaOrderColumn(shape, batch.columns)
              .fold(missing => throw Planner.PlanError(graft.ErrorCodes.ACT_011(
                s"materialized_view '${a.name}' (global-window route): the " +
                  s"delta batch lost ranking column(s) $missing between " +
                  s"plan time and this refresh (batch has: " +
                  s"${batch.columns.mkString(", ")}) — re-run the pipeline")),
                identity)
            (mt, GlobalWindowMv.minDeltaBucket(batch, orderValue, shape, bnds))
          case None =>
            val childDf = org.apache.spark.sql.graftnative.PlanBridge
              .ofRows(spark, shape.windowNode.child)
            // a sample too small to bucket returns Nil → single-bucket
            // full recompute this refresh, re-derive next time (cheap by
            // definition at that size); boundaries only persist once the
            // table is worth bucketing
            val bs = GlobalWindowMv.sampleBoundaries(childDf, shape, a.recomputeBuckets)
            // tie-skew guard: ties must share a bucket, so a low-cardinality
            // order key collapses sampled cut points and the route degrades
            // back toward the single-task global sort it exists to prevent —
            // say so loudly at bootstrap (the one moment it is cheap to fix)
            // instead of letting refreshes quietly serialize
            if (bs.sampled >= a.recomputeBuckets * 4 &&
                bs.boundaries.size < a.recomputeBuckets / 2)
              graft.Log.warn(f"materialized_view '${a.name}': the global-" +
                f"window ORDER BY key has heavy ties — ${bs.sampled} values " +
                f"sampled, ${bs.distinctValues} distinct; the largest tie " +
                f"group (value '${bs.topRepr.getOrElse("")}') is " +
                f"${bs.topShare * 100}%.0f%% of the sample. Ties must share " +
                f"a range bucket, so only ${bs.boundaries.size + 1} of the " +
                f"declared ${a.recomputeBuckets} buckets are effective and " +
                f"refreshes degrade toward a single-task sort; materialize " +
                f"a higher-cardinality ranking column in the base (e.g. " +
                f"fold a tie-break term into the ORDER BY key)")
            // the advisory above is one log line; the same diagnostics
            // persist in the gwmeta sidecar (via this Meta) so a later
            // operator can read WHY the MV's buckets collapsed
            (GlobalWindowMv.Meta(dt.sql, sig, shape.needsDistinct,
              a.recomputeBuckets, bs.boundaries, Map.empty, Map.empty,
              bs.sampled, bs.distinctValues, bs.topShare), None)
        }
        val skip = stored.isDefined && minBucket.isEmpty // empty delta batch
        if (!skip) {
          val blits = GlobalWindowMv.Boundaries(meta0.boundaries, dt)
          val lo = shape.minBucketId
          val hi = shape.maxBucketId(meta0.boundaries.size)
          // percent_rank/cume_dist/ntile are functions of the GLOBAL row
          // count: any delta changes every row's value, so the suffix
          // optimization (and byte-stability) only applies to the pure
          // rank family — N-dependent shapes rewrite all buckets (still
          // bucket-parallel, never the single-task global sort)
          val suffixFrom = if (shape.nDependent) None else minBucket
          val m = suffixFrom.getOrElse(lo)
          val summary = GlobalWindowMv.summarize(spark, shape, blits, suffixFrom)
          val counts = meta0.counts.filter(_._1 < m) ++ summary.view.mapValues(_._1)
          val dists = meta0.distincts.filter(_._1 < m) ++ summary.view.mapValues(_._2)
          val df = GlobalWindowMv.rewrite(spark, plan, shape, blits, suffixFrom,
            GlobalWindowMv.prefixOffsets(lo, hi, counts),
            GlobalWindowMv.prefixOffsets(lo, hi, dists),
            totalRows = counts.values.sum)
          // driver-local rows with an attached schema (stringForms needs
          // it) — no Spark job for a <= B+2 element list
          val bucketSchema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__gw_bucket",
              org.apache.spark.sql.types.IntegerType)))
          // On a (re-)bootstrap the new boundary set can be SMALLER than
          // what previously wrote the table (an invalidated order spec
          // re-samples; collapsed cut points shrink the range) — replace
          // by the union of the new range and every __gw_bucket partition
          // already on disk, or stale ranked rows above the new hi survive
          // and contradict the fresh output. Metadata-scale directory walk,
          // bootstrap-only.
          val affectedIds: Seq[Int] =
            if (stored.isDefined) m to hi
            else ((m to hi) ++ store.partitionValues(a.table, Seq("__gw_bucket"))
              .flatMap(_.headOption.flatten)
              .flatMap(s => scala.util.Try(s.toInt).toOption)).distinct.sorted
          val affected: Seq[org.apache.spark.sql.Row] = affectedIds.map(b =>
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              Array(b), bucketSchema))
          store.replacePartitions(a.table,
            clustered(wrapMv(df), a.clusterColumns, a.clusterStrategy),
            Seq("__gw_bucket"), affected)
          // kill-point: bucket partitions swapped, gwmeta NOT yet updated —
          // the data/sidecar disagreement window. Safe under replay by
          // construction (GwMetaKillSpec pins it): the stream checkpoint
          // commits only after this function returns, so a crash here
          // replays the batch; the replayed refresh recomputes the
          // suffix-bucket counts from the CURRENT base via summarize and
          // only reuses stored counts for buckets < m, which the crashed
          // run never touched.
          graft.exec.CrashForge.maybeHalt("gw_meta")
          if (meta0.boundaries.nonEmpty)
            store.setMeta(a.table, "gwmeta", GlobalWindowMv.encodeMeta(
              // hasDistincts reflects THIS refresh's summary: dropping
              // dense_rank degrades the stored distincts (the >= m
              // entries are zeros), so re-adding it later must
              // re-bootstrap rather than trust them
              meta0.copy(hasDistincts = shape.needsDistinct,
                counts = counts, distincts = dists)))
          // skew advisory: frozen boundaries cannot adapt — a bucket far
          // past the mean means new data outgrew the sampled distribution
          val vals = counts.values
          if (vals.size > 1 && vals.max > 100000 &&
              vals.max > 4L * (vals.sum / vals.size))
            graft.Log.warn(s"materialized_view '${a.name}': global-window " +
              s"bucket sizes are skewed (max ${vals.max} rows vs mean " +
              s"${vals.sum / vals.size}) — the frozen range boundaries no " +
              "longer fit the data distribution; run a full refresh of " +
              s"'${a.table}' to re-derive them")
          // layout advisory (bootstrap only — the one moment fixing the
          // ingest layout is cheap): a computed key whose MonotoneCut
          // conjunct the base layout cannot exploit pays a full scan on
          // every tail refresh (7.7% clustered vs 100% unclustered at
          // both probe scales — PROBE_r18.json); the sampled-layout probe
          // inside layoutAdvisory never runs on incremental refreshes
          if (stored.isEmpty)
            GlobalWindowMv.layoutAdvisory(spark, shape, blits).foreach(msg =>
              graft.Log.warn(s"materialized_view '${a.name}': $msg"))
        }
        hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, batchId)
      })
  }

  /** One advisory line per stream-stream join naming the computed state
    * horizon — watermark delay + condition-derived retention range per
    * side. State = horizon's worth of rows in the checkpoint: a copied
    * `delay: 3650 days` silently retains a decade of both streams, and
    * this line is the only place that becomes visible BEFORE the
    * checkpoint swallows the cluster. Always emitted on the ssj append
    * route (the audit has already proven both sides bounded). */
  private def logSsjStateHorizon(actionName: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LogicalPlan, Join => LJoin}
    def delayMs(p: LogicalPlan): Long = p.collect {
      case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay)
    }.maxOption.getOrElse(0L)
    def fmt(ms: Long): String =
      if (ms >= 86400000L) f"${ms / 86400000.0}%.1f days"
      else if (ms >= 3600000L) f"${ms / 3600000.0}%.1f h"
      else s"$ms ms"
    df.queryExecution.analyzed.foreach {
      case j: LJoin if j.left.isStreaming && j.right.isStreaming =>
        val (lRange, rRange) =
          org.apache.spark.sql.graftnative.StreamingJoinProbe.stateRangeMs(j)
        def side(name: String, p: LogicalPlan, range: Option[Long]): String = {
          val d = delayMs(p)
          range match {
            case Some(r) => s"$name ≈ ${fmt(d + r)} (watermark delay " +
              s"${fmt(d)} + join range ${fmt(r)})"
            case None => s"$name ≈ ${fmt(d)} (watermark delay; " +
              "state keyed to the event-time window)"
          }
        }
        graft.Log.warn(s"materialized_view '$actionName': stream-stream " +
          "append maintenance — join state horizon: " +
          side("left", j.left, lRange) + "; " + side("right", j.right, rRange) +
          ". The checkpoint retains this horizon's worth of BOTH streams; " +
          "a large watermark delay means an unbounded-in-practice state " +
          "store — size the delay to real lateness, not retention.")
      case _ =>
    }
  }

  /** Detect a TOP-LEVEL dedup on the MV's raw analyzed plan — `Distinct`
    * (SELECT DISTINCT) or `Deduplicate` (dropDuplicates) as the outermost
    * operator over a streaming child. Returns the under-dedup child
    * (rebuilt as a DataFrame via the [[org.apache.spark.sql.graftnative
    * .PlanBridge]]) and the dedup keys (empty = full row). Dedup BELOW
    * other operators stays with the audit's refusal: pulling it out from
    * under an aggregation would change results. */
  private def dedupTop(df: DataFrame): Option[(DataFrame, Seq[String])] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct}
    if (!df.isStreaming) None
    else df.queryExecution.analyzed match {
      case Distinct(child) =>
        Some((org.apache.spark.sql.graftnative.PlanBridge.ofRows(spark, child), Nil))
      case Deduplicate(keys, child) =>
        Some((org.apache.spark.sql.graftnative.PlanBridge.ofRows(spark, child),
          keys.map(_.name)))
      case _ => None
    }
  }

  /** Refuse `mode: incremental` MV shapes that streaming maintenance
    * cannot express, each with an ACT-011 naming the shape and the
    * supported alternative — the loud end of the decision table documented
    * at the call site. Without this, a windowed or dedup-bearing SQL would
    * surface as Spark's anonymous UnsupportedOperationChecker failure at
    * stream start (or worse, a future Spark version could accept it with
    * full-rescan cost), hiding WHICH construct disqualified the shape.
    * `watermarked` = the MV declared a watermark, so maintenance runs in
    * APPEND mode and the aggregation must be windowed on event time. */
  private def auditIncrementalShape(actionName: String, df: DataFrame,
      watermarked: Boolean = false, appendRoute: Boolean = false): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct, Join => LJoin, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val plan = df.queryExecution.analyzed
    def refuse(shape: String, fix: String): Nothing = throw Planner.PlanError(
      graft.ErrorCodes.ACT_011(s"materialized_view '$actionName' " +
        s"(mode: incremental): $shape is not incrementally maintainable — $fix"))
    // every case guards on the NODE's isStreaming: the same construct in a
    // purely static subtree (a windowed/DISTINCT dim subquery on the batch
    // side of a stream-static join) is maintainable — Spark evaluates it
    // per microbatch with no streaming state — and must not be refused
    plan.foreach {
      case w: LWindow if w.isStreaming => refuse("a window function (OVER clause)",
        "use mode: incremental_recompute with recompute keys included in " +
          "every PARTITION BY (partition-scoped recompute over the base " +
          "table); for a GLOBAL window (empty PARTITION BY — rank over " +
          "the whole table) use mode: incremental_recompute with " +
          "recompute: {view: <base>} and NO keys; or omit mode (full " +
          "refresh)")
      // dedup at the MV's TOP level never reaches this audit — dedupTop
      // strips it for anti-join maintenance. A dedup reaching here is
      // NESTED (e.g. an aggregation over distinct rows): pulling it out
      // would change results, and streaming it needs data-sized state
      case d: Deduplicate if d.isStreaming =>
        refuse("nested row deduplication (dropDuplicates below other operators)",
          "hoist the dedup to the MV's top level (maintained via anti-join " +
            "append), dedup upstream in the streaming_table, use mode: " +
            "incremental_recompute if the whole sql is key-local, or omit mode")
      case d: Distinct if d.isStreaming =>
        refuse("nested row deduplication (DISTINCT below other operators)",
          "hoist the dedup to the MV's top level (maintained via anti-join " +
            "append), dedup upstream in the streaming_table, use mode: " +
            "incremental_recompute if the whole sql is key-local, or omit mode")
      case j: LJoin if j.left.isStreaming && j.right.isStreaming =>
        // a stream-stream join IS incrementally maintainable in append mode
        // when both sides carry event-time watermarks AND the join
        // condition bounds both sides' state (q62's semantics as MV
        // maintenance — the caller routes it); the refusals narrow to the
        // genuinely unbounded shapes, each named
        import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
        def hasWm(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
          p.exists { case _: EventTimeWatermark => true; case _ => false }
        if (!hasWm(j.left) || !hasWm(j.right)) {
          val bare = Seq(
            if (!hasWm(j.left)) Some("left") else None,
            if (!hasWm(j.right)) Some("right") else None).flatten.mkString("+")
          refuse(s"a stream-stream join with an unwatermarked $bare side " +
            "(join state could never be evicted)",
            "watermark every stream side (transform_type: watermark on the " +
              "source views), bound the join with a time-range condition, " +
              "or use mode: incremental_join with the fact side under " +
              "stream(...)")
        }
        // watermarks alone never clean join state: without a time
        // constraint an inner join keeps EVERY row of both sides in the
        // checkpoint forever (and an outer join fails anonymously at
        // stream start). Ask Spark's OWN state analyzer, not a re-derived
        // condition parser — per side, so the refusal names which side's
        // state would grow without bound.
        if (!org.apache.spark.sql.graftnative.StreamingJoinProbe.watermarkInJoinKeys(j)) {
          val (le, re) = org.apache.spark.sql.graftnative.StreamingJoinProbe.evictableSides(j)
          if (!le || !re) {
            val bare = Seq(
              if (!le) Some("left") else None,
              if (!re) Some("right") else None).flatten.mkString("+")
            refuse("a stream-stream join whose condition does not bound " +
              s"the $bare side's state (watermarks alone never evict join " +
              "state — it would grow with the corpus)",
              "add an event-time range constraint between the two sides " +
                "(e.g. b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES), " +
                "join on the event-time window itself, or materialize via " +
                "a streaming_table and aggregate that table")
          }
        }
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if agg.isStreaming && agg.aggregateExpressions.exists(_.collectFirst {
            case ae: AggregateExpression if ae.isDistinct => ae }.nonEmpty) =>
        refuse("an exact DISTINCT aggregate",
          "use mode: incremental_join (DISTINCT recomputes exactly over " +
            "the pre-joined companion) or approx_count_distinct")
      case _ =>
    }
    // append-mode emission is keyed to window finalization: an aggregation
    // with no event-time window group key would never emit (Spark refuses
    // it anonymously at stream start). The analyzer has already rewritten
    // window()/session_window() calls, but it marks the produced group
    // attribute's metadata — the same marker Spark's own checker keys on.
    // Applies on BOTH append routes: a declared watermark (which REQUIRES a
    // windowed agg — nothing else can emit) and the stream-stream-join
    // route (where zero aggregation is fine — joined rows emit directly —
    // but an aggregation, if present, must be windowed).
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SessionWindow, TimeWindow}
    def isWindowedAgg(agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate) =
      agg.groupingExpressions.exists(_.exists {
        case att: Attribute => att.metadata.contains(TimeWindow.marker) ||
          att.metadata.contains(SessionWindow.marker)
        case _ => false
      })
    val streamingAggs = plan.collect {
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if agg.isStreaming => agg
    }
    if (watermarked && !streamingAggs.exists(isWindowedAgg)) refuse(
      "a watermark without a window(...) group key",
      "group by window(<watermark column>, ...) / session_window(...) so " +
        "finalized windows can emit, or drop the watermark for " +
        "complete-mode maintenance")
    if (!watermarked && appendRoute && !streamingAggs.forall(isWindowedAgg)) refuse(
      "an unwindowed aggregation above a stream-stream join (append-mode " +
        "maintenance can only emit finalized windows)",
      "group by window(...)/session_window(...) on an event-time column, " +
        "or materialize the join into a streaming_table first and aggregate " +
        "THAT table under mode: incremental")
  }

  /** Refuse `mode: incremental_recompute` MV sql that is not KEY-LOCAL —
    * the soundness condition for partition-scoped recompute is that the MV
    * rows for key value k are a pure function of base rows with key value
    * k, so that recomputing only the affected keys' partitions reproduces
    * the full-refresh answer. Audited on the analyzed plan:
    *   - every Window's PARTITION BY and every Aggregate's GROUP BY must
    *     include all keys as top-level attributes (an expression OF a key,
    *     like `ub % 2`, groups across key values and is refused);
    *   - keyed dropDuplicates must dedup on a superset of the keys; full-
    *     row DISTINCT is key-local iff its input carries the keys;
    *   - cross-key mixers — joins, set operations, LIMIT/OFFSET/TABLESAMPLE,
    *     subquery expressions (a scalar subquery can read other
    *     partitions' rows) — refuse with the supported alternative named.
    * Row-local operators (Project/Filter/Generate/Sort) pass freely. */
  private def auditRecomputeShape(actionName: String, df: DataFrame,
      keys: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
      Distinct, Except, GlobalLimit, Intersect, Join => LJoin, LocalLimit,
      Offset, Sample, Tail, Union, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, SubqueryExpression}
    val plan = df.queryExecution.analyzed
    def refuse(shape: String, fix: String): Nothing = throw Planner.PlanError(
      graft.ErrorCodes.ACT_011(s"materialized_view '$actionName' " +
        s"(mode: incremental_recompute): $shape breaks key-locality — $fix"))
    def topLevelAttrs(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] =
      exprs.collect { case att: Attribute => att.name }
    def missingFrom(names: Seq[String]): Seq[String] =
      keys.filterNot(k => names.exists(_.equalsIgnoreCase(k)))
    plan.foreach { node =>
      node match {
        case w: LWindow =>
          val miss = missingFrom(topLevelAttrs(w.partitionSpec))
          if (miss.nonEmpty) refuse(
            s"a window function whose PARTITION BY omits recompute key(s) ${miss.mkString(", ")}",
            "include every recompute key as a bare column in each OVER " +
              "clause's PARTITION BY, or omit mode (full refresh)")
        case agg: Aggregate =>
          val miss = missingFrom(topLevelAttrs(agg.groupingExpressions))
          if (miss.nonEmpty) refuse(
            s"an aggregation whose GROUP BY omits recompute key(s) ${miss.mkString(", ")}",
            "group by every recompute key as a bare column, or use mode: " +
              "incremental (streaming aggregation) instead")
        case d: Deduplicate =>
          val miss = missingFrom(topLevelAttrs(d.keys))
          if (miss.nonEmpty) refuse(
            s"dropDuplicates on key(s) omitting recompute key(s) ${miss.mkString(", ")}",
            "dedup on a superset of the recompute keys (the kept row is " +
              "otherwise chosen across partitions)")
        case d: Distinct =>
          val miss = missingFrom(d.child.output.map(_.name))
          if (miss.nonEmpty) refuse(
            s"DISTINCT over rows that do not carry recompute key(s) ${miss.mkString(", ")}",
            "keep the recompute keys in the DISTINCT projection")
        case _: LJoin => refuse("a join",
          "recompute maintenance tracks ONE base table's delta; use mode: " +
            "incremental_join for dim-join aggregations, or omit mode")
        case _: Union | _: Except | _: Intersect => refuse("a set operation",
          "the delta stream cannot attribute changes across multiple " +
            "inputs; materialize the combined base as its own table first")
        case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
          refuse("a LIMIT/OFFSET",
            "a row cap selects across partitions; apply it in a downstream " +
              "full-refresh view")
        case _: Sample => refuse("TABLESAMPLE",
          "sampling selects across partitions; sample downstream instead")
        case _ =>
      }
      if (node.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
        refuse("a subquery expression",
          "a subquery's result can depend on other partitions' rows; " +
            "restructure as a key-local window or aggregate")
      // NAME-CAPTURE guard: the checks above match keys by NAME, so an
      // Alias (re)defining a key's name anywhere in the plan — `SELECT
      // CAST(ub % 2 AS BIGINT) AS ub FROM base` in a subquery, or `SELECT
      // other AS ub` — would let a window partition by something that is
      // NOT the delta's key column, silently breaking the affected-keys ↔
      // partitions correspondence. Only a pure pass-through rename to the
      // same name is exempt; derived keys must be materialized onto the
      // base table upstream (where the delta stream carries them too).
      node.expressions.foreach(_.foreach {
        case al: Alias if keys.exists(_.equalsIgnoreCase(al.name)) &&
            !(al.child match {
              case att: Attribute => att.name.equalsIgnoreCase(al.name)
              case _ => false
            }) =>
          refuse(s"an alias redefining recompute key '${al.name}'",
            "the key must reach the windows unchanged from the base " +
              "table; compute derived keys upstream so the base table and " +
              "the delta stream both carry them")
        case _ =>
      })
    }
    val missOut = keys.filterNot(k => df.columns.exists(_.equalsIgnoreCase(k)))
    if (missOut.nonEmpty) refuse(
      s"an output schema without recompute key(s) ${missOut.mkString(", ")}",
      "the keys are the replace granularity and must be MV columns")
  }

  /** Drop a write target's table and this action's stream state when it is
    * marked for full refresh, so the write rebuilds from scratch. The table
    * drops at most once per run — a fan-in's second flow must append to the
    * first flow's fresh output, not wipe it. (Fan-in across FLOWGROUPS is
    * pre-dropped once by the orchestrator for the same reason.) */
  private def applyFullRefresh(table: String, actionName: String): Unit =
    if (fullRefresh.contains("*") || fullRefresh.contains(table)) {
      if (refreshed.add(table) && !refreshDropsExternal) {
        store.drop(table)
        store.drop(s"${table}__changes")
        store.drop(s"${table}__tombstones")
      }
      // the txn cache entry goes either way — the log was dropped (here or
      // by the orchestrator's up-front pass)
      txnCache.remove(s"${table}__changes"): Unit
      Fs.deleteRecursively(checkpointFor(actionName))
    }

  /** Committed (flow#batch) identities per change log, parsed from the
    * `._commit_txn` sidecar ONCE per runner and appended in memory after —
    * a per-microbatch file re-parse would put an O(total commits) cost on
    * the hot append path, the exact class the intent-marker design avoids.
    * Safe under the single-writer-per-table discipline the store documents
    * (no other process appends while this runner owns the table); a full
    * refresh drops the entry with the log. */
  private val txnCache = mutable.Map[String, mutable.Set[String]]()
  private def committedTxnsCached(chTable: String): mutable.Set[String] =
    txnCache.getOrElseUpdate(chTable,
      mutable.Set.from(store.committedTxns(chTable)))

  /** Materialize a write batch consumed by MULTIPLE actions — the
    * change-log append, the delete-kind probe, the tombstone candidate
    * probe, and the merge's own staged write each run the batch's plan.
    * Without the persist every consumer recomputes it from scratch: a file
    * stream re-reads the microbatch's files once per consumer, and a
    * snapshot-CDC batch re-DIFFS THE FULL TARGET per consumer (guide §5:
    * cache exactly the reused intermediates; released in the finally).
    * `reused = false` paths (single-consumer plain appends) skip it. */
  private def withBatchMaterialized[T](batch: DataFrame, reused: Boolean)(
      f: DataFrame => T): T =
    if (!reused) f(batch)
    else {
      val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try f(b) finally { b.unpersist(): Unit }
    }

  private def executeStreamingWrite(a: StreamingTableWrite): Unit = {
    applyFullRefresh(a.table, a.name)
    // `once` flows are single backfills (DLT once-flow semantics): after the
    // first successful run they no-op until a full refresh. Streaming paths
    // already no-op via checkpoints; this marker covers batch flows, whose
    // re-runs would otherwise duplicate appends.
    val onceKey = s"once_${currentPipeline}_${currentFlowgroup}_${a.name}"
    if (a.once && store.getMeta(a.table, onceKey).isDefined) {
      // the data flow is complete, but governance metadata edits (comment/
      // tags added after the backfill) must still land on the table
      applyGovernanceMetadata(a.table, a.comment, a.tags, a.tagsFile)
      return
    }
    // lazy: a snapshot-polling write pulls data from its function, not the
    // source view (which need not exist in that mode)
    lazy val src = {
      val src0raw = withOpMeta(a, resolveSource(a.source))
      val src0 = a.rowFilter.map(src0raw.filter).getOrElse(src0raw)
      val src1 = enforceDeclaredSchema(Expectations(src0, a.expectations, s"expectations_${a.name}"),
        a.tableSchemaDdl, a.name, a.tagsFile)
      // ingest-time bounded-state dedup (see the model's dedupKeys doc):
      // state is checkpointed, so cross-RUN redeliveries within the
      // horizon dedup too, and crash replays resume the same key state
      a.dedupWithin match {
        case None => src1
        case Some(within) =>
          val col = a.dedupColumn.get // parser guarantees the triple
          if (!src1.isStreaming) throw Planner.PlanError(
            s"streaming_table '${a.name}': dedup needs a streaming source " +
              "(watermark-bounded state has no batch counterpart — batch " +
              "flows can dropDuplicates in a transform)")
          if (!src1.columns.contains(col)) throw Planner.PlanError(
            s"streaming_table '${a.name}': dedup column '$col' is not in " +
              s"the source (columns: ${src1.columns.mkString(", ")})")
          val missing = a.dedupKeys.filterNot(src1.columns.contains)
          if (missing.nonEmpty) throw Planner.PlanError(
            s"streaming_table '${a.name}': dedup keys ${missing.mkString(", ")} " +
              s"are not in the source (columns: ${src1.columns.mkString(", ")})")
          src1.withWatermark(col, within)
            .dropDuplicatesWithinWatermark(a.dedupKeys)
      }
    }
    store.setProperties(a.table, a.tableProperties)
    def mkScdOpts(defaultSequenceBy: Seq[String]) = a.cdc.map(c => ScdMerge.Options(
      keys = c.keys,
      sequenceBy = if (c.sequenceBy.nonEmpty) c.sequenceBy else defaultSequenceBy,
      scdType = c.scdType,
      trackHistoryColumns = c.trackHistoryColumnList,
      trackHistoryExcept = c.trackHistoryExceptColumnList,
      ignoreNullUpdates = c.ignoreNullUpdates,
      applyAsDeletes = c.applyAsDeletes,
      applyAsTruncates = c.applyAsTruncates,
      columnList = c.columnList,
      exceptColumnList = c.exceptColumnList))
    lazy val scdOpts = mkScdOpts(Nil)

    (a.cdc, a.snapshotCdc) match {
      case (Some(_), false) if src.isStreaming =>
        // CDC apply-changes: foreachBatch merge engine. The MERGE itself is
        // replay-idempotent (ScdMerge's window rebuild drops exact
        // duplicate (key, sequence) rows), so only the change log carries
        // the (flow, batch) txn identity.
        val opts = scdOpts.get
        val flowKey = s"$currentPipeline/$currentFlowgroup/${a.name}"
        StreamTuning.drain(src, checkpointFor(a.name))(
          _.foreachBatch { (batch: DataFrame, id: Long) =>
            withBatchMaterialized(batch, reused = true) { b =>
              val ch = logChanges(a, b, Some(opts), Some((flowKey, id)))
              mergeInto(a, b, opts, ch)
            }
            hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
          })
      case (Some(_), false) =>
        withBatchMaterialized(src, reused = true) { b =>
          val ch = logChanges(a, b, scdOpts)
          mergeInto(a, b, scdOpts.get, ch)
        }
      case (Some(_), true) if a.snapshotFunction.isDefined =>
        // snapshot-polling CDC: drain the source function until caught up,
        // merging each (snapshot, version) in order; the last processed
        // version persists in a sidecar so re-runs resume incrementally.
        // The version is the sequence: injected as a literal column, so
        // SCD2 history starts/ends at snapshot versions (DLT semantics).
        val fn = plugin[SnapshotFunction](a.snapshotFunction.get)
        val verCol = "_snapshot_version"
        var last = store.getMeta(a.table, "snapshot_version").map(_.toLong)
        var next = fn(spark, last, Map.empty)
        while (next.isDefined) {
          val (snap0, version) = next.get
          require(last.forall(_ < version),
            s"snapshot version $version not after ${last.get} on '${a.table}'")
          val snap = snap0.withColumn(verCol, lit(version))
          val opts = mkScdOpts(Seq(verCol)).get
          val changes = SnapshotCdc.diff(store.readIfExists(a.table), snap, opts)
          val mergeOpts = SnapshotCdc.mergeOptions(opts)
          withBatchMaterialized(changes, reused = true) { b =>
            val ch = logChanges(a, b, Some(mergeOpts))
            mergeInto(a, b, mergeOpts, ch)
          }
          store.setMeta(a.table, "snapshot_version", version.toString)
          last = Some(version)
          next = fn(spark, last, Map.empty)
        }
      case (Some(_), true) =>
        // snapshot-CDC: diff the incoming full snapshot against current
        // state (the diff needs the FULL target — deletes are keys absent
        // from the snapshot); the merge itself is partition-scoped
        val changes = SnapshotCdc.diff(store.readIfExists(a.table), src, scdOpts.get)
        val mergeOpts = SnapshotCdc.mergeOptions(scdOpts.get)
        withBatchMaterialized(changes, reused = true) { b =>
          val ch = logChanges(a, b, Some(mergeOpts))
          mergeInto(a, b, mergeOpts, ch)
        }
      case (None, _) if src.isStreaming =>
        // exactly-once under crash: foreachBatch replay lands the batch at
        // the SAME deterministic (flow, batch) file names (appendBatch) and
        // the change log dedups on the same identity — the plain-append
        // counterpart of the CDC path's idempotent merge
        val flowKey = s"$currentPipeline/$currentFlowgroup/${a.name}"
        StreamTuning.drain(src, checkpointFor(a.name))(
          _.foreachBatch { (batch: DataFrame, id: Long) =>
            // reused only when a change log rides beside the table append
            withBatchMaterialized(batch, reused = a.changeLog) { b =>
              logChanges(a, b, None, Some((flowKey, id))): Unit
              store.appendBatch(a.table,
                clustered(b, a.clusterColumns, a.clusterStrategy),
                flowKey, id, a.partitionColumns)
            }
            hooks.onBatchCommitted(currentPipeline, currentFlowgroup, a.table, id)
          })
      case (None, _) =>
        withBatchMaterialized(src, reused = a.changeLog) { b =>
          logChanges(a, b, None): Unit
          store.append(a.table, clustered(b, a.clusterColumns, a.clusterStrategy), a.partitionColumns)
        }
    }
    if (a.once) store.setMeta(a.table, onceKey, "done")
    applyGovernanceMetadata(a.table, a.comment, a.tags, a.tagsFile)
    // a snapshot-polling write may legitimately find no snapshots on a run
    registerTableView(a.table)
    hooks.onTableWritten(currentPipeline, currentFlowgroup, a.table)
  }

  /** Persist a write target's governance metadata (write_target.comment /
    * tags / tags_file) in TableStore sidecars and fire the tagging hook —
    * the runtime counterpart of the reference's uc_tagging hook template.
    * tags_file contributes first; explicit `tags` win on key conflict. */
  private def applyGovernanceMetadata(table: String, comment: Option[String],
      tags: Map[String, String], tagsFile: Option[String]): Unit = {
    comment.foreach(c => store.setMeta(table, "comment", c))
    // run-time resolution must stay inside the loud-error contract: a
    // missing file or malformed YAML surfaces as a PlanError naming the
    // write target and file, not a raw NIO/NoSuchElement stack
    val fromFile = tagsFile.map { f =>
      try graft.config.SchemaParser.parseTagsFile(readFile(f)).flattened
      catch {
        case e: graft.config.YamlConfig.ConfigError => throw Planner.PlanError(
          s"write '$table': tags_file '$f' — ${e.getMessage}")
        case e: java.io.IOException => throw Planner.PlanError(
          s"write '$table': tags_file '$f' could not be read " +
            s"(resolved to '${resolveFile(f)}'): ${e.getMessage}")
      }
    }.getOrElse(Map.empty)
    val declared = fromFile ++ tags
    if (declared.nonEmpty && tagsEnabled) {
      // reference default is ADDITIVE (create/update only): tags set by an
      // earlier run survive a config that no longer declares them; the
      // remove_undeclared_tags reconcile mode writes exactly the declared
      // set (uc_tagging contract, models/_uc_tagging.py:15-18)
      val effective =
        if (removeUndeclaredTags) declared else store.tags(table) ++ declared
      store.setTags(table, effective)
      hooks.onTableTagged(currentPipeline, currentFlowgroup, table, declared)
    }
  }

  /** Enforce a write target's declared DDL schema (write_target.table_schema):
    * outgoing rows are projected to exactly the declared columns, cast to the
    * declared types — missing columns are a loud error, extra columns are
    * dropped (the reference creates the table from this DDL; writing a
    * different shape would fail there too). A pure projection — streaming
    * frames pass through unchanged in streaming-ness. */
  private def enforceDeclaredSchema(df: DataFrame, ddl: Option[String],
      name: String, tagsFile: Option[String] = None): DataFrame = ddl match {
    case None => df
    case Some(d) =>
      // file reference only when the resolved file actually EXISTS — a
      // Try(fromDDL).getOrElse(file) dispatch would mask a DDL typo as a
      // nonsense file-not-found error
      val ref = resolveFile(d)
      val declared =
        if (java.nio.file.Files.isRegularFile(ref)) {
          val text = readFile(d)
          // LHP-CFG-069 footgun: a table_schema file is read for column
          // TYPES only — UC tags it carries apply only when the SAME file
          // is also the action's tags_file. Warn, never raise.
          if (graft.config.SchemaParser.hasTags(text) &&
              !tagsFile.exists(t => resolveFile(t).toAbsolutePath.normalize ==
                ref.toAbsolutePath.normalize))
            graft.Log.warn(s"write '$name': table_schema " +
              s"file '$d' carries UC tags that will NOT be applied — wire " +
              "the same file as tags_file too (reference LHP-CFG-069)")
          graft.config.SchemaParser.parse(text).schema
        }
        else StructType.fromDDL(d)
      val missing = declared.fields.map(_.name)
        .filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
      if (missing.nonEmpty) throw Planner.PlanError(
        s"write '$name': table_schema declares column(s) " +
          s"${missing.mkString(", ")} absent from the source")
      df.select(declared.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** Frames persisted for a write's double read (quantile pass + write);
    * released at the end of run(). */
  private val pendingUnpersist = mutable.ArrayBuffer[DataFrame]()

  /** Cluster a frame on the write's cluster columns: repartition +
    * in-partition sort makes each file's parquet min/max stats tight and
    * disjoint, so later scans skip files (the parquet stand-in for liquid
    * clustering). "range" is lexicographic (first column dominates);
    * "zorder" interleaves quantile-bucket bits so EVERY cluster column
    * gets skipping locality ([[graft.operators.ZOrder]]). The zorder input
    * is persisted first: the quantile pass is an extra action, and without
    * the cache it would recompute the write's whole upstream plan twice. */
  private def clustered(df: DataFrame, cols: Seq[String],
      strategy: String = "range"): DataFrame =
    if (cols.isEmpty) df
    else if (strategy == "zorder") {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pendingUnpersist += cached
      graft.operators.ZOrder.cluster(cached, cols)
    }
    else df.repartitionByRange(cols.map(col): _*).sortWithinPartitions(cols.map(col): _*)

  /** Apply a CDC change batch to the target. When the write's partition
    * columns are all merge keys, the merge closes over exactly the
    * partitions the batch touches: the target is filtered to those
    * partitions (static pruning via literal predicate) and only their
    * directories are rewritten — a CDC batch touching 50 of 50k partitions
    * at 100 TB reads and moves 50, not the whole table. Truncates clear the
    * whole target by definition, so they fall back to a full replace. */
  private def mergeInto(a: StreamingTableWrite, batch: DataFrame,
      opts: ScdMerge.Options, chCommit: Option[ChangeCommit] = None): Unit = {
    val partCols = a.partitionColumns
    // Deletes that left no row behind persist in the `<table>__tombstones`
    // companion (keys + delete sequence; small — standing deletes only)
    // and re-enter every merge. Without them a LATE event below such a
    // delete's sequence is silently mis-merged — SCD1 resurrects the
    // deleted key (every delete leaves no row), SCD2 opens an unclosed
    // span under a DANGLING delete (one that closed nothing when it
    // arrived) — and the live table disagrees with time travel's
    // one-batch log replay. DLT keeps the same state internally (its
    // `pipelines.cdc` tombstone-GC setting exists for it).
    val tombTable = s"${a.table}__tombstones"
    val trackTombs = opts.applyAsDeletes.nonEmpty
    val priorTombs = if (trackTombs) store.readIfExists(tombTable) else None
    // the tombstone CANDIDATES must materialize BEFORE the live replace:
    // some change feeds (snapshot-cdc's successive-snapshot diff) are lazy
    // plans OVER the target table, and re-evaluating `batch` after the
    // replace reads the target's deleted files (FAILED_READ_FILE).
    // None = this batch needs NO companion rewrite (the common delete-free
    // case): a STALE standing tombstone is harmless — it can never
    // outrank a newer live row (scd1) and duplicates squash against the
    // rebuild's re-emitted tombstones (scd2) — so retirement may lag
    // until the next delete-carrying batch; skipping keeps delete-free
    // microbatches at zero companion overhead
    val tombCandidates =
      if (trackTombs) tombstoneCandidates(batch, opts, priorTombs, chCommit)
      else None
    def merge(t: Option[DataFrame]): DataFrame =
      if (opts.scdType == 1) ScdMerge.scd1(t, batch, opts, priorTombs)
      else ScdMerge.scd2(t, batch, opts, priorTombs)
    store.readIfExists(a.table) match {
      case Some(t) if partCols.nonEmpty && partCols.forall(opts.keys.contains) &&
          opts.applyAsTruncates.isEmpty =>
        val affected = store.affectedValues(batch, partCols)
        // a batch touching a huge partition count gains nothing from
        // scoping (the literal predicate itself becomes the cost) — full
        // replace is the better plan there
        if (affected.size > PipelineRunner.MaxScopedPartitions)
          store.replace(a.table,
            clustered(merge(Some(t)), a.clusterColumns, a.clusterStrategy),
            partCols)
        else {
          val scoped = t.filter(TableStore.partitionPredicate(partCols, affected))
          // the full (unscoped) tombstone set rides into the scoped merge:
          // out-of-scope tombstone keys contribute no live rows, so the
          // partition-scoped replace below is unaffected by them
          val merged = merge(Some(scoped))
          store.replacePartitions(a.table, clustered(merged, a.clusterColumns, a.clusterStrategy),
            partCols, affected)
        }
      case t =>
        store.replace(a.table,
          clustered(merge(t), a.clusterColumns, a.clusterStrategy), partCols)
    }
    tombCandidates.foreach(c => refreshTombstones(a.table, tombTable, opts, c))
  }

  /** The tombstone candidate set for this batch — this batch's delete
    * rows plus the standing prior tombstones (cleared when the batch
    * carries a truncate), deduplicated on (keys, sequence). The
    * batch-derived side is MATERIALIZED (localCheckpoint) because it must
    * be computable after the live replace invalidates the batch's own
    * lineage; candidate sets are delete-rows-sized, not batch-sized. None
    * when the batch carries no deletes and no prior-clearing truncate —
    * nothing to add, and retirement can wait (see mergeInto). */
  private def tombstoneCandidates(batch: DataFrame, opts: ScdMerge.Options,
      priorTombs: Option[DataFrame],
      chCommit: Option[ChangeCommit] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val seqAll = (opts.keys ++ opts.sequenceBy).distinct
    // FUSED path — the batch was just durably appended to the change log
    // with `_change_type` computed from the SAME delete predicate and the
    // delete/truncate-hit counts observed ON that append: the candidate
    // set is a pushdown-pruned read of the log rows at this version (a
    // stable file read the live replace below cannot invalidate), so the
    // batch plan is never re-scanned and nothing needs checkpointing —
    // delete-free batches pay ZERO probe jobs (the counts rode the
    // append). Gates without a change log keep the checkpoint path below.
    chCommit match {
      case Some(ci) if ci.nDeletes.isDefined =>
        val hasDels = ci.nDeletes.exists(_ > 0)
        val hasTruncate = ci.nTruncates.exists(_ > 0)
        if (!hasDels && !(hasTruncate && priorTombs.nonEmpty)) return None
        val batchDels = store.read(ci.table)
          .filter(col("_commit_version") === ci.version &&
            col("_change_type") === "delete")
          .select(seqAll.map(col): _*)
        return Some((priorTombs.filter(_ => !hasTruncate) match {
          case Some(ts) => batchDels.unionByName(ts.select(seqAll.map(col): _*))
          case None => batchDels
        }).dropDuplicates(seqAll))
      case _ =>
    }
    val delPred = opts.applyAsDeletes.map(p => coalesce(expr(p), lit(false)))
      .getOrElse(lit(false))
    // ONE scan of the batch plan: materialize the (delete-rows-sized) set,
    // then probe the materialized blocks — the old limit(1) probe + a
    // checkpoint over the union scanned the batch twice and paid a shuffle
    // to materialize the dedup (guide §1.2: remove redundant passes). Only
    // the batch-derived side needs checkpointing (its lineage dies with
    // the live replace); the prior-tombstone side is a stable table read
    // that `replace` below stages against safely, so the union + dedup
    // stay lazy in the candidates the caller consumes.
    val batchDels = batch.filter(delPred).select(seqAll.map(col): _*)
      .localCheckpoint(true)
    val hasDels = !batchDels.isEmpty
    // a truncate in this batch cleared the prior state — tombstones too
    val hasTruncate = opts.applyAsTruncates.exists(t =>
      !batch.filter(coalesce(expr(t), lit(false))).limit(1).isEmpty)
    if (!hasDels && !(hasTruncate && priorTombs.nonEmpty)) None
    else Some((priorTombs.filter(_ => !hasTruncate) match {
      case Some(ts) => batchDels.unionByName(ts.select(seqAll.map(col): _*))
      case None => batchDels
    }).dropDuplicates(seqAll))
  }

  /** Rewrite `<table>__tombstones` AFTER the live merge landed, WITHOUT
    * re-running the merge. `candidates` come pre-materialized from
    * [[tombstoneCandidates]]; a candidate STANDS exactly while the
    * written table cannot re-derive its effect:
    *   - SCD1 (latest delete per key): stands while the table has NO live
    *     row for the key — a live row can only exist if something
    *     outsequenced the delete.
    *   - SCD2 (every delete): stands while NO stored row is closed at
    *     exactly its sequence — once one is, the rebuild's gap-detection
    *     re-emits the closing tombstone from the row itself, so the
    *     companion copy is redundant. Dangling deletes (closed nothing
    *     yet) have no such row and stand until late data arrives.
    * Cost: batch + tombstone-sized frames plus one column-pruned scan of
    * the written table; never a second full merge.
    *
    * Ordering is replay-safe: live first, then tombstones. A crash
    * between the two leaves stale tombstones, but the stream checkpoint
    * commits only after mergeInto returns, so the batch REPLAYS — the
    * merge re-applies idempotently and this rewrite then lands. */
  private def refreshTombstones(table: String, tombTable: String,
      opts: ScdMerge.Options, candidates: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val standing =
      if (opts.scdType == 1) {
        // only the LATEST delete per key can stand for SCD1
        val sq = if (opts.sequenceBy.size == 1) col(opts.sequenceBy.head)
          else struct(opts.sequenceBy.map(col): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(opts.keys.map(col): _*).orderBy(sq.desc)
        candidates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .join(store.read(table), opts.keys, "left_anti")
      } else {
        val cand = candidates.alias("c")
        val closed = store.read(table)
          .select((opts.keys :+ ScdMerge.EndCol).map(col): _*).alias("t")
        val candSq = if (opts.sequenceBy.size == 1)
          col(s"c.${opts.sequenceBy.head}")
        else struct(opts.sequenceBy.map(s => col(s"c.$s")): _*)
        val cond = opts.keys.map(k => col(s"c.$k") === col(s"t.$k"))
          .reduce(_ && _) && (col(s"t.${ScdMerge.EndCol}") <=> candSq)
        cand.join(closed, cond, "left_anti")
      }
    // don't mint an empty companion for the in-order common case (every
    // delete retires immediately); once one exists it is kept current
    if (store.exists(tombTable) || !standing.isEmpty)
      store.replace(tombTable, standing, Nil)
  }

  private def executeTest(a: TestAction): Unit = {
    // data tests count violations — a batch operation; surface a clear
    // error instead of Spark's streaming-query one
    a.source.filter(s => streamingViews.contains(s)).foreach { s =>
      throw Planner.PlanError(
        s"data test '${a.name}' targets streaming view '$s' — tests run on " +
          "tables or batch views; point the test at the written table instead")
    }
    def cfgStr(k: String): Option[String] = a.config.get(k).map(_.toString)
    def cfgSeq(k: String): Seq[String] = a.config.get(k) match {
      case Some(l: java.util.List[_]) =>
        import scala.jdk.CollectionConverters._
        l.asScala.toSeq.map(_.toString)
      case Some(s: String) => Seq(s)
      case _ => Nil
    }
    val violations: DataFrame = a.testType match {
      case "row_count" => DataTests.rowCount(
        resolveSource(a.source.head), resolveSource(a.source(1)),
        cfgStr("tolerance").map(_.toLong).getOrElse(0L))
      case "uniqueness" => DataTests.uniqueness(
        resolveSource(a.source.head), cfgSeq("columns"), cfgStr("filter"))
      case "referential_integrity" => DataTests.referentialIntegrity(
        resolveSource(a.source.head), resolveSource(cfgStr("reference").get),
        cfgSeq("source_columns"), cfgSeq("reference_columns"))
      case "completeness" => DataTests.completeness(
        resolveSource(a.source.head), cfgSeq("required_columns"))
      case "range" => DataTests.range(resolveSource(a.source.head),
        cfgStr("column").get,
        cfgStr("min").orElse(cfgStr("min_value")).get.toDouble,
        cfgStr("max").orElse(cfgStr("max_value")).get.toDouble)
      case "schema_match" => DataTests.schemaMatch(spark, a.source.head, cfgStr("reference").get)
      case "all_lookups_found" => DataTests.allLookupsFound(
        resolveSource(a.source.head), resolveSource(cfgStr("lookup_table").get),
        cfgSeq("lookup_columns"), cfgSeq("lookup_result_columns"))
      case "custom_sql" => spark.sql(cfgStr("sql").get)
      case "custom_expectations" => DataTests.customExpectations(
        resolveSource(a.source.head), YamlConfigRules(a.config))
      case other => throw Planner.PlanError(s"unknown test type '$other'")
    }
    val n = violations.count()
    hooks.onTestResult(currentPipeline, currentFlowgroup, a.name, a.testType, n)
    // reference vocabulary: on_violation in {fail, warn, drop}, default fail
    // (generators/test/_base.py:40-43); drop records-but-continues like warn
    // (violating rows are already excluded from the test view's output)
    val onFail = cfgStr("on_violation").orElse(cfgStr("on_fail")).getOrElse("fail")
    // allowlist BEFORE dispatch: an unknown value would otherwise silently
    // dispatch to fail — fail-closed, but a typo'd 'warn' must be refused
    // by name, not abort a pipeline the user configured to continue
    if (!Set("fail", "warn", "drop").contains(onFail))
      throw Planner.PlanError(graft.ErrorCodes.ACT_010(
        s"test '${a.name}': on_violation must be fail, warn, or drop — " +
          s"got '$onFail'"))
    if (n > 0) {
      if (onFail == "warn" || onFail == "drop")
        graft.Log.warn(s"data test '${a.name}' (${a.testType}): $n violation(s)")
      else
        throw Expectations.ExpectationViolation(s"${a.name}(${a.testType})", n)
    }
  }

  private def YamlConfigRules(config: Map[String, Any]): Seq[Expectations.Rule] =
    graft.config.YamlConfig.parseRules(config.getOrElse("expectations", null))

  /** `table` may be `catalog.schema.name`; views use the last component. */
  private def tableViewName(table: String): String = table.split('.').last

  /** Register a written table under its leaf temp-view name — UNLESS the
    * leaf is ambiguous across qualified tables in this warehouse (the
    * registerAll distinct-size==1 rule): last-wins shadowing at write
    * time would silently hand a bare-leaf consumer whichever table wrote
    * second. The ambiguous leaf is dropped and named instead. */
  // leaf -> qualified names: seeded from ONE warehouse walk per warehouse
  // per PROCESS (the walk runs INSIDE computeIfAbsent's mapping, so a
  // sibling runner constructing against the same warehouse blocks until
  // it finishes — the index is never visible half-seeded), then maintained
  // incrementally on every write. The per-write walk this replaced was
  // O(tables) filesystem scans per write; a per-RUN walk was tried and
  // reverted — O(flowgroups × tables) per orchestrated run, the same cost
  // class. PROCESS-GLOBAL and keyed by warehouse, not a runner field: the
  // orchestrator builds one runner per flowgroup and runs them in
  // parallel, so a per-runner index would never see a sibling flowgroup's
  // dev.events beside this one's prod.events — the exact last-wins
  // shadowing the ambiguity rule exists to refuse. IN-process writes (the
  // real ambiguity risk) keep the index exact through leafIndexAdd; a
  // table another PROCESS creates mid-run surfaces through the
  // apparent-ambiguity re-confirm below or on the next process.
  private val leafIndex = PipelineRunner.leafIndexes.computeIfAbsent(
    store.warehouse,
    wh => {
      val m = new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
      graft.exec.TableStore.listTables(wh).foreach { q =>
        m.computeIfAbsent(tableViewName(q),
          _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
          .add(q): Unit
      }
      m
    })
  // adds go through compute() (atomic per key), NOT computeIfAbsent+add:
  // the re-confirm below REPLACES a leaf's set, and an add landing on the
  // just-orphaned old set would be lost — the next reader would see the
  // table vanish from its own index entry
  private def leafIndexAdd(qualified: String): Unit = {
    leafIndex.compute(tableViewName(qualified), (_, cur) => {
      val s = if (cur != null) cur
        else java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      s.add(qualified); s
    }): Unit
  }

  private def registerTableView(table: String): Unit =
    store.readIfExists(table).foreach { df =>
      val leaf = tableViewName(table)
      // the rare-path warehouse walk runs OUTSIDE the per-leaf lock (a
      // recursive disk walk inside ConcurrentHashMap.compute stalls every
      // same-bin add for its duration); if the set grows to >1 only after
      // this probe — both writers racing their FIRST same-leaf tables —
      // the walk falls back to running under the lock, rare by definition
      val apparentOthers = {
        import scala.jdk.CollectionConverters._
        Option(leafIndex.get(leaf)).exists(_.asScala.exists(_ != table))
      }
      def walkLeaf(): Set[String] =
        graft.exec.TableStore.listTables(store.warehouse)
          .filter(_.split('.').last == leaf).toSet
      val preWalk: Option[Set[String]] = if (apparentOthers) Some(walkLeaf()) else None
      // decision AND registration inside ONE per-leaf atomic section
      // (compute blocks same-key contenders): decided-then-registered as
      // two steps, a sibling's dropTempView for a just-turned-ambiguous
      // leaf could be overwritten by this thread's stale
      // createOrReplaceTempView — the silent last-wins shadowing again
      leafIndex.compute(leaf, (_, cur) => {
        import scala.jdk.CollectionConverters._
        val s = if (cur != null) cur
          else java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        s.add(table): Unit
        val entries = s.asScala.toSeq
        // apparent ambiguity re-confirms against disk (a table dropped by
        // a full refresh may linger in the index). The replacement set is
        // (walk result ∪ survivors of the current set); an entry survives
        // the walk snapshot missing it when it
        //   - IS a table right now (created between snapshot and here —
        //     registration always follows the directory), or
        //   - has its writer lock HELD (mid-replace swap: the directory
        //     is legitimately absent between the two renames, and only
        //     the lock distinguishes that from dropped — a bare exists()
        //     also resurrected dropped tables whose directory lived on
        //     as a nested table's parent, spurious ambiguity forever).
        val (resultSet, confirmed) =
          if (entries.size <= 1) (s, entries)
          else {
            val onDisk = preWalk.getOrElse(walkLeaf())
            val survivors = entries.filter(q =>
              onDisk(q) || store.isTableNow(q) || store.writerLockHeld(q))
            val merged = (onDisk ++ survivors).toSeq
            val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
            merged.foreach(set.add)
            (set, merged)
          }
        if (confirmed.size > 1) {
          spark.catalog.dropTempView(leaf)
          graft.Log.warn(s"table '$table': leaf view name '$leaf' is " +
            s"ambiguous across ${confirmed.sorted.mkString(", ")} — not " +
            "registering a short-name view; consume by qualified name")
        } else df.createOrReplaceTempView(leaf)
        resultSet
      }): Unit
    }

  private def plugin[T](className: String): T =
    plugins.get(className).map(_.asInstanceOf[T]).getOrElse(
      Class.forName(className).getDeclaredConstructor().newInstance().asInstanceOf[T])

  /** Map the reference's cloudFiles.* option vocabulary onto OSS file-source
    * options (SURVEY §2.1 row 1). Three tiers, so no option is ever silently
    * believed-but-dropped (the round-3 verdict's honesty rule):
    *  - translated: a faithful OSS equivalent exists;
    *  - handled elsewhere: schema/rescue/backfill options the load path
    *    emulates itself;
    *  - infra knobs (cloud credentials, notification queues, scheduling
    *    hints): no local effect by construction — warn once, drop;
    *  - anything else: loud ConfigError. */
  /** Case-insensitive `cloudFiles.<name>` lookup: the option TRANSLATOR
    * classifies keys case-insensitively (lowercased suffix match), so the
    * CONSUMERS must resolve them the same way — an exact-case get would let
    * `cloudFiles.mergeschema` be swallowed as handled yet never honored. */
  private def cfOpt(a: CloudFilesLoad, name: String): Option[String] =
    a.options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("cloudFiles." + name) => v
    }

  private def translateCloudFilesOptions(a: CloudFilesLoad): Map[String, String] = {
    // options the CloudFilesLoad branch itself implements
    val handledInLoad = Set("format", "schemahints", "includeexistingfiles",
      "rescueddatacolumn", "rescuedatacolumn", "schemaevolutionmode",
      "schemalocation", "infercolumntypes", "avroschema")
    // cloud-infra/perf hints with no local-filesystem counterpart: safe
    // no-ops locally (credentials, SQS/EventGrid/PubSub queues, monitoring
    // sinks, HTTP client tuning, listing cadence) — the four comprehensive
    // autoloader reference templates (aws/azure/gcp/avro) enumerate these
    val infraNoop = Set("usenotifications", "usemanagedfileevents",
      "backfillinterval", "awsaccesskey", "awssecretkey", "rolearn",
      "rolesessionname", "roleexternalid", "stsendpoint", "region",
      "queueurl", "connectionstring", "clientid", "clientsecret", "tenantid",
      "subscriptionid", "resourcegroup", "allowoverwrites",
      "maxbytespertrigger", "maxfileage", "validateoptions",
      "bucketname", "client", "clientemail", "connectiontimeout",
      "containername", "endpoint", "maxconcurrentrequests",
      "maxretryattempts", "privatekey", "privatekeyid", "projectid",
      "queuename", "readtimeout", "requesttimeout", "retrypolicy",
      "sastokenexpirationbuffer", "storageaccount", "subscription",
      "writetimeout")
    // notification-service / monitoring option FAMILIES (dotted subkeys)
    val infraNoopPrefixes = Seq("cloudwatch.", "sns.", "sqs.",
      "azuremonitor.", "eventgrid.", "queuestorage.", "cloudmonitoring.",
      "gcs.", "pubsub.")
    a.options.flatMap { case (k, v) =>
      if (!k.startsWith("cloudFiles.")) {
        // bare reader-option spellings the comprehensive templates carry:
        // readerCaseSensitive tunes Auto Loader's rescue case-sensitivity;
        // this engine's field resolution is a fixed policy (exact match
        // first, unique case-insensitive fallback, ambiguity loud) — warn
        // rather than let an OSS source swallow the option silently
        if (k.equalsIgnoreCase("readerCaseSensitive")) {
          graft.Log.warn(s"load '${a.name}': '$k' is advisory — field " +
            "resolution is exact-first with unique case-insensitive " +
            "fallback; ambiguous case-distinct matches fail loudly")
          None
        } else if (k.equalsIgnoreCase("rescuedDataColumn") ||
            k.equalsIgnoreCase("rescueDataColumn")) {
          // consumed by the rescue path above — forwarding it would hand an
          // unknown option to the OSS reader, which ignores it silently
          // (the believed-but-dropped state this translator exists to ban)
          None
        } else Some(k -> v)
      } else k.stripPrefix("cloudFiles.").toLowerCase match {
        case "readercasesensitive" =>
          graft.Log.warn(s"load '${a.name}': '$k' is advisory — field " +
            "resolution is exact-first with unique case-insensitive " +
            "fallback; ambiguous case-distinct matches fail loudly")
          None
        case "maxfilespertrigger" => Some("maxFilesPerTrigger" -> v)
        case "cleansource" =>
          // Databricks spellings (OFF/DELETE/MOVE) onto the OSS file-stream
          // cleaner vocabulary (off/delete/archive); OSS spellings intact
          Some("cleanSource" -> (v.toUpperCase match {
            case "MOVE" => "archive"
            case "DELETE" => "delete"
            case "OFF" => "off"
            case _ => v
          }))
        case "cleansource.movedestination" =>
          // same semantics as the OSS archive dir (files moved out of the
          // landing path after processing)
          Some("sourceArchiveDir" -> v)
        case "cleansource.retentionduration" =>
          graft.Log.warn(s"load '${a.name}': '$k' has no OSS equivalent — " +
            "the OSS file-source cleaner acts on processed files without a " +
            "retention delay; ignored")
          None
        case "sourcearchivedir" => Some("sourceArchiveDir" -> v)
        case "ignorefilesolderthan" => Some("maxFileAge" -> v)
        // XML element naming (reference autoloader_xml template spelling);
        // Spark 4's built-in xml source takes the same option
        case "rowtag" => Some("rowTag" -> v)
        case "mergeschema" =>
          // avro: the bridge's cross-file inference merge is the same knob
          // (handled in inferredSchema); parquet/orc: pass to the source.
          // json/csv/text have no such option — forwarding it there would
          // be silently dropped by Spark, exactly the believed-but-ignored
          // state this translator exists to prevent
          a.format match {
            case "avro" => None
            case "parquet" | "orc" => Some("mergeSchema" -> v)
            case other => throw graft.config.YamlConfig.ConfigError(
              s"load '${a.name}': cloudFiles.mergeSchema applies to " +
                s"avro/parquet/orc only (got format '$other')")
          }
        case "datetimerebasemode" =>
          // the bridge reads proleptic Gregorian (Spark's CORRECTED);
          // LEGACY/EXCEPTION only differ for Julian-calendar epochs
          // (pre-1582 dates written by ancient engines) — advisory
          a.format match {
            case "avro" =>
              if (!v.equalsIgnoreCase("CORRECTED"))
                graft.Log.warn(s"load '${a.name}': '$k=$v' — the avro bridge " +
                  "always reads proleptic Gregorian (CORRECTED semantics); " +
                  "pre-1582 dates written by Julian-calendar engines would differ")
              None
            case "parquet" => Some("datetimeRebaseMode" -> v)
            case other => throw graft.config.YamlConfig.ConfigError(
              s"load '${a.name}': cloudFiles.datetimeRebaseMode applies to " +
                s"avro/parquet only (got format '$other')")
          }
        case o if handledInLoad(o) => None
        case o if infraNoop(o) || infraNoopPrefixes.exists(o.startsWith) =>
          graft.Log.warn(s"load '${a.name}': '$k' is a " +
            "cloud-infra option with no local-filesystem effect; ignored")
          None
        case _ => throw graft.config.YamlConfig.ConfigError(
          s"load '${a.name}': unsupported cloudFiles option '$k' — no OSS " +
          "file-source equivalent; remove it or use a supported option")
      }
    } ++ inferColumnTypesOptions(a)
  }

  /** `cloudFiles.inferColumnTypes` (Auto Loader defaults to all-strings
    * inference; true infers types): csv has the same knob (`inferSchema`);
    * json infers types by default, so false maps to `primitivesAsString`. */
  private def inferColumnTypesOptions(a: CloudFilesLoad): Map[String, String] =
    cfOpt(a, "inferColumnTypes").map(_.toBoolean) match {
      case Some(b) if a.format == "csv" => Map("inferSchema" -> b.toString)
      case Some(b) if a.format == "json" => Map("primitivesAsString" -> (!b).toString)
      // parquet/orc/avro carry types in the file format — inference is
      // inherently satisfied, the option is a no-op either way
      case Some(_) if Set("parquet", "orc", "avro").contains(a.format) => Map.empty
      // text/xml/binaryFile/warc have no type-inference knob at all:
      // refuse rather than silently drop (the mergeSchema posture)
      case Some(_) => throw Planner.PlanError(
        s"load '${a.name}': cloudFiles.inferColumnTypes is not supported " +
          s"for format '${a.format}' (csv/json honor it; parquet/orc/avro " +
          "are already typed) — remove the option or declare a schema")
      case None => Map.empty
    }

  /** Emulate `cloudFiles.includeExistingFiles=false` ("only files arriving
    * after stream start"): snapshot the directory listing at FIRST start into
    * a sidecar next to the action's checkpoint, then anti-join the stream on
    * `_metadata.file_path` against it. The OSS `latestFirst` option the old
    * translation used only REORDERS processing — every pre-existing file was
    * still processed, silently giving an opted-out user the full backfill.
    * The listing snapshot is exactly Auto Loader's semantics; the anti-join
    * is stream-static (stateless) and the snapshot side is scan-once. */
  private def excludePreexisting(a: CloudFilesLoad, stream: DataFrame): DataFrame = {
    val include = cfOpt(a, "includeExistingFiles").forall(_.toBoolean)
    if (include) return stream
    val sidecar = new java.io.File(checkpointFor(a.name) + "__preexisting")
    // full refresh (global or targeting a write this load feeds) restarts
    // the stream from scratch: "stream start" is NOW, so the listing
    // snapshot re-takes — everything currently in the directory is the new
    // preexisting set. The intent is recorded once per runner BEFORE the
    // existence check (like the schema pin), so a second run never wipes
    // the snapshot the first refreshed run took.
    if ((fullRefresh.contains("*") || refreshTargetedLoads(a.name)) &&
        refreshedSchemaPins.add(sidecar.toString) && sidecar.exists())
      sidecar.delete(): Unit
    if (!sidecar.exists()) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(a.path)
      val fs = root.getFileSystem(conf)
      val found = mutable.ArrayBuffer[String]()
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) found += normalizeFileUri(it.next().getPath.toString)
      }
      sidecar.getParentFile.mkdirs()
      java.nio.file.Files.write(sidecar.toPath,
        found.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val preexisting = {
      import spark.implicits._
      spark.read.textFile(sidecar.toString).toDF("__pre_path")
    }
    // materialize the stream's file path BEFORE the join — the static side
    // is itself a file source with its own hidden `_metadata`, so a bare
    // reference in the join condition would be ambiguous. URI schemes are
    // stripped on both sides ("file:///x" vs "file:/x") before comparing;
    // the static side is tiny relative to the data it excludes.
    stream
      .withColumn("__graft_file_path",
        regexp_replace(col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      .join(preexisting,
        col("__graft_file_path")
          === regexp_replace(col("__pre_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"),
        "left_anti")
      .drop("__graft_file_path")
  }

  /** "file:///x", "file:/x", "hdfs://nn/x" all normalize to "/x" for
    * listing-vs-`_metadata.file_path` comparison. */
  private def normalizeFileUri(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
}

object PipelineRunner {
  /** Process-wide counter for transient stream-overlay view names —
    * uniqueness across the orchestrator's parallel runner instances. */
  private[exec] val overlayId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-warehouse leaf→qualified-name indexes shared across ALL runner
    * instances in the process (the orchestrator runs one runner per
    * flowgroup in parallel — see registerTableView). Each index is seeded
    * from a disk walk inside the computeIfAbsent mapping, so it is never
    * visible half-seeded. */
  private[exec] val leafIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]]()

  /** Above this many affected partitions a CDC batch full-replaces instead
    * of partition-scoping (the literal pruning predicate stops paying). */
  val MaxScopedPartitions = 2000
}
