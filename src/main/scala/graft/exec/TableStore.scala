package graft.exec

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, lit}

/** Parquet-backed table storage for pipeline targets (no Delta jars in the
  * environment — SURVEY §7). Tables are directories under a warehouse root.
  *
  * Concurrency/scale notes: appends go to unique part-files (Spark's normal
  * committer). Rewrites (`replace`/`upsert`) stage the new contents into a
  * side directory and then swap directories (whole-table) or move only the
  * affected partition directories into place (partition-scoped) — the result
  * is computed entirely BEFORE the target is touched, so a plan may read the
  * table it replaces without lineage breaks, and nothing is ever pinned in
  * executor storage memory (the old `localCheckpoint` design materialized the
  * full table per rewrite — a non-starter at 100 TB). Locally the swap is a
  * same-filesystem rename; on HDFS/S3A-with-committers it maps to the same
  * rename/commit primitives. Single-writer-per-table discipline is enforced
  * by the runner serializing flows per table (SURVEY §7.3c). A real
  * deployment would swap this class for Delta/Iceberg commit protocols — the
  * interface is the seam.
  */
final class TableStore(spark: SparkSession, val warehouse: String,
    /** Sandbox name remapping (the reference's dev-sandbox table rewriting,
      * core/sandbox/ — here a catalog-level mapping, no text rewriting):
      * every table name passes through before hitting storage. */
    nameMap: String => String = identity) {

  /** Storage path for a table, with the sandbox nameMap applied — the single
    * place table names resolve to directories (callers must never rebuild
    * this by hand or they bypass sandbox isolation). */
  def path(table: String): String = s"$warehouse/${nameMap(table).replace('.', '/')}"

  /** Per-table mutation serialization (the EventLog.Writer precedent,
    * store-wide): the orchestrator runs same-generation flowgroups in
    * PARALLEL, and two flows landing in ONE table concurrently hit two
    * races — Spark's file committer shares a `_temporary` staging dir per
    * output path (the first job's commit wipes the second's in-flight
    * files on the direct-write paths), and the schema-guard → land →
    * record-schema sequence is check-then-act on the sidecar. Mutations
    * therefore serialize per RESOLVED table name within the JVM; distinct
    * tables stay fully parallel, and appendBatch stages its (expensive)
    * batch write OUTSIDE the lock so concurrent fan-in flows only
    * serialize the cheap file moves.
    *
    * Cross-PROCESS (and cross-instance) writers are serialized by a second
    * layer: an OS advisory file lock (`<table>._writer_lock` sidecar, held
    * for the mutation's critical section — see [[TableStore.ProcessLock]]).
    * Two RunProject JVMs against one warehouse can no longer interleave
    * staging/swap; a holder that will not yield within
    * `spark.graft.store.lockWaitMs` (default 10 s) is a LOUD error naming
    * the holder — the reference posture is one runtime per pipeline, so
    * sustained contention is a deployment bug, not a queue. The file lock
    * is kernel-released on process death (no stale-lock sweeps). Advisory
    * flocks hold on local/NFS filesystems; object stores need the
    * Delta/Iceberg commit protocol — the documented class-doc seam,
    * unchanged. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(nameMap(table), _ => new Object)

  private def lockWaitMs: Long =
    spark.conf.get("spark.graft.store.lockWaitMs", "10000").toLong

  /** Every mutation's critical section runs under BOTH layers: the JVM
    * monitor (cheap, per-instance flow serialization) and the cross-process
    * file lock. Reentrant per instance — upsert's nested replace/overwrite
    * re-enter safely. */
  private[exec] def withTableLock[T](table: String)(body: => T): T =
    lockFor(table).synchronized {
      val lockPath = Paths.get(path(table) + "._writer_lock")
      TableStore.ProcessLock.acquire(lockPath, this, nameMap(table), lockWaitMs)
      try body
      finally TableStore.ProcessLock.release(lockPath, this)
    }

  def exists(table: String): Boolean = Files.exists(Paths.get(path(table)))

  /** `table` is a table ON DISK right now ([[TableStore.isTableDir]]'s
    * predicate — stricter than [[exists]]). */
  def isTableNow(table: String): Boolean = TableStore.isTableDir(path(table))

  /** `table`'s writer lock is CURRENTLY HELD (this JVM or another
    * process). The one moment a live table's directory is legitimately
    * absent is inside replace()'s two-rename swap — which always runs
    * under the writer lock — so "locked right now" distinguishes
    * mid-swap from dropped (the lock FILE alone cannot: it outlives its
    * table by design, see [[drop]]). */
  def writerLockHeld(table: String): Boolean =
    TableStore.ProcessLock.probeHeld(Paths.get(path(table) + "._writer_lock"))

  /** Reads apply the table's recorded schema (sidecar) when present: plain
    * parquet directories holding files written before a schema WIDENED would
    * otherwise read back with whichever schema the footer sample yields —
    * with an explicit schema, the reader fills missing columns with nulls,
    * which is exactly Delta/Iceberg's add-column semantics. */
  def read(table: String): DataFrame = savedSchema(table) match {
    case Some(s) => spark.read.schema(s).parquet(path(table))
    case None => spark.read.parquet(path(table))
  }

  def savedSchema(table: String): Option[org.apache.spark.sql.types.StructType] =
    getMeta(table, "schema").map(org.apache.spark.sql.types.StructType.fromDDL)

  private def recordSchema(table: String, df: DataFrame): Unit =
    setMeta(table, "schema", df.schema.toDDL)

  def readIfExists(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    withTableLock(table) {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(table))
      recordSchema(table, df)
    }

  def append(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    withTableLock(table) {
      appendGuards(table, df)
      // schema sidecar FIRST: appends only ever WIDEN (the guard above),
      // so a crash after the sidecar but before the files reads old data
      // with the wider schema — added columns null, the evolution
      // semantics. The old order left landed files INVISIBLE columns: a
      // crash between files and sidecar read the new files through the
      // stale narrow schema with no error and no replay to heal batch
      // appends.
      recordSchema(table, df)
      val w = df.write.mode(SaveMode.Append)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(table))
    }

  /** Plain parquet has no schema-evolution protocol of its own. WIDENING
    * appends (incoming ⊇ existing columns) are supported via the schema
    * sidecar: old files read back with nulls for the added columns (the
    * add-column semantics of Delta's mergeSchema). A NARROWING or renamed
    * append still fails loudly — silently dropping a column is the bug
    * class this guard exists for. */
  private def appendGuards(table: String, df: DataFrame): Unit =
    readIfExists(table).foreach { existing =>
      val (have, incoming) = (existing.columns.toSet, df.columns.toSet)
      require(have.subsetOf(incoming),
        s"append to '$table' with mismatched columns: table has " +
          s"${have.toSeq.sorted.mkString(",")} vs incoming ${incoming.toSeq.sorted.mkString(",")}" +
          " (only widening appends are supported)")
      // a same-named column with a DIFFERENT type would pass the name check,
      // then recordSchema would overwrite the sidecar and make every old
      // file unreadable — the exact silent-corruption class this guard
      // exists to prevent
      existing.schema.foreach { f =>
        df.schema.find(_.name == f.name).foreach { g =>
          // catalogString ignores nullability (array containsNull etc.) —
          // only true TYPE changes are corruption
          require(g.dataType.catalogString == f.dataType.catalogString,
            s"append to '$table': column '${f.name}' changes type " +
              s"${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        }
      }
    }

  /** Idempotent streaming append: exactly-once on top of foreachBatch's
    * at-least-once replay. The batch is staged, then its data files are
    * moved into the table under DETERMINISTIC names
    * `graft-<flowHash>-b<batchId>-<i>.parquet`; before the move, any files
    * of the SAME (flow, batch) from an earlier interrupted attempt are
    * removed from the affected partition directories. A replay therefore
    * REPLACES its own earlier attempt instead of appending beside it —
    * Delta's txnAppId/txnVersion idempotence, expressed in file placement.
    *
    * Cleanup is scoped to the partition directories of the staged batch:
    * a replayed batch carries the same source slice, so its partition
    * VALUES are identical across attempts even when the physical split
    * differs (AQE); only the engine's deterministic transforms feed this
    * path. Distinct flows (fan-in) and distinct batches never collide —
    * the name carries both. */
  def appendBatch(table: String, df: DataFrame, flowId: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Unit = {
    appendGuards(table, df) // fail fast before paying the staging write
    val staging = freshStaging(table)
    try {
      // the expensive part — the batch's Spark write — runs OUTSIDE the
      // table lock (its target is a private staging dir), so concurrent
      // fan-in flows overlap their real work and serialize only the file
      // moves below
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(staging)
      val flowHash = java.security.MessageDigest.getInstance("MD5")
        .digest(flowId.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val prefix = s"graft-$flowHash-b$batchId-"
      val stRoot = Paths.get(staging)
      val staged = {
        val s = Files.walk(stRoot)
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(p => Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".")
          }).sortBy(_.toString).toSeq
        finally s.close()
      }
      withTableLock(table) {
        // re-check under the lock: guard → land → record-schema must be
        // atomic against a concurrent flow's widening append
        appendGuards(table, df)
        val tRoot = Paths.get(path(table))
        // clean earlier attempts of THIS (flow, batch) in every partition
        // directory this attempt touches, then land the new files
        staged.map(p => stRoot.relativize(p.getParent)).distinct.foreach { rel =>
          val tDir = tRoot.resolve(rel)
          Files.createDirectories(tDir)
          val listing = Files.list(tDir)
          try listing.toArray.map(_.asInstanceOf[Path])
            .filter(_.getFileName.toString.startsWith(prefix))
            .foreach(Files.delete)
          finally listing.close()
        }
        // sidecar before the moves (the append ordering): widening-only,
        // so a crash mid-window reads null-filled wide rather than
        // silently hiding the landed files' new columns
        recordSchema(table, df)
        staged.zipWithIndex.foreach { case (p, i) =>
          Files.move(p, tRoot.resolve(stRoot.relativize(p.getParent))
            .resolve(s"$prefix$i.parquet"))
        }
      }
    } finally rm(new java.io.File(staging))
  }

  /** Replace table contents with `df`, where `df` may derive from the current
    * table contents: the new contents are staged to a side directory first
    * (reading the old files), then swapped in with two renames. */
  def replace(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    // the WHOLE read-stage-swap holds the lock (unlike appendBatch's
    // stage-outside split): `df` may read the table being replaced, so a
    // concurrent append landing mid-staging would be silently discarded by
    // the swap — replace is a read-modify-write and must be atomic
    withTableLock(table) {
      if (!exists(table)) overwrite(table, df, partitionBy)
      else {
        val staging = freshStaging(table)
        val w = df.write.mode(SaveMode.Overwrite)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(staging)
        swapDir(staging, path(table))
        setMeta(table, "rewritten", "true") // file streams over this dir re-read
        recordSchema(table, df)
      }
    }

  /** Upsert = anti-join rewrite (the parquet stand-in for Delta MERGE
    * `whenNotMatchedInsertAll` / full upsert — SURVEY §2.2 quarantine row).
    * When the table's on-disk partition columns are all merge keys, only the
    * partitions containing updated keys are rewritten — untouched partition
    * files are left byte-identical (the Delta MERGE file-skipping analogue). */
  def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit =
    // read-modify-write: the existence check, the kept-rows read, and the
    // rewrite must see one consistent table state (locks are reentrant —
    // the nested overwrite/replace/replacePartitions re-acquire safely)
    withTableLock(table) { readIfExists(table) match {
      case None => overwrite(table, updates)
      case Some(existing) =>
        val partCols = partitionColumnsOf(table)
        if (partCols.nonEmpty && partCols.forall(keys.contains)) {
          // every row of an affected key lives in an affected partition, so
          // the merge closes over exactly the partitions the updates touch
          val affected = affectedValues(updates, partCols)
          val kept = existing.filter(TableStore.partitionPredicate(partCols, affected))
            .join(updates.select(keys.head, keys.tail: _*).distinct(), keys, "left_anti")
          replacePartitions(table, kept.unionByName(updates, allowMissingColumns = true),
            partCols, affected)
        } else {
          val kept = existing.join(updates.select(keys.head, keys.tail: _*).distinct(),
            keys, "left_anti")
          // preserve the on-disk partition layout (the compact precedent):
          // a bare replace would rewrite a dt-partitioned table flat,
          // silently losing partition pruning for every future read/merge
          replace(table, kept.unionByName(updates, allowMissingColumns = true), partCols)
        }
    } }

  /** Insert rows whose keys are absent (Delta `whenNotMatchedInsertAll`).
    * Append-only: the job reads the old file listing while new part-files
    * land beside it — no staging or lineage break needed. */
  def insertIfAbsent(table: String, updates: DataFrame, keys: Seq[String]): Unit =
    // read-modify-write: the absent-key anti-join must see the same state
    // the append lands into
    withTableLock(table) {
      readIfExists(table) match {
        case None => overwrite(table, updates)
        case Some(existing) =>
          val fresh = updates.join(existing.select(keys.head, keys.tail: _*).distinct(), keys, "left_anti")
          // honor the table's partition layout — an unpartitioned append
          // into a col=value directory tree lands part-files at the ROOT,
          // and the next read fails on conflicting directory structures
          append(table, fresh, partitionColumnsOf(table))
      }
    }

  /** Overwrite ONLY the partitions whose values appear in `affected`.
    * `rows` must be the complete new contents of those partitions (it may
    * contain nothing for a partition whose rows were all deleted — that
    * partition directory is dropped). Untouched partitions are never read,
    * rewritten, or moved: at 100 TB a CDC batch touching 50 of 50k partitions
    * moves 50 directories. */
  def replacePartitions(table: String, rows: DataFrame, partitionBy: Seq[String],
      affected: Seq[Row]): Unit = withTableLock(table) {
    val staging = freshStaging(table)
    rows.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(staging)

    val targetRoot = Paths.get(path(table))
    // 1. move affected partition dirs ASIDE to a trash sibling (the
    //    swapDir protocol, not an immediate rm: a failure before step 2
    //    completes RESTORES them — an rm here permanently lost the
    //    partition's kept rows to any exception in between, and a merge
    //    replay then recomputed against a table missing those rows).
    //    Match by unescaped dir values against the affected value tuples;
    //    values canonicalize through Spark's CAST-to-string (JVM toString
    //    diverges for timestamps: java.sql.Timestamp appends ".0").
    //    A hard kill between the first aside-move and the last staged
    //    move still loses the window (no journal) — same residual as
    //    swapDir, but streaming callers replay and the batch window is
    //    now exception-safe instead of exception-lossy.
    val affectedStrs: Set[Seq[Option[String]]] = stringForms(affected, partitionBy)
    val stagingRootPath = Paths.get(staging)
    val trash = Paths.get(staging + "-old")
    val movedAside = scala.collection.mutable.ListBuffer.empty[(Path, Path)]
    partitionDirs(targetRoot, partitionBy.size).foreach { case (values, dir) =>
      if (affectedStrs.contains(values)) {
        val t = trash.resolve(targetRoot.relativize(dir))
        Files.createDirectories(t.getParent)
        Files.move(dir, t)
        movedAside += ((dir, t))
      }
    }
    // 2. move staged partition dirs into place; restore the aside set on
    //    failure (staged dirs already moved stay — they carry the same
    //    logical content the restore would shadow, and the restore only
    //    re-fills dirs the target no longer has)
    try partitionDirs(stagingRootPath, partitionBy.size).foreach { case (_, dir) =>
      val dest = targetRoot.resolve(stagingRootPath.relativize(dir))
      if (Files.exists(dest)) rm(dest.toFile)
      Files.createDirectories(dest.getParent)
      Files.move(dir, dest): Unit
    } catch { case e: Throwable =>
      movedAside.foreach { case (orig, t) =>
        if (!Files.exists(orig) && Files.exists(t)) Files.move(t, orig): Unit
      }
      throw e
    }
    rm(trash.toFile)
    rm(stagingRootPath.toFile)
    setMeta(table, "rewritten", "true") // file streams over this dir re-read
    recordSchema(table, rows)
  }

  /** On-disk Hive-style partition columns of a table (outermost first),
    * detected from the directory layout. */
  def partitionColumnsOf(table: String): Seq[String] = {
    def walk(dir: java.io.File): List[String] =
      Option(dir.listFiles()).getOrElse(Array.empty)
        .find(f => f.isDirectory && f.getName.contains('=')) match {
        case Some(d) => d.getName.takeWhile(_ != '=') :: walk(d)
        case None => Nil
      }
    walk(new java.io.File(path(table)))
  }

  /** Distinct partition-value tuples present in `df` — driver-side, bounded
    * by the number of affected partitions (metadata-scale, like a Delta
    * commit's file list). */
  def affectedValues(df: DataFrame, partitionBy: Seq[String]): Seq[Row] =
    df.select(partitionBy.map(col): _*).distinct().collect().toSeq

  def drop(table: String): Unit = withTableLock(table) {
    val f = new java.io.File(path(table))
    if (f.exists()) rm(f)
    // every sidecar is a sibling file named "<dir>._<key>" — remove them all
    // (properties, commit record, snapshot version, once markers, ...)
    // EXCEPT the writer lock: we are holding it, and deleting it would
    // detach any concurrently-spinning process onto a fresh inode, letting
    // two holders coexist — the lock file outlives its table by design
    Option(f.getParentFile).foreach { parent =>
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(s => s.isFile && s.getName.startsWith(f.getName + "._") &&
          s.getName != f.getName + "._writer_lock")
        .foreach(_.delete())
    }
  }

  /** Compact a table's data files toward `targetBytesPerFile`: many small
    * part-files (the residue of frequent appends/microbatches) rewrite into
    * few large ones via the staging/swap path. Run as maintenance, like
    * Delta OPTIMIZE; optional `sortBy` re-clusters while compacting. */
  def compact(table: String, targetBytesPerFile: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil, strategy: String = "range"): Unit =
      withTableLock(table) {
    val dir = new java.io.File(path(table))
    if (!dir.exists()) return
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) f.length()
      else 0L
    val parts = math.max(1, math.ceil(walk(dir).toDouble / targetBytesPerFile).toInt)
    val df0 = read(table)
    val df =
      if (sortBy.nonEmpty && strategy == "zorder") // OPTIMIZE ZORDER analogue
        graft.operators.ZOrder.cluster(df0, sortBy, numPartitions = Some(parts))
      else if (sortBy.nonEmpty)
        df0.repartitionByRange(parts, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df0.repartition(parts)
    val partCols = partitionColumnsOf(table)
    replace(table, df, partCols)
  }

  /** Small per-table metadata values kept in sidecar files (e.g. the last
    * processed snapshot version for snapshot-polling CDC). */
  def getMeta(table: String, key: String): Option[String] = {
    val p = Paths.get(path(table) + s"._$key")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def setMeta(table: String, key: String, value: String): Unit =
    TableStore.atomicWrite(Paths.get(path(table) + s"._$key"), value)

  /** A change log's commit record, `<log>._commits`: the one file that
    * says which versions of `<log>` are committed (Delta keeps the same in
    * `_delta_log`, one entry per version). Lines are tab-separated and
    * newline-terminated, of two kinds:
    *   - `intent <v>`: appended by [[beginCommit]] BEFORE version v's rows;
    *   - `commit <v> <epochMs> <kind> <replay> <txn>`: appended by
    *     [[recordCommit]] after them. This line is the commit point.
    * Only commit lines count. A last complete line that is an intent marks
    * an interrupted commit; a torn last line (a crash mid-append leaves no
    * newline) is ignored, and the next [[beginCommit]] cuts it off. */
  private def commitRecord(log: String): Path = Paths.get(path(log) + "._commits")

  /** Append the intent line for `log`'s next version and return
    * (version, interrupted). The version comes from the record's last
    * complete line alone (a tail read: the cost does not grow with the
    * number of commits); `interrupted` = that line was an intent, so a
    * commit of this version started, never recorded, and its rows may
    * already be in the log. */
  def beginCommit(log: String): (Long, Boolean) = withTableLock(log) {
    val p = commitRecord(log)
    val begun = TableStore.lastCompleteLine(p) match {
      case None if exists(log) => TableStore.noRecord(log, "the record file is missing")
      case None => (0L, false)
      case Some(line) => TableStore.parseRecordLine(log, line) match {
        case Left(v) => (v, true)
        case Right(c) => (c.version + 1, false)
      }
    }
    TableStore.appendLine(p, s"intent\t${begun._1}")
    begun
  }

  /** Append `c`'s commit line: the commit point of version `c.version`. */
  def recordCommit(log: String, c: TableStore.Commit): Unit = withTableLock(log) {
    val txn = c.txn.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse("")
    TableStore.appendLine(commitRecord(log),
      Seq("commit", c.version, c.epochMillis, c.kind, c.replay, txn).mkString("\t"))
  }

  /** `log`'s committed versions in order. Empty when neither the log nor
    * its record exists. Loud when the log exists without a record, or when
    * the recorded versions do not run 0, 1, 2, ... with no gap. */
  def commits(log: String): Seq[TableStore.Commit] = {
    val p = commitRecord(log)
    if (!Files.exists(p)) {
      if (exists(log)) TableStore.noRecord(log, "the record file is missing")
      Nil
    } else {
      val text = Files.readString(p)
      val cs = text.take(text.lastIndexOf('\n') + 1).linesIterator
        .flatMap(TableStore.parseRecordLine(log, _).toOption).toSeq
      cs.zipWithIndex.find { case (c, i) => c.version != i }.foreach { case (c, i) =>
        TableStore.noRecord(log, s"version $i is not recorded, ${c.version} is")
      }
      cs
    }
  }

  // ------------------------------------------------------------ internals

  private def rm(p: java.io.File): Unit = Fs.deleteRecursively(p)

  private def freshStaging(table: String): String = {
    val dir = s"$warehouse/.staging/${nameMap(table).replace('.', '/')}-${System.nanoTime()}"
    Files.createDirectories(Paths.get(dir).getParent)
    dir
  }

  /** Swap `staging` into place at `target` with two renames; the old contents
    * are restored if the second rename fails. */
  private def swapDir(staging: String, target: String): Unit = {
    val trash = staging + ".old"
    Files.move(Paths.get(target), Paths.get(trash))
    try Files.move(Paths.get(staging), Paths.get(target))
    catch { case e: Throwable =>
      Files.move(Paths.get(trash), Paths.get(target))
      throw e
    }
    rm(new java.io.File(trash))
  }

  /** Partition-value tuples rendered the way Spark renders them into
    * directory names: through CAST to string on a local frame. */
  private def stringForms(affected: Seq[Row], partitionBy: Seq[String]): Set[Seq[Option[String]]] =
    if (affected.isEmpty) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(affected.asJava, affected.head.schema)
      df.select(partitionBy.map(c => col(c).cast("string")): _*).collect()
        // Spark writes the EMPTY STRING to the same
        // __HIVE_DEFAULT_PARTITION__ directory as null (and reads both
        // back as null) — fold "" to None here or an empty-string
        // affected value never matches its own directory
        .map(r => partitionBy.indices
          .map(i => Option(r.getString(i)).filter(_.nonEmpty)).toSeq).toSet
    }

  /** Leaf partition directories exactly `depth` levels below `root`, with
    * their unescaped partition values (None = the Hive null partition). */
  private def partitionDirs(root: Path, depth: Int): Seq[(Seq[Option[String]], Path)] =
    if (!Files.exists(root)) Nil
    else if (depth == 0) Seq((Nil, root))
    else Option(root.toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.contains('='))
      .flatMap { d =>
        val raw = d.getName.dropWhile(_ != '=').drop(1)
        val value =
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
          else Some(ExternalCatalogUtils.unescapePathName(raw))
        partitionDirs(d.toPath, depth - 1).map { case (vs, leaf) => (value +: vs, leaf) }
      }

  /** Distinct on-disk partition-value tuples of `table` (unescaped,
    * outermost first; None = the Hive null partition) — a metadata-scale
    * directory walk. Lets a maintenance re-bootstrap enumerate EVERY
    * previously-written partition, including ones outside the new plan's
    * value range, so replacePartitions can drop rather than strand them. */
  def partitionValues(table: String, partitionBy: Seq[String]): Seq[Seq[Option[String]]] =
    partitionDirs(Paths.get(path(table)), partitionBy.size).map(_._1)

  /** Persist table properties as a JSON sidecar (the TBLPROPERTIES stand-in
    * for a catalog-less parquet warehouse). */
  def setProperties(table: String, props: Map[String, String]): Unit =
    TableStore.writeJsonSidecar(Paths.get(path(table) + "._properties.json"), props)

  def properties(table: String): Map[String, String] =
    TableStore.readJsonSidecar(Paths.get(path(table) + "._properties.json"))

  /** Governance tags sidecar (reference WriteTarget.tags / tags_file — UC
    * tagging): same JSON-map format as table properties, separate file so
    * tags and properties stay independently writable. */
  def setTags(table: String, tags: Map[String, String]): Unit =
    TableStore.writeJsonSidecar(Paths.get(path(table) + "._tags.json"), tags)

  def tags(table: String): Map[String, String] =
    TableStore.readJsonSidecar(Paths.get(path(table) + "._tags.json"))

  def registerAll(): Unit = {
    // resolve TABLE directories via the same nested-qualifier walk
    // listTables uses — a top-level-only listing would read a schema
    // directory ('analytics/' holding 'analytics/events') as if it were
    // itself a parquet table and fail on schema inference, never
    // registering the real table
    // leaf-name temp views (temp views reject dots) are the short-name
    // resolution contract the scheduler's leaf matching relies on — but an
    // AMBIGUOUS leaf (dev.events and prod.events both present) must not
    // last-wins shadow: mirror DependencyAnalyzer.byLeaf's distinct-size==1
    // rule and refuse to register either, loudly, so a bare-leaf consumer
    // fails with "view not found" instead of silently reading the wrong one
    val byLeaf = TableStore.listTables(warehouse).groupBy(_.split('.').last)
    byLeaf.foreach {
      case (leaf, qs) if qs.size > 1 =>
        // also DROP any pre-existing view of this leaf (an earlier
        // registerAll or write-time registration) — leaving it would turn
        // the promised "view not found" into a silent read of whichever
        // table registered it first
        spark.catalog.dropTempView(leaf)
        graft.Log.warn(s"registerAll: leaf name '$leaf' is ambiguous across " +
          s"${qs.sorted.mkString(", ")} — registering NONE of them as a " +
          "short-name view; consume by qualified name instead")
      case (leaf, Seq(qualified)) =>
        val physical = s"$warehouse/${qualified.replace('.', '/')}"
        // the directory name is a PHYSICAL name — routing it through
        // read()/path() would apply the sandbox nameMap a second time, so
        // the sidecar is resolved against the physical path directly (a
        // widened table's view must still carry the added columns; footer
        // sampling may pick a narrow file)
        val sidecar = Paths.get(physical + "._schema")
        val df =
          if (Files.exists(sidecar))
            spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
              Files.readString(sidecar).trim)).parquet(physical)
          else spark.read.parquet(physical)
        df.createOrReplaceTempView(leaf)
      case _ => ()
    }
  }
}

object TableStore {

  /** Cross-process writer commit lock: one OS advisory file lock
    * (`FileChannel.tryLock`) per table, held for each mutation's critical
    * section. Properties the single-JVM monitor cannot provide:
    *
    *  - TWO PROCESSES against one warehouse serialize their staging/swap
    *    sections instead of interleaving them (an interleaved `swapDir`
    *    could restore a trash dir over the other writer's committed state);
    *  - a CRASHED holder releases automatically — the kernel drops advisory
    *    locks with the process, so there is no stale-marker sweep and no
    *    heartbeat protocol;
    *  - a holder that will not yield within the deadline is a LOUD error
    *    carrying the holder's identity (pid@host, written into the lock
    *    file under the lock itself) — one runtime per pipeline is the
    *    reference's deployment contract, so sustained contention means two
    *    pipelines own one table and must be reconfigured, not queued.
    *
    * The registry is JVM-GLOBAL (companion, keyed by canonical lock path):
    * `FileLock` is per-JVM, so two TableStore INSTANCES in one JVM
    * coordinate here — the owner field makes the lock exclusive between
    * them and reentrant within one instance. Within-instance thread
    * exclusion is already guaranteed by the instance's per-table monitor,
    * which is always taken first. */
  private[graft] object ProcessLock {
    private final class Entry {
      var owner: AnyRef = null
      var holds = 0
      var channel: java.nio.channels.FileChannel = null
      var lock: java.nio.channels.FileLock = null
    }
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[String, Entry]()

    private def entryFor(lockPath: Path): (String, Entry) = {
      val key = lockPath.toAbsolutePath.normalize.toString
      (key, entries.computeIfAbsent(key, _ => new Entry))
    }

    /** Non-blocking "is this lock held RIGHT NOW by anyone" probe: the
      * in-JVM registry first (holds > 0), then an OS tryLock round-trip
      * (released immediately when we win it — a concurrent acquirer's
      * poll loop absorbs the momentary contention). A missing lock file
      * means no writer ever touched the table — not held. */
    def probeHeld(lockPath: Path): Boolean = {
      val key = lockPath.toAbsolutePath.normalize.toString
      val e = entries.get(key)
      if (e != null && e.synchronized(e.holds > 0)) return true
      if (!Files.exists(lockPath)) return false
      // TOCTOU: the file can vanish between the exists check and the open
      // (a janitor or table drop) — a nonexistent lock is held by no one,
      // same answer the exists check would have given a moment later
      val ch =
        try java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.READ)
        catch {
          case _: java.nio.file.NoSuchFileException => return false
          case _: java.io.FileNotFoundException => return false
        }
      try {
        val fl =
          try ch.tryLock()
          catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (fl == null) true else { fl.release(); false }
      } finally ch.close()
    }

    def acquire(lockPath: Path, owner: AnyRef, table: String, waitMs: Long): Unit = {
      val (_, e) = entryFor(lockPath)
      val deadline = System.nanoTime() + waitMs * 1000000L
      e.synchronized {
        while (true) {
          if (e.holds > 0 && (e.owner eq owner)) { e.holds += 1; return }
          if (e.holds == 0) {
            Files.createDirectories(lockPath.getParent)
            val ch = java.nio.channels.FileChannel.open(lockPath,
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.WRITE,
              java.nio.file.StandardOpenOption.READ)
            val fl =
              try ch.tryLock()
              catch {
                // held elsewhere in THIS JVM outside the registry (a raw
                // channel, e.g. a test forging a foreign holder) — same
                // contended path as another process holding it
                case _: java.nio.channels.OverlappingFileLockException => null
                case t: Throwable => ch.close(); throw t
              }
            // a null tryLock (held by another process) must close THIS
            // channel too — the poll loop reopens every ~100 ms, and a
            // leaked fd per iteration exhausts the ulimit under sustained
            // contention
            if (fl == null) ch.close()
            else {
              // under the lock: stamp holder identity for the refusal message
              val info = s"${ProcessHandle.current.pid}@" +
                s"${java.net.InetAddress.getLocalHost.getHostName} " +
                s"since=${java.time.Instant.now}"
              // no force(): the stamp is advisory (error-message detail for
              // a contender); the LOCK is kernel-state, not file content —
              // an fsync per mutation would tax every commit for nothing.
              // A stamp FAILURE is likewise advisory: it must not leak the
              // acquired OS lock (which would brick the table for every
              // writer in all processes until this JVM exits), so it is
              // swallowed — a contender just sees "unknown" as the holder
              try {
                ch.truncate(0)
                ch.write(java.nio.ByteBuffer.wrap(info.getBytes("UTF-8")))
              } catch { case _: java.io.IOException => () }
              e.owner = owner; e.holds = 1; e.channel = ch; e.lock = fl
              return
            }
          }
          val remainingMs = (deadline - System.nanoTime()) / 1000000L
          if (remainingMs <= 0) {
            val holder =
              try Files.readString(lockPath).trim
              catch { case _: Throwable => "unknown" }
            val self = s"${ProcessHandle.current.pid}@" +
              s"${java.net.InetAddress.getLocalHost.getHostName}"
            throw new IllegalStateException(
              s"'$table' is locked by another writer [$holder] and did " +
                s"not yield within ${waitMs} ms (this writer: $self). " +
                "Mutations serialize one writing runtime per resource — two " +
                "pipelines/processes writing one table/index/directory is a " +
                "deployment misconfiguration (reference posture: one runtime " +
                "per pipeline). Stop the other writer, or raise " +
                "spark.graft.store.lockWaitMs if the overlap is transient.")
          }
          // in-JVM holders notify on release; cross-process holders cannot —
          // bounded wait doubles as the poll interval for the retry loop
          e.wait(math.min(100L, remainingMs))
        }
      }
    }

    def release(lockPath: Path, owner: AnyRef): Unit = {
      val (key, e) = entryFor(lockPath)
      e.synchronized {
        require(e.holds > 0 && (e.owner eq owner),
          s"release of '$key' by a non-holder — lock discipline bug")
        e.holds -= 1
        if (e.holds == 0) {
          try e.lock.release() finally e.channel.close()
          e.owner = null; e.lock = null; e.channel = null
          e.notifyAll()
        }
      }
    }
  }

  /** One committed change-log version (see [[TableStore!.commits]]):
    * `kind` is `append`, `delete` or `rewrite`; `replay` is the runner's
    * replay spec; `txn` is the `flowId#batchId` that produced it, if any. */
  final case class Commit(version: Long, epochMillis: Long, kind: String,
      replay: String, txn: Option[String] = None)

  private def noRecord(log: String, why: String): Nothing =
    throw graft.plan.Planner.PlanError(s"'$log': log without a commit record " +
      s"($why): full-refresh the producing write")

  /** Left(v) for an intent line, Right for a commit line; loud otherwise. */
  private def parseRecordLine(log: String, line: String): Either[Long, Commit] = {
    object Num { def unapply(s: String): Option[Long] = s.toLongOption }
    line.split("\t", -1) match {
      case Array("intent", Num(v)) => Left(v)
      case Array("commit", Num(v), Num(ms), kind, replay, txn) => Right(Commit(v, ms,
        kind, replay, Some(txn).filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8"))))
      case _ => noRecord(log, s"unreadable line '$line'")
    }
  }

  private def appendLine(p: Path, line: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, line + "\n", java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND): Unit
  }

  /** The last newline-terminated line of `p` (None when it has none),
    * read from a 16 KB tail window (the whole file only when one line is
    * longer). Bytes after the last newline are a torn append; they are cut
    * off so the next append starts a line of its own. Callers hold the
    * table's writer lock. */
  private def lastCompleteLine(p: Path): Option[String] =
    if (!Files.exists(p)) None
    else {
      val f = new java.io.RandomAccessFile(p.toFile, "rw")
      try {
        def bytesFrom(from: Long): Array[Byte] = {
          val b = new Array[Byte]((f.length() - from).toInt)
          f.seek(from); f.readFully(b); b
        }
        var from = math.max(0L, f.length() - 16384)
        var b = bytesFrom(from)
        if (from > 0 && b.count(_ == '\n') < 2) { from = 0L; b = bytesFrom(0L) }
        val end = b.lastIndexOf('\n'.toByte)
        if (from + end + 1 < f.length()) f.setLength(from + end + 1) // torn tail
        if (end < 0) None
        else {
          val start = b.lastIndexOf('\n'.toByte, end - 1) + 1
          Some(new String(b, start, end - start, "UTF-8"))
        }
      } finally f.close()
    }

  private[exec] def readJsonSidecar(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new org.yaml.snakeyaml.Yaml().load[Any](Files.readString(p)) match {
        case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
        case _ => Map.empty
      }
    }

  /** Write-temp-then-rename sidecar writes: a crash mid-write must never
    * leave a TORN sidecar (a truncated ._schema bricks every read with a
    * DDL parse error; a half-written ._snapshot_version misdirects the
    * next snapshot poll), and a concurrent read-only process must never
    * observe partial content. Same-directory ATOMIC_MOVE is a rename. The
    * tmp name keeps the `<table>._` prefix so [[listTables]]' sidecar
    * exclusion and [[TableStore!.drop]]'s cleanup both already cover it. */
  private[exec] def atomicWrite(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + s".tmp-${System.nanoTime()}")
    Files.writeString(tmp, content)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** One escaper for every hand-rolled flat JSON map in the engine
    * (sidecars here, event-log `details` in [[EventLog]]) — two drifting
    * copies means the next missed-character fix reaches only one. */
  private[exec] def jsonEscape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Flat string-map → JSON object text (ordered as given). */
  private[exec] def jsonObject(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + jsonEscape(k) + "\": \"" + jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")

  /** Single JSON-map sidecar writer (properties + tags share it). Values
    * come verbatim from user YAML — escape backslash, quote, and control
    * characters, or a tag like `C:\data` corrupts the sidecar. */
  private[exec] def writeJsonSidecar(p: Path, kv: Map[String, String]): Unit =
    if (kv.nonEmpty) {
      Files.createDirectories(p.getParent)
      Files.writeString(p, jsonObject(kv.toSeq)): Unit
    }

  /** Warehouse inspection WITHOUT a SparkSession — pure sidecar/directory
    * reads, for the `ShowProject <warehouse> tables` CLI. A table is any
    * directory containing at least one regular data file; nested dirs
    * (catalog/schema qualifiers, partition dirs) walk through. Partition
    * directories (`col=value`) are excluded — their parent is the table. */
  // sidecar files are SIBLINGS of their table directory, named
  // `<table>._<key>` — inside a schema directory they must not read as
  // data, or every qualified table's parent masquerades as a table
  private def isDataFile(f: java.io.File): Boolean =
    f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_") &&
      !f.getName.contains("._")

  /** Whether `dir` IS a table right now, by [[listTables]]'s own predicate
    * (data files or partition subdirectories at its root) — a bare
    * Files.exists is WEAKER: a dropped table whose directory re-exists
    * empty (or as the parent of a nested table) is not a table, and
    * treating it as one produces permanent spurious leaf ambiguity. */
  def isTableDir(dir: String): Boolean = {
    val entries = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    entries.exists(isDataFile) ||
      entries.exists(d => d.isDirectory && d.getName.contains("="))
  }

  def listTables(warehouse: String): Seq[String] = {
    def walk(dir: java.io.File, prefix: Seq[String]): Seq[String] = {
      val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      val hasData = entries.exists(isDataFile)
      // a partitioned table holds only col=value subdirectories at its root
      val hasPartitions = entries.exists(d => d.isDirectory && d.getName.contains("="))
      if (hasData || hasPartitions) Seq(prefix.mkString("."))
      else entries.filter(d => d.isDirectory && !d.getName.startsWith(".") &&
          !d.getName.startsWith("_") && !d.getName.contains("=")).toSeq
        .flatMap(d => walk(d, prefix :+ d.getName))
    }
    val root = new java.io.File(warehouse)
    Option(root.listFiles()).getOrElse(Array.empty)
      // `_sinks` (and any other engine-managed `_` dir) is not a table
      .filter(d => d.isDirectory && !d.getName.startsWith(".") && !d.getName.startsWith("_"))
      .flatMap(d => walk(d, Seq(d.getName))).toSeq.sorted
  }

  /** Sidecar metadata of a table by warehouse path (no session): comment,
    * properties, tags. */
  def describeTable(warehouse: String, table: String): (Option[String], Map[String, String], Map[String, String]) = {
    val base = s"$warehouse/${table.replace('.', '/')}"
    val comment = {
      val p = Paths.get(base + "._comment")
      if (Files.exists(p)) Some(Files.readString(p).trim) else None
    }
    (comment,
      readJsonSidecar(Paths.get(base + "._properties.json")),
      readJsonSidecar(Paths.get(base + "._tags.json")))
  }

  /** Filter matching exactly the partitions whose values appear in
    * `affected` (literal OR-of-ANDs — prunes statically at the parquet
    * scan, unlike a semi-join which needs runtime DPP). */
  def partitionPredicate(partitionBy: Seq[String], affected: Seq[Row]): Column =
    affected.map { r =>
      partitionBy.zipWithIndex.map { case (c, i) =>
        Option(r.get(i)) match {
          case None => col(c).isNull
          // the storage layer folds "" into the null partition (Hive
          // default dir) — rows of that partition read back as null, so
          // an equality against "" alone would miss every one of them
          case Some("") => col(c).isNull || col(c) === lit("")
          case Some(v) => col(c) === lit(v)
        }
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
}
