package graft.exec

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.config.YamlConfig

/** Crash-forge for the two windows of a change-logged CDC commit, each
  * killed in a child JVM (`forge:<point>`) and resumed in-process:
  *
  *   - `changelog_rows`: the batch's rows are in `__changes` but its commit
  *     line is not in the record. The record ends in the commit's intent
  *     line, so the next run refuses ("interrupted") instead of appending
  *     the batch a second time, and `--full-refresh` rebuilds the log.
  *   - `changelog_tombstones`: the commit is recorded and the live table
  *     merged, but `__tombstones` is not yet refreshed. The batch replays;
  *     its txn is already recorded, so logChanges skips it and mergeInto
  *     gets no [[PipelineRunner]] change commit, which is why the
  *     checkpoint tombstone path must stay for change-logged tables. The
  *     table, `__tombstones` and `__changes` must equal a run that never
  *     crashed. */
class ChangeLogKillSpec extends SparkSuite {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-clkill").toString

  private def yamlFor(landing: String): String =
    s"""pipeline: clkill
       |flowgroup: fg
       |actions:
       |  - name: l
       |    type: load
       |    source:
       |      type: cloudfiles
       |      path: $landing
       |      format: parquet
       |      readMode: stream
       |      table_schema: "id BIGINT, seq BIGINT, v STRING, op STRING"
       |    target: raw
       |  - name: w
       |    type: write
       |    source: raw
       |    write_target: {type: streaming_table, table: dim, change_log: true}
       |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1,
       |                 apply_as_deletes: "op = 'D'"}
       |""".stripMargin

  private val gen1 = (1L to 20L).map(i => (i, 1L, s"v$i", "U"))
  // updates to 6..10, deletes of 1..5 (standing tombstones: SCD1 keeps no
  // row for a deleted key), one new key
  private val gen2 = (6L to 10L).map(i => (i, 2L, s"w$i", "U")) ++
    (1L to 5L).map(i => (i, 2L, s"v$i", "D")) :+ ((21L, 2L, "v21", "U"))

  private def writeGen(wh: String, rows: Seq[(Long, Long, String, String)]): Unit =
    rows.toDF("id", "seq", "v", "op").repartition(1)
      .write.mode("append").parquet(s"$wh/landing")

  private def runInProcess(wh: String, fullRefresh: Set[String] = Set.empty): Unit = {
    val store = new TableStore(spark, s"$wh/wh")
    val orch = new PipelineOrchestrator(spark, store, s"$wh/cp", fullRefresh = fullRefresh)
    val outcomes = orch.run(Seq(YamlConfig.parseFlowGroup(yamlFor(s"$wh/landing"))))
    outcomes.find(_.error.isDefined).foreach(o => throw o.error.get)
  }

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val cols = want.columns.sorted.toSeq
    val (g, w) = (got.select(cols.map(got.col): _*), want.select(cols.map(want.col): _*))
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      s"$what diverged from the never-crashed run")
  }

  private lazy val expected: TableStore = {
    val wh = s"$root/expected"
    writeGen(wh, gen1)
    runInProcess(wh)
    writeGen(wh, gen2)
    runInProcess(wh)
    new TableStore(spark, s"$wh/wh")
  }

  /** One warehouse per kill point: gen 1 in-process, then gen 2 in a child
    * JVM halted at the point. The two children run concurrently, and the
    * never-crashed baseline runs in-process while they boot. */
  private lazy val crashed: Map[String, TableStore] = {
    val children = Seq("changelog_rows", "changelog_tombstones").map { point =>
      val wh = s"$root/$point"
      writeGen(wh, gen1)
      runInProcess(wh)
      writeGen(wh, gen2)
      val yamlDir = s"$wh/yaml"
      Files.createDirectories(Paths.get(yamlDir))
      Files.writeString(Paths.get(s"$yamlDir/fg.yaml"), yamlFor(s"$wh/landing")): Unit
      point -> graft.tools.ChildJvm.spawnAsync("graft.tools.CrawlResumeChild",
        Seq(s"$wh/wh", s"$wh/cp", yamlDir, s"forge:$point"))
    }
    try {
      expected: Unit
      children.map { case (point, child) =>
        val (code, out) = child.await()
        assert(code == 137 && out.contains(s"HALTING at $point"),
          s"child was supposed to hard-halt (137) at $point, got $code; " +
            s"output tail: ${out.takeRight(800)}")
        point -> new TableStore(spark, s"$root/$point/wh")
      }.toMap
    } finally children.foreach(_._2.destroy()) // no-op once a child exited
  }

  test("kill between change-log rows and commit line: next run refuses, full refresh heals") {
    val store = crashed("changelog_rows")
    // the window is real: version 1's rows landed, its commit did not
    assert(store.commits("dim__changes").map(_.version) == Seq(0L))
    assert(!store.read("dim__changes").filter("_commit_version = 1").isEmpty,
      "kill point fired before the change-log append — window not forged")

    val e = intercept[Throwable](runInProcess(s"$root/changelog_rows"))
    assert(e.getMessage.contains("interrupted"), e.getMessage)

    runInProcess(s"$root/changelog_rows", fullRefresh = Set("*"))
    sameRows(store.read("dim"), expected.read("dim"), "dim after full refresh")
    assert(store.commits("dim__changes").nonEmpty)
  }

  test("kill between live merge and tombstone refresh: replay converges table, tombstones and log") {
    val store = crashed("changelog_tombstones")
    // the window is real: commit 1 recorded and merged, tombstones not yet
    assert(store.commits("dim__changes").map(_.version) == Seq(0L, 1L))
    assert(store.read("dim").filter("id <= 5").isEmpty,
      "kill point fired before the live merge — window not forged")
    assert(!store.exists("dim__tombstones"),
      "kill point fired after the tombstone refresh — window not forged")

    runInProcess(s"$root/changelog_tombstones")
    assert(store.commits("dim__changes").map(_.version) == Seq(0L, 1L),
      "the replayed batch was logged a second time")
    sameRows(store.read("dim"), expected.read("dim"), "dim")
    sameRows(store.read("dim__tombstones"), expected.read("dim__tombstones"),
      "dim__tombstones")
    sameRows(store.read("dim__changes"), expected.read("dim__changes"), "dim__changes")
    assert(expected.read("dim__tombstones").select("id").as[Long].collect().toSet ==
      (1L to 5L).toSet)
  }
}
