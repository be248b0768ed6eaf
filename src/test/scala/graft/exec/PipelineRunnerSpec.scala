package graft.exec

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.config.YamlConfig
import graft.model._
import graft.operators.Expectations
import graft.sources.Tables

class PipelineRunnerSpec extends SparkSuite {
  import spark.implicits._

  private def freshRunner(): (PipelineRunner, TableStore, String) = {
    val dir = Files.createTempDirectory("graft-wh").toString
    val store = new TableStore(spark, s"$dir/warehouse")
    (new PipelineRunner(spark, store, s"$dir/checkpoints"), store, dir)
  }

  test("minimum slice: sql load -> materialized_view write (SURVEY §7.2)") {
    val (runner, store, _) = freshRunner()
    Tables.registerAll(spark, sf0001)
    val yaml =
      """pipeline: gold
        |flowgroup: revenue
        |actions:
        |  - name: load_revenue
        |    type: load
        |    source:
        |      type: sql
        |      sql: |
        |        SELECT r_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |        FROM lineitem
        |        JOIN orders ON l_orderkey = o_orderkey
        |        JOIN customer ON o_custkey = c_custkey
        |        JOIN nation ON c_nationkey = n_nationkey
        |        JOIN region ON n_regionkey = r_regionkey
        |        GROUP BY r_name
        |    target: v_revenue
        |  - name: write_revenue
        |    type: write
        |    source: v_revenue
        |    write_target:
        |      type: materialized_view
        |      table: revenue_by_region
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val out = store.read("revenue_by_region")
    assert(out.count() == 5) // five regions
    assert(out.columns.toSet == Set("r_name", "revenue"))
  }

  test("token/variable substitution resolves through YAML") {
    val yaml =
      """pipeline: p_{env}
        |flowgroup: fg
        |variables:
        |  tbl: mytable
        |actions:
        |  - name: a1
        |    type: load
        |    source: {type: sql, sql: "SELECT 1 AS x"}
        |    target: "%{tbl}_v"
        |  - name: w1
        |    type: write
        |    source: "%{tbl}_v"
        |    write_target: {type: materialized_view, table: "{env}_out"}
        |""".stripMargin
    val fg = YamlConfig.resolveAndParse(yaml, Map.empty, Map("env" -> "dev"))
    assert(fg.pipeline == "p_dev")
    assert(fg.actions.head.target.contains("mytable_v"))
    assert(fg.actions(1).asInstanceOf[MaterializedViewWrite].table == "dev_out")
  }

  test("streaming cloudfiles load -> streaming_table append flow (AvailableNow)") {
    val (runner, store, dir) = freshRunner()
    // landing zone with two json files
    val landing = s"$dir/landing"
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.json(landing)
    val yaml =
      s"""pipeline: bronze
         |flowgroup: ingest
         |actions:
         |  - name: load_raw
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |    target: v_raw
         |  - name: write_raw
         |    type: write
         |    source: v_raw
         |    write_target: {type: streaming_table, table: raw_events}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("raw_events").count() == 2)
    // second run with one more file appends only the new file (checkpointed)
    Seq((3, "c")).toDF("id", "v").write.mode("append").json(landing)
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("raw_events").count() == 3)
  }

  test("incremental_join MV: per-batch stream-static join, exact distinct aggregate") {
    val (runner, store, _) = freshRunner()
    Seq((1L, "us"), (2L, "eu")).toDF("rid", "rname")
      .createOrReplaceTempView("mvj_dim")
    def factYaml =
      """pipeline: mvj
        |flowgroup: fact
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: mvj_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target: {type: streaming_table, table: mvj_fact}
        |""".stripMargin
    def mvYaml =
      """pipeline: mvj
        |flowgroup: gold
        |actions:
        |  - name: mv
        |    type: write
        |    write_target:
        |      type: materialized_view
        |      table: mvj_mv
        |      mode: incremental_join
        |      joined_sql: >
        |        SELECT f.cid, f.amount, d.rname
        |        FROM stream(mvj_fact) f JOIN mvj_dim d ON f.rid = d.rid
        |      sql: >
        |        SELECT rname, CAST(sum(amount) AS BIGINT) AS total,
        |               count(DISTINCT cid) AS users
        |        FROM mvj_mv__joined GROUP BY rname
        |""".stripMargin
    Seq((10L, 1L, 5L), (11L, 1L, 7L), (12L, 2L, 3L))
      .toDF("cid", "rid", "amount").createOrReplaceTempView("mvj_src")
    runner.run(YamlConfig.parseFlowGroup(factYaml))
    runner.run(YamlConfig.parseFlowGroup(mvYaml))
    assert(store.read("mvj_mv").as[(String, Long, Long)].collect().toSet ==
      Set(("us", 12L, 2L), ("eu", 3L, 1L)))
    // batch 2: cid 10 buys again in eu region — exact COUNT(DISTINCT) must
    // not double-count across batches (the shape streaming agg cannot do)
    Seq((10L, 2L, 4L)).toDF("cid", "rid", "amount")
      .createOrReplaceTempView("mvj_src")
    runner.run(YamlConfig.parseFlowGroup(factYaml))
    runner.run(YamlConfig.parseFlowGroup(mvYaml))
    assert(store.read("mvj_mv").as[(String, Long, Long)].collect().toSet ==
      Set(("us", 12L, 2L), ("eu", 7L, 2L)))
    // the companion accumulated each fact row exactly once — and a refresh
    // with NO new fact rows is a no-op, not a re-join of history
    assert(store.read("mvj_mv__joined").count() == 4)
    runner.run(YamlConfig.parseFlowGroup(mvYaml))
    assert(store.read("mvj_mv__joined").count() == 4)
  }

  test("incremental_join MV config contract is loud") {
    def mv(extra: String) = YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: g
         |actions:
         |  - name: mv
         |    type: write
         |    write_target:
         |      type: materialized_view
         |      table: t
         |$extra
         |""".stripMargin)
    // joined_sql outside the mode: silently ignoring it would be the
    // absorbed-config bug class
    val e1 = intercept[YamlConfig.ConfigError](mv(
      "      sql: SELECT 1 AS x\n      joined_sql: SELECT * FROM stream(f)"))
    assert(e1.getMessage.contains("incremental_join"))
    val e2 = intercept[YamlConfig.ConfigError](mv(
      "      mode: incremental_join\n      sql: SELECT 1 AS x"))
    assert(e2.getMessage.contains("joined_sql"))
    // a joined_sql with no stream() ref would silently full-re-join
    val e3 = intercept[YamlConfig.ConfigError](mv(
      "      mode: incremental_join\n      sql: SELECT 1 AS x\n" +
        "      joined_sql: SELECT * FROM f"))
    assert(e3.getMessage.contains("stream"))
    val e4 = intercept[YamlConfig.ConfigError](mv(
      "      mode: incremental_join\n      joined_sql: SELECT * FROM stream(f)"))
    assert(e4.getMessage.contains("sql"))
  }

  test("streaming CDC flow: SCD2 merge via foreachBatch") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/cdc_landing"
    Seq((1L, 1L, "alice", "NY"), (1L, 3L, "alice", "LA"), (2L, 1L, "bob", "SF"))
      .toDF("id", "seq", "name", "city").write.json(landing)
    val yaml =
      s"""pipeline: silver
         |flowgroup: dim_customer
         |actions:
         |  - name: load_changes
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, name STRING, city STRING"
         |    target: v_changes
         |  - name: write_dim
         |    type: write
         |    source: v_changes
         |    write_target: {type: streaming_table, table: dim_customer}
         |    cdc_config:
         |      keys: [id]
         |      sequence_by: seq
         |      scd_type: 2
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val out = store.read("dim_customer")
      .select("id", "city", "__start_at", "__end_at")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(out == Set(
      (1L, "NY", 1L, Some(3L)), (1L, "LA", 3L, None), (2L, "SF", 1L, None)))

    // late batch: bob moves at seq 2 (no effect on alice)
    Seq((2L, 2L, "bob", "LA")).toDF("id", "seq", "name", "city")
      .write.mode("append").json(landing)
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val out2 = store.read("dim_customer")
      .select("id", "city", "__start_at", "__end_at")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(out2 == Set(
      (1L, "NY", 1L, Some(3L)), (1L, "LA", 3L, None),
      (2L, "SF", 1L, Some(2L)), (2L, "LA", 2L, None)))
  }

  test("snapshot-cdc write diffs successive snapshots into SCD2 history") {
    val (runner, store, _) = freshRunner()
    def run(snapshot: Seq[(Long, Long, String)]): Unit = {
      snapshot.toDF("id", "version", "city").createOrReplaceTempView("snap_src")
      val yaml =
        """pipeline: silver
          |flowgroup: snap
          |actions:
          |  - name: load_snap
          |    type: load
          |    source: {type: table, table: snap_src}
          |    target: v_snap
          |  - name: write_snap
          |    type: write
          |    source: v_snap
          |    write_target: {type: streaming_table, table: snap_dim, mode: snapshot_cdc}
          |    cdc_config: {keys: [id], sequence_by: version, scd_type: 2}
          |""".stripMargin
      runner.run(YamlConfig.parseFlowGroup(yaml))
    }
    run(Seq((1L, 1L, "NY"), (2L, 1L, "SF")))
    run(Seq((1L, 2L, "LA"), (3L, 2L, "CHI"))) // 1 moves, 2 deleted, 3 new
    val out = store.read("snap_dim")
      .select("id", "city", "__start_at", "__end_at")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(out == Set(
      (1L, "NY", 1L, Some(2L)), (1L, "LA", 2L, None),
      (2L, "SF", 1L, Some(2L)), // deleted at snapshot 2
      (3L, "CHI", 2L, None)))
  }

  test("partitioned CDC merge rewrites only affected partitions") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/pcdc_landing"
    Seq((1L, 1L, "NY"), (2L, 1L, "SF"), (3L, 1L, "CHI"))
      .toDF("id", "seq", "city").write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: pcdc
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, city STRING"
         |    target: v_ch
         |  - name: w
         |    type: write
         |    source: v_ch
         |    write_target:
         |      type: streaming_table
         |      table: pdim
         |      partition_columns: [id]
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 2}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val root = java.nio.file.Paths.get(store.path("pdim"))
    def files(prefix: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .filter(_._1.startsWith(prefix)).toMap
    }
    val before1 = files("id=1/"); val before2 = files("id=2/")
    Thread.sleep(5)
    // batch 2 touches only id=2
    Seq((2L, 5L, "LA")).toDF("id", "seq", "city").write.mode("append").json(landing)
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(files("id=1/") == before1) // untouched partition: identical files
    assert(files("id=2/") != before2)
    val out = store.read("pdim").select("id", "city", "__end_at")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(out == Set((1L, "NY", None), (2L, "SF", Some(5L)), (2L, "LA", None),
      (3L, "CHI", None)))
  }

  test("scd1 CDC: a late event after a delete does not resurrect the key (tombstones)") {
    // DLT retains SCD1 delete tombstones internally (its pipelines.cdc
    // tombstone-GC setting exists for them); without the same state a
    // late event BELOW a delete's sequence wins against the emptied
    // target on the next microbatch and the key silently resurrects —
    // diverging from DLT and from this engine's own time-travel replay.
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/tomb_landing"
    def yaml = s"""pipeline: p
         |flowgroup: fg
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, v STRING"
         |    target: v_ch
         |  - name: w
         |    type: write
         |    source: v_ch
         |    write_target: {type: streaming_table, table: dim}
         |    cdc_config:
         |      keys: [id]
         |      sequence_by: seq
         |      scd_type: 1
         |      apply_as_deletes: "v = 'DEL'"
         |""".stripMargin
    def run(rows: (Long, Long, String)*): Unit = {
      rows.toSeq.toDF("id", "seq", "v").write.mode("append").json(landing)
      runner.run(YamlConfig.parseFlowGroup(yaml))
    }
    def live: Set[(Long, String)] =
      store.read("dim").select("id", "v").as[(Long, String)].collect().toSet
    run((1L, 1L, "a"), (2L, 1L, "x"))
    run((1L, 5L, "DEL"))
    assert(live == Set((2L, "x")))
    // the standing delete persists in the companion
    val tombs = store.read("dim__tombstones").select("id", "seq")
      .as[(Long, Long)].collect().toSet
    assert(tombs == Set((1L, 5L)), s"expected the standing tombstone, got $tombs")
    // LATE event below the delete: key stays dead (the pre-fix fold
    // resurrected it with the stale value)
    run((1L, 3L, "stale"))
    assert(live == Set((2L, "x")),
      "a late event below the standing delete resurrected the key")
    // a genuinely newer event wins and the key returns; the now-stale
    // tombstone is HARMLESS (it can never outrank the newer live row)
    // and retirement is LAZY — delete-free batches skip the companion
    // rewrite entirely, so it still stands here...
    run((1L, 7L, "new"))
    assert(live == Set((1L, "new"), (2L, "x")))
    // ...and even while stale, late events below the live row stay late
    run((1L, 4L, "stale2"))
    assert(live == Set((1L, "new"), (2L, "x")))
    // the next DELETE-carrying batch (any key) refreshes the companion,
    // retiring the superseded tombstone
    run((2L, 8L, "DEL"))
    assert(live == Set((1L, "new")))
    val tombs2 = store.read("dim__tombstones").select("id", "seq")
      .as[(Long, Long)].collect().toSet
    assert(tombs2 == Set((2L, 8L)),
      s"the delete-carrying batch must retire the superseded tombstone " +
        s"and record its own: $tombs2")
  }

  test("property: scd1/scd2 CDC fold over UNORDERED batches == one-shot merge") {
    // batch-split invariance, with NO watermark: events (unique (key,seq))
    // are shuffled and split arbitrarily, so late events — including late
    // events below a delete already applied in an earlier batch — occur
    // across batches by construction. The folded live table must equal
    // the whole event set applied as ONE batch (for scd1 that is exactly
    // what DLT's tombstone retention guarantees; scd2's closed rows carry
    // the same information structurally).
    val rnd = new scala.util.Random(29)
    def yaml(landing: String, table: String, scdType: Int) =
      s"""pipeline: p
         |flowgroup: fg_$table
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, v STRING"
         |    target: v_ch_$table
         |  - name: w
         |    type: write
         |    source: v_ch_$table
         |    write_target: {type: streaming_table, table: $table}
         |    cdc_config:
         |      keys: [id]
         |      sequence_by: seq
         |      scd_type: $scdType
         |      apply_as_deletes: "v = 'DEL'"
         |""".stripMargin
    val o1 = graft.operators.ScdMerge.Options(keys = Seq("id"),
      sequenceBy = Seq("seq"), scdType = 1, applyAsDeletes = Some("v = 'DEL'"))
    for (trial <- 1 to 4) {
      val scdType = if (trial % 2 == 1) 1 else 2
      val (runner, store, dir) = freshRunner()
      val landing = s"$dir/prop_landing"
      // unique (key, seq) pairs; ~1/3 deletes; SHUFFLED, split into 3
      val events = rnd.shuffle(for {
        key <- 0L to 3L
        seq <- 1L to (3 + rnd.nextInt(4)).toLong
      } yield (key, seq, Seq("a", "b", "c", "DEL")(rnd.nextInt(4))))
      val batches = events.grouped(math.max(1, events.size / 3 + 1)).toSeq
      batches.foreach { b =>
        b.toDF("id", "seq", "v").write.mode("append").json(landing)
        runner.run(YamlConfig.parseFlowGroup(yaml(landing, "t", scdType)))
      }
      val allDf = events.toDF("id", "seq", "v")
      val oneShot =
        (if (scdType == 1) graft.operators.ScdMerge.scd1(None, allDf, o1)
         else graft.operators.ScdMerge.scd2(None, allDf, o1.copy(scdType = 2)))
      if (scdType == 1) {
        // SCD1: the live table is the whole semantic — exact row equality
        def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
          df.select("id", "seq", "v").collect().map(_.toSeq).toSet
        val folded = canon(store.read("t"))
        val expected = canon(oneShot)
        assert(folded == expected,
          s"trial $trial (scd1): fold over ${batches.size} unordered " +
            s"batches diverged from the one-shot merge\n  folded:   $folded\n" +
            s"  one-shot: $expected")
      } else {
        // SCD2: compare the VALUE TIMELINE, not raw spans — version
        // granularity legitimately differs under batch splits (a late
        // same-value event below a stored boundary yields two adjacent
        // same-value spans where the one-shot collapses them; DLT does
        // the same), but the value visible at every sequence point and
        // the alive/dead state must agree exactly.
        def timeline(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] = {
          val rows = df.select("id", "v", "__start_at", "__end_at")
            .collect().map(r => (r.getLong(0), r.getString(1),
              r.getLong(2), if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
          (for {
            probe <- events.map(_._2).distinct
            (id, v, s, e) <- rows
            if s <= probe && probe < e
          } yield (id, probe, v)).toSet
        }
        val folded = timeline(store.read("t"))
        val expected = timeline(oneShot)
        assert(folded == expected,
          s"trial $trial (scd2): fold over ${batches.size} unordered " +
            s"batches diverged from the one-shot value timeline\n" +
            s"  folded:   ${folded.toSeq.sorted}\n" +
            s"  one-shot: ${expected.toSeq.sorted}")
      }
    }
  }

  test("property: partition-scoped CDC merges == unpartitioned merges over random batch sequences") {
    val rnd = new scala.util.Random(13)
    def yaml(landing: String, table: String, partitioned: Boolean, scdType: Int) =
      s"""pipeline: p
         |flowgroup: fg_$table
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, v STRING"
         |    target: v_ch_$table
         |  - name: w
         |    type: write
         |    source: v_ch_$table
         |    write_target:
         |      type: streaming_table
         |      table: $table
         |${if (partitioned) "      partition_columns: [id]" else ""}
         |    cdc_config:
         |      keys: [id]
         |      sequence_by: seq
         |      scd_type: $scdType
         |      apply_as_deletes: "v = 'DEL'"
         |""".stripMargin
    for (trial <- 1 to 4) {
      // scd1 deletes REMOVE rows — trials 3-4 exercise partitions emptied
      // through the runner's replacePartitions path
      val scdType = if (trial <= 2) 2 else 1
      val (runner, store, dir) = freshRunner()
      val landing = s"$dir/prop_landing"
      var watermark = 0L
      for (batch <- 1 to 3) {
        val n = 1 + rnd.nextInt(8)
        val rows = List.fill(n)((rnd.nextInt(4).toLong,
          watermark + 1 + rnd.nextInt(5), Seq("a", "b", "DEL")(rnd.nextInt(3))))
          .groupBy(r => (r._1, r._2)).map(_._2.head).toList
        watermark = rows.map(_._2).max
        rows.toDF("id", "seq", "v").write.mode("append").json(landing)
        runner.run(YamlConfig.parseFlowGroup(yaml(landing, "flat", partitioned = false, scdType)))
        runner.run(YamlConfig.parseFlowGroup(yaml(landing, "parted", partitioned = true, scdType)))
        def contents(table: String): Set[Seq[Any]] =
          try {
            val df = store.read(table)
            val cols = df.columns.sorted.toSeq
            df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
          } catch { case _: Exception => Set.empty } // all rows deleted
        val flat = contents("flat")
        val parted = contents("parted")
        assert(flat == parted, s"trial $trial batch $batch: flat $flat != parted $parted")
      }
    }
  }

  test("snapshot-polling CDC: source function drains versions, persists progress") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // a versioned snapshot store the function serves from
    val snapshots = scala.collection.mutable.SortedMap[Long, Seq[(Long, String)]](
      1L -> Seq((1L, "NY"), (2L, "SF")),
      2L -> Seq((1L, "LA"), (3L, "CHI"))) // key 2 deleted at v2
    object Fn extends SnapshotFunction {
      def apply(s: SparkSession, lastVersion: Option[Long],
          parameters: Map[String, Any]): Option[(DataFrame, Long)] = {
        import s.implicits._
        snapshots.iteratorFrom(lastVersion.getOrElse(0L) + 1).toSeq.headOption
          .map { case (v, rows) => (rows.toDF("id", "city"), v) }
      }
    }
    val dir = Files.createTempDirectory("snapfn").toString
    val store = new TableStore(spark, s"$dir/wh")
    val runner = new PipelineRunner(spark, store, s"$dir/ckpt",
      plugins = Map("SnapFn" -> Fn))
    val yaml =
      """pipeline: p
        |flowgroup: snapfn
        |actions:
        |  - name: w
        |    type: write
        |    source: v_absent_ok
        |    write_target:
        |      type: streaming_table
        |      table: snap_poll
        |      snapshot_cdc_config:
        |        source_function: {class: SnapFn}
        |        keys: [id]
        |        stored_as_scd_type: 2
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    def state() = store.read("snap_poll")
      .selectExpr("id", "city", "_snapshot_version", "__end_at IS NULL")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(state() == Set(
      (1L, "NY", 1L, false), (1L, "LA", 2L, true),
      (2L, "SF", 1L, false), // deleted at v2: chain closed
      (3L, "CHI", 2L, true)))
    assert(store.getMeta("snap_poll", "snapshot_version").contains("2"))

    // re-run: caught up, nothing changes
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.getMeta("snap_poll", "snapshot_version").contains("2"))

    // a third snapshot appears; the next run picks up only it
    snapshots(3L) = Seq((1L, "LA"), (3L, "DET"))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(state() == Set(
      (1L, "NY", 1L, false), (1L, "LA", 2L, true),
      (2L, "SF", 1L, false),
      (3L, "CHI", 2L, false), (3L, "DET", 3L, true)))
  }

  test("data_quality quarantine routes violations to DLQ") {
    val (runner, store, _) = freshRunner()
    Seq((1, 10), (2, -1), (3, 5)).toDF("id", "v").createOrReplaceTempView("dq_src")
    val yaml =
      """pipeline: p
        |flowgroup: dq
        |actions:
        |  - name: load
        |    type: load
        |    source: {type: table, table: dq_src}
        |    target: v_src
        |  - name: quality
        |    type: transform
        |    transform_type: data_quality
        |    source: v_src
        |    target: v_clean
        |    expectations:
        |      - {name: positive, expression: "v > 0", failureAction: drop}
        |    quarantine: {table: dlq}
        |  - name: write
        |    type: write
        |    source: v_clean
        |    write_target: {type: materialized_view, table: clean_out}
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("clean_out").select("id").as[Int].collect().toSet == Set(1, 3))
    val dlq = store.read("dlq")
    assert(dlq.select("id").as[Int].collect().toSeq == Seq(2))
    assert(dlq.columns.contains("_dlq_sk") && dlq.columns.contains("_failed_rules"))
  }

  test("streaming quarantine: violations drain to DLQ via foreachBatch, checkpointed; recycle returns fixed row") {
    import graft.operators.Quarantine
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/sdq_landing"
    Seq((1, 10), (2, -1), (3, 5)).toDF("id", "v").write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: sdq
         |actions:
         |  - name: load
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, v BIGINT"
         |    target: v_src
         |  - name: quality
         |    type: transform
         |    transform_type: data_quality
         |    source: v_src
         |    target: v_clean
         |    expectations:
         |      - {name: positive, expression: "v > 0", failureAction: drop}
         |    quarantine: {table: sdlq}
         |  - name: write
         |    type: write
         |    source: v_clean
         |    write_target: {type: streaming_table, table: sclean}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("sclean").select("id").as[Long].collect().toSet == Set(1L, 3L))
    assert(store.read("sdlq").select("id").as[Long].collect().toSeq == Seq(2L))

    // incremental: only the new file routes (checkpointed AvailableNow)
    Seq((4, -7), (5, 2)).toDF("id", "v").write.mode("append").json(landing)
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("sclean").select("id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    assert(store.read("sdlq").select("id").as[Long].collect().toSet == Set(2L, 4L))

    // fix row 2 and recycle it through the DLQ
    val fixed = store.read("sdlq")
      .withColumn("v", when(col("id") === 2, lit(42L)).otherwise(col("v")))
      .withColumn(Quarantine.StatusCol,
        when(col("id") === 2, lit("fixed")).otherwise(col(Quarantine.StatusCol)))
    store.replace("sdlq", fixed)
    val rules = Seq(graft.operators.Expectations.Rule("positive", "v > 0", graft.operators.Expectations.Drop))
    val recycled = Quarantine.recycle(store, "sdlq", Seq("id", "v"), rules)
    assert(recycled.select("id", "v").as[(Long, Long)].collect().toSet == Set((2L, 42L)))
  }

  test("table load in stream mode: checkpointed incremental read of a warehouse table") {
    val (runner, store, _) = freshRunner()
    store.overwrite("stream_src_tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val yaml =
      """pipeline: p
        |flowgroup: tstream
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: stream_src_tbl}
        |    readMode: stream
        |    target: v_s
        |  - name: w
        |    type: write
        |    source: v_s
        |    write_target: {type: streaming_table, table: stream_tgt_tbl}
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("stream_tgt_tbl").count() == 2)
    // append new rows to the source table; a re-run picks up only those
    store.append("stream_src_tbl", Seq((3, "c")).toDF("id", "v"))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("stream_tgt_tbl").count() == 3)
  }

  test("cloudfiles schema file (schema_path) and schema hints drive the load schema") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/schema_landing"
    Seq(("1", "9.5", "x")).toDF("id", "score", "extra").write.json(landing)
    val schemaFile = Files.createTempFile("sch", ".yaml")
    Files.writeString(schemaFile,
      """name: t
        |columns:
        |  - {name: id, type: BIGINT, nullable: false}
        |  - {name: score, type: DOUBLE}
        |  - {name: extra, type: STRING}
        |""".stripMargin)
    val yaml =
      s"""pipeline: p
         |flowgroup: sf
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      schema_path: $schemaFile
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: sch_out}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val out = store.read("sch_out")
    assert(out.schema.map(f => (f.name, f.dataType.typeName)).toSet ==
      Set(("id", "long"), ("score", "double"), ("extra", "string")))

    // hints merge over the INFERRED schema: override a type, add a column
    val (runner2, store2, dir2) = freshRunner()
    val landing2 = s"$dir2/hints_landing"
    Seq((7, "a")).toDF("id", "v").write.json(landing2) // id infers as bigint
    runner2.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: hints
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing2
         |      format: json
         |      readMode: stream
         |      options: {"cloudFiles.schemaHints": "id DOUBLE, added DOUBLE"}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target: {type: streaming_table, table: hint_out}
         |""".stripMargin))
    val out2 = store2.read("hint_out")
    assert(out2.schema.map(f => (f.name, f.dataType.typeName)).toSet ==
      Set(("id", "double"), ("v", "string"), ("added", "double")))
    assert(out2.select("id").as[Double].collect().toSeq == Seq(7.0))
  }

  test("incremental MV: streaming aggregation state merges across runs") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/imv_landing"
    Seq(("a", 10L), ("a", 5L), ("b", 1L)).toDF("k", "v").write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: imv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "k STRING, v BIGINT"
         |    target: v_ev
         |  - name: mv
         |    type: write
         |    sql: "SELECT k, sum(v) AS total, count(*) AS n FROM v_ev GROUP BY k"
         |    write_target: {type: materialized_view, table: totals, mode: incremental}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    def totals() = store.read("totals").select("k", "total", "n")
      .as[(String, Long, Long)].collect().toSet
    assert(totals() == Set(("a", 15L, 2L), ("b", 1L, 1L)))

    // new file with updates to an EXISTING key and a new key: the second run
    // reads ONLY the new file, yet totals combine with prior state — proof
    // the aggregation state persisted rather than recomputing from scratch
    Seq(("a", 1L), ("c", 7L)).toDF("k", "v").write.mode("append").json(landing)
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(totals() == Set(("a", 16L, 3L), ("b", 1L, 1L), ("c", 7L, 1L)))
  }

  test("incremental MV over a batch source is a PlanError naming the action") {
    val (runner, _, _) = freshRunner()
    Seq(("a", 1L)).toDF("k", "v").createOrReplaceTempView("imv_batch_src")
    val e = intercept[graft.plan.Planner.PlanError](runner.run(
      YamlConfig.parseFlowGroup(
        """pipeline: p
          |flowgroup: imvb
          |actions:
          |  - name: l
          |    type: load
          |    source: {type: table, table: imv_batch_src}
          |    target: v_ev
          |  - name: mv_bad
          |    type: write
          |    sql: "SELECT k, sum(v) AS total FROM v_ev GROUP BY k"
          |    write_target: {type: materialized_view, table: totals_bad, mode: incremental}
          |""".stripMargin)))
    assert(e.getMessage.contains("mv_bad") && e.getMessage.contains("incremental"),
      e.getMessage)
  }

  test("incremental MV shape audit: unmaintainable shapes refuse with ACT-011 naming the shape") {
    // the decision table's loud end: windowed / dedup-bearing / exact-
    // DISTINCT shapes under mode: incremental must NOT reach stream start
    // (Spark's anonymous UnsupportedOperationChecker failure) — each
    // refusal names the offending construct and the supported alternative
    val (runner, _, dir) = freshRunner()
    val landing = s"$dir/audit_landing"
    Seq(("a", 10L), ("b", 1L)).toDF("k", "v").write.json(landing)
    def mv(sql: String, table: String) =
      s"""pipeline: p
         |flowgroup: aud_$table
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "k STRING, v BIGINT"
         |    target: v_ev
         |  - name: mv_$table
         |    type: write
         |    sql: "$sql"
         |    write_target: {type: materialized_view, table: $table, mode: incremental}
         |""".stripMargin
    def refusal(sql: String, table: String): String = {
      val e = intercept[graft.plan.Planner.PlanError](
        runner.run(YamlConfig.parseFlowGroup(mv(sql, table))))
      assert(e.getMessage.contains("GRF-ACT-011") &&
        e.getMessage.contains(s"mv_$table"), e.getMessage)
      e.getMessage
    }
    assert(refusal("SELECT k, row_number() OVER (PARTITION BY k ORDER BY v) AS r FROM v_ev",
      "winmv").contains("window function"))
    // NESTED dedup (below an aggregation) still refuses — only the MV's
    // top-level dedup is maintainable by anti-join append
    assert(refusal("SELECT k, count(*) AS n FROM (SELECT DISTINCT k, v FROM v_ev) GROUP BY k",
      "dedupmv").contains("DISTINCT"))
    assert(refusal("SELECT k, count(DISTINCT v) AS nv FROM v_ev GROUP BY k",
      "distmv").contains("incremental_join"))
    // the supported shape still runs: plain aggregation over the stream
    val (runner2, store2, _) = freshRunner()
    runner2.run(YamlConfig.parseFlowGroup(mv(
      "SELECT k, sum(v) AS total FROM v_ev GROUP BY k", "okmv")))
    assert(store2.read("okmv").count() == 2)
    // and the guard is subtree-scoped: DISTINCT inside a purely STATIC dim
    // side of a stream-static join is maintainable (no streaming dedup
    // state) and must NOT be refused
    Seq(("a", "x"), ("a", "x"), ("b", "y")).toDF("k", "region")
      .createOrReplaceTempView("aud_dim")
    val (runner3, store3, _) = freshRunner()
    runner3.run(YamlConfig.parseFlowGroup(mv(
      "SELECT d.region, sum(v) AS total FROM v_ev e JOIN " +
        "(SELECT DISTINCT k, region FROM aud_dim) d ON e.k = d.k GROUP BY d.region",
      "dimmv")))
    assert(store3.read("dimmv").select("region", "total")
      .as[(String, Long)].collect().toSet == Set(("x", 10L), ("y", 1L)))
  }

  test("watermarked windowed MV: append mode emits only finalized windows, exactly once") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/wmv_landing"
    def land(rows: Seq[(String, Long)]): Unit =
      rows.toDF("ts", "v").repartition(1).write.mode("append").json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: wmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "ts TIMESTAMP, v BIGINT"
         |    target: v_ev
         |  - name: mv
         |    type: write
         |    sql: "SELECT window.start AS ws, sum(v) AS total, count(*) AS n FROM v_ev GROUP BY window(ts, '1 hour')"
         |    write_target:
         |      type: materialized_view
         |      table: wmv
         |      mode: incremental
         |      watermark: {column: ts, delay: "30 minutes"}
         |""".stripMargin
    // batch A: three 1-hour windows, max event 12:30. Each run's trailing
    // no-data microbatch applies the advanced watermark before the run
    // ends, so after EVERY run the table holds exactly the windows with
    // end <= max(ts so far) - delay — batching-independent.
    land(Seq(("2024-03-01 10:10:00", 1L), ("2024-03-01 10:40:00", 2L),
      ("2024-03-01 11:05:00", 10L), ("2024-03-01 12:30:00", 100L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    def content() = store.read("wmv")
      .select(date_format(col("ws"), "HH:mm"), col("total"), col("n"))
      .as[(String, Long, Long)].collect().toSet
    // watermark 12:30 - 30m = 12:00 -> 10:00 and 11:00 finalized; the
    // 12:00 window (still open) is NOT in the table
    assert(content() == Set(("10:00", 3L, 2L), ("11:00", 10L, 1L)))
    // batch B advances the watermark to 13:30 -> 12:00 finalizes; earlier
    // windows are NOT re-emitted (append, not replace)
    land(Seq(("2024-03-01 14:00:00", 7L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(content() == Set(("10:00", 3L, 2L), ("11:00", 10L, 1L), ("12:00", 100L, 1L)))
    // batch C advances it to 19:30 -> batch B's own 14:00 window finalizes
    land(Seq(("2024-03-01 20:00:00", 9L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(content() == Set(("10:00", 3L, 2L), ("11:00", 10L, 1L),
      ("12:00", 100L, 1L), ("14:00", 7L, 1L)))
    assert(store.read("wmv").count() == 4)
  }

  test("watermark contract: refusals name the gap (no window key, bad column, batch source)") {
    val (runner, _, dir) = freshRunner()
    val landing = s"$dir/wmc_landing"
    Seq(("2024-03-01 10:10:00", 1L)).toDF("ts", "v")
      .repartition(1).write.json(landing)
    def yaml(sql: String, wm: String) =
      s"""pipeline: p
         |flowgroup: wmc
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "ts TIMESTAMP, v BIGINT"
         |    target: v_ev
         |  - name: mv_wmc
         |    type: write
         |    sql: "$sql"
         |    write_target:
         |      type: materialized_view
         |      table: wmc
         |      mode: incremental
         |      watermark: $wm
         |""".stripMargin
    // aggregation without a window group key cannot emit in append mode
    val e1 = intercept[graft.plan.Planner.PlanError](runner.run(YamlConfig.parseFlowGroup(
      yaml("SELECT sum(v) AS total FROM v_ev", """{column: ts, delay: "10 minutes"}"""))))
    assert(e1.getMessage.contains("GRF-ACT-011") && e1.getMessage.contains("window("),
      e1.getMessage)
    // watermark column must exist on the source view
    val e2 = intercept[graft.plan.Planner.PlanError](runner.run(YamlConfig.parseFlowGroup(
      yaml("SELECT window.start AS ws, sum(v) AS t FROM v_ev GROUP BY window(ts, '1 hour')",
        """{column: nope, delay: "10 minutes"}"""))))
    assert(e2.getMessage.contains("nope") && e2.getMessage.contains("v_ev"), e2.getMessage)
    // parse-level: watermark needs mode incremental + sql + both fields
    def parseErr(y: String): String =
      intercept[graft.config.YamlConfig.ConfigError](YamlConfig.parseFlowGroup(y)).getMessage
    val base =
      """pipeline: p
        |flowgroup: wmp
        |actions:
        |  - name: mv_p
        |    type: write
        |    %s
        |    write_target:
        |      type: materialized_view
        |      table: t
        |      %s
        |      watermark: %s
        |""".stripMargin
    assert(parseErr(base.format("sql: \"SELECT 1\"", "mode: incremental",
      "{column: ts}")).contains("delay"))
    assert(parseErr(base.format("sql: \"SELECT 1\"", "",
      """{column: ts, delay: "1 hour"}""")).contains("mode: incremental"))
    assert(parseErr(base.format("source: v", "mode: incremental",
      """{column: ts, delay: "1 hour"}""")).contains("sql"))
  }

  test("dedup MV: top-level DISTINCT maintained by anti-join append, null-safe, exactly once") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/dmv_landing"
    def land(rows: Seq[(String, java.lang.Long)]): Unit =
      rows.toDF("k", "v").repartition(1).write.mode("append").json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: dmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "k STRING, v BIGINT"
         |    target: v_ev
         |  - name: mv
         |    type: write
         |    sql: "SELECT DISTINCT k, v FROM v_ev"
         |    write_target: {type: materialized_view, table: dmv, mode: incremental}
         |""".stripMargin
    // batch A holds in-batch duplicates and a null-valued row
    land(Seq(("a", 1L), ("a", 1L), ("b", 2L), ("n", null)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    def content() = store.read("dmv").select("k", "v")
      .as[(String, Option[Long])].collect().toSet
    assert(content() == Set(("a", Some(1L)), ("b", Some(2L)), ("n", None)))
    // batch B re-sends every batch-A row (including the null, which a
    // non-null-safe anti-join would duplicate forever) plus one new row —
    // only the new row lands
    land(Seq(("a", 1L), ("b", 2L), ("n", null), ("c", 3L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(content() == Set(("a", Some(1L)), ("b", Some(2L)), ("n", None), ("c", Some(3L))))
    assert(store.read("dmv").count() == 4)
  }

  test("dedup MV: operational metadata attaches without defeating the dedup") {
    // _ingestion_timestamp/_pipeline_run_id differ per run BY CONSTRUCTION;
    // a full-row DISTINCT that keyed on them would re-append every row every
    // run. The dedup must span the USER's DISTINCT columns only, with the
    // kept row carrying its first-seen run's metadata.
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/dmvm_landing"
    def land(rows: Seq[(String, Long)]): Unit =
      rows.toDF("k", "v").repartition(1).write.mode("append").json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: dmvm
         |operational_metadata: true
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "k STRING, v BIGINT"
         |    target: v_ev
         |  - name: mv
         |    type: write
         |    sql: "SELECT DISTINCT k, v FROM v_ev"
         |    write_target: {type: materialized_view, table: dmvm, mode: incremental}
         |""".stripMargin
    land(Seq(("a", 1L), ("a", 1L), ("b", 2L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    // second run re-sends both rows and adds one: only the new row appends,
    // and the kept rows RETAIN run 1's metadata (run id is per-RUNNER, so
    // the per-run discriminator is the batch-time ingestion timestamp)
    land(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    val t = store.read("dmvm")
    assert(t.count() == 3, "re-sent rows must not re-append under per-run metadata")
    assert(t.select("k", "v").as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(t.columns.contains("_pipeline_run_id"))
    val byTs = t.select("k", "_ingestion_timestamp")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(byTs("a") == byTs("b") && byTs("c").after(byTs("a")),
      "first-seen rows keep run 1's ingestion time; the new row carries run 2's")
  }

  test("dedup MV: a declared schema dropping a DISTINCT column surfaces as a PlanError") {
    // the guard runs inside foreachBatch; the stream-start seam unwraps it
    // from Spark's StreamingQueryException like every other refusal
    val (runner, _, dir) = freshRunner()
    val landing = s"$dir/dmvs_landing"
    Seq(("a", 1L)).toDF("k", "v").write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: dmvs
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "k STRING, v BIGINT"
         |    target: v_ev
         |  - name: mv
         |    type: write
         |    sql: "SELECT DISTINCT k, v FROM v_ev"
         |    write_target:
         |      type: materialized_view
         |      table: dmvs
         |      mode: incremental
         |      table_schema: "k STRING"
         |""".stripMargin
    val e = intercept[graft.plan.Planner.PlanError](
      runner.run(YamlConfig.parseFlowGroup(yaml)))
    assert(e.getMessage.contains("dedup columns v"), e.getMessage)
  }

  test("streaming_table dedup: bounded-state ingest dedup, in-batch and cross-run") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/sdd_landing"
    def land(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("id", "ts", "v").repartition(1).write.mode("append").json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: sdd
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, ts TIMESTAMP, v BIGINT"
         |    target: v_ev
         |  - name: w
         |    type: write
         |    source: v_ev
         |    write_target:
         |      type: streaming_table
         |      table: sdd
         |      dedup: {keys: [id], column: ts, within: "1 hour"}
         |""".stripMargin
    // run 1: an in-batch redelivery of id 1 (same payload) dedups
    land(Seq((1L, "2024-03-01 10:00:00", 10L), (1L, "2024-03-01 10:05:00", 10L),
      (2L, "2024-03-01 10:10:00", 20L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    def ids() = store.read("sdd").select("id").as[Long].collect().sorted.toSeq
    assert(ids() == Seq(1L, 2L))
    // run 2: re-sends id 2 within the horizon (checkpointed state dedups
    // across runs) plus a new id 3 — only 3 lands
    land(Seq((2L, "2024-03-01 10:20:00", 20L), (3L, "2024-03-01 10:30:00", 30L)))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(ids() == Seq(1L, 2L, 3L))
    assert(store.read("sdd").count() == 3)
  }

  test("streaming_table dedup contract: refusals name the gap") {
    val (runner, _, dir) = freshRunner()
    // batch source: bounded-state dedup has no batch counterpart
    Seq((1L, "2024-03-01 10:00:00")).toDF("id", "ts")
      .createOrReplaceTempView("sddc_src")
    val e1 = intercept[graft.plan.Planner.PlanError](runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: sddc
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: sddc_src}
         |    target: v
         |  - name: w
         |    type: write
         |    source: v
         |    write_target:
         |      type: streaming_table
         |      table: sddc
         |      dedup: {keys: [id], column: ts, within: "1 hour"}
         |""".stripMargin)))
    assert(e1.getMessage.contains("streaming source"), e1.getMessage)
    // parse-level: incomplete triple, and CDC interaction
    def parseErr(wt: String): String =
      intercept[graft.config.YamlConfig.ConfigError](YamlConfig.parseFlowGroup(
        s"""pipeline: p
           |flowgroup: sddp
           |actions:
           |  - name: w
           |    type: write
           |    source: v
           |    write_target:
           |      type: streaming_table
           |      table: t
           |      $wt
           |""".stripMargin)).getMessage
    assert(parseErr("dedup: {keys: [id]}").contains("within"))
    assert(parseErr(
      """dedup: {keys: [id], column: ts, within: "1 hour"}
        |      cdc_config: {keys: [id], sequence_by: [ts]}""".stripMargin)
      .contains("append flows"))
  }

  test("MV sql supports stream(...) — including QUALIFIED table names, incrementally") {
    // two findings in one: (a) the MV main-sql path routed bare spark.sql,
    // so the stream() form its own refusal recommends threw an anonymous
    // UNRESOLVED_ROUTINE; (b) dotted stream(cat.sch.t) names were silently
    // excluded from the streaming overlay (temp views reject dots) and
    // degraded to a batch re-read — now they overlay under a mangled view
    val (runner, store, _) = freshRunner()
    store.overwrite("cat.sch.src", Seq((1L, 2.0), (2L, 3.0)).toDF("k", "v"))
    val yaml =
      """pipeline: p
        |flowgroup: qsmv
        |actions:
        |  - name: mv
        |    type: write
        |    sql: >
        |      SELECT count(*) AS n, sum(v) AS total FROM stream(cat.sch.src)
        |    write_target:
        |      type: materialized_view
        |      table: qsmv_out
        |      mode: incremental
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("qsmv_out").as[(Long, Double)].head() == ((2L, 5.0)))
    // append to the source: the second run reads ONLY the delta (the
    // checkpointed agg state carries the rest) and the MV updates
    store.append("cat.sch.src", Seq((3L, 5.0)).toDF("k", "v"))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("qsmv_out").as[(Long, Double)].head() == ((3L, 10.0)))
  }

  test("stream-stream join: watermark transforms unlock a time-bounded self-join across runs") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/ssw_landing"
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("user_id", "ts", "kind").repartition(1).write.mode("append").json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: ssw
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "user_id BIGINT, ts TIMESTAMP, kind STRING"
         |    target: v_raw
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: v_raw
         |    target: v_wm
         |    column: ts
         |    delay: "2 hours"
         |  - name: j
         |    type: transform
         |    transform_type: sql
         |    source: v_wm
         |    target: v_j
         |    sql: >
         |      SELECT a.user_id, a.ts AS click_ts, b.ts AS buy_ts
         |      FROM v_wm a JOIN v_wm b
         |        ON a.user_id = b.user_id AND a.kind = 'click' AND b.kind = 'buy'
         |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES
         |  - name: w
         |    type: write
         |    source: v_j
         |    write_target: {type: streaming_table, table: ssw}
         |""".stripMargin
    // run 1: user 1 clicks; the matching buy has NOT arrived yet
    land(Seq((1L, "2024-03-01 10:00:00", "click"), (2L, "2024-03-01 10:00:00", "click")))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.readIfExists("ssw").forall(_.count() == 0))
    // run 2: user 1's buy arrives within the window — the checkpointed
    // JOIN STATE must still hold run 1's click for the match to emit.
    // User 2's buy is outside the 30-minute window: no match.
    land(Seq((1L, "2024-03-01 10:20:00", "buy"), (2L, "2024-03-01 11:00:00", "buy")))
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("ssw").select("user_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("stream-stream-bearing MV SQL auto-routes to append maintenance when watermarked") {
    // the r12 decision table REFUSED this shape and named the
    // watermark-transform + streaming_table detour; with every stream side
    // watermarked, mode: incremental now runs it directly as append-mode
    // maintenance — cross-run join state held in the checkpoint
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/ssmv_landing"
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("user_id", "ts", "kind").repartition(1).write.mode("append").json(landing)
    def yaml(sql: String) =
      s"""pipeline: p
         |flowgroup: ssmv
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "user_id BIGINT, ts TIMESTAMP, kind STRING"
         |    target: v_raw
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: v_raw
         |    target: v_wm
         |    column: ts
         |    delay: "2 hours"
         |  - name: mv
         |    type: write
         |    sql: >
         |      $sql
         |    write_target:
         |      type: materialized_view
         |      table: ssmv
         |      mode: incremental
         |""".stripMargin
    val joinSql =
      """SELECT a.user_id, a.ts AS click_ts, b.ts AS buy_ts
        |      FROM v_wm a JOIN v_wm b
        |        ON a.user_id = b.user_id AND a.kind = 'click' AND b.kind = 'buy'
        |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES""".stripMargin
    // run 1: clicks land, no buys yet — nothing joins. The route must also
    // name its computed state horizon (watermark delay + join range) so a
    // copied huge delay is visible BEFORE the checkpoint swallows the
    // cluster — 2 h delay + 30 min range here
    land(Seq((1L, "2024-03-01 10:00:00", "click"), (2L, "2024-03-01 10:00:00", "click")))
    val horizon = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.Log.withSink(horizon += _) {
      runner.run(YamlConfig.parseFlowGroup(yaml(joinSql)))
    }
    assert(horizon.exists(m => m.contains("join state horizon") &&
      m.contains("2.5 h") && m.contains("watermark delay 2.0 h")),
      horizon.mkString("\n"))
    assert(store.readIfExists("ssmv").forall(_.count() == 0))
    // run 2: user 1's buy arrives inside the window — the CHECKPOINTED join
    // state must still hold run 1's click; user 2's buy is out of window
    land(Seq((1L, "2024-03-01 10:20:00", "buy"), (2L, "2024-03-01 11:00:00", "buy")))
    runner.run(YamlConfig.parseFlowGroup(yaml(joinSql)))
    assert(store.read("ssmv").select("user_id").as[Long].collect().toSeq == Seq(1L))
    // run 3 with no new data appends nothing (no re-emission of old matches)
    runner.run(YamlConfig.parseFlowGroup(yaml(joinSql)))
    assert(store.read("ssmv").count() == 1)
    // an UNWINDOWED aggregation above the join cannot emit in append mode —
    // refused by name, not by Spark's anonymous stream-start failure
    val e = intercept[graft.plan.Planner.PlanError](runner.run(YamlConfig.parseFlowGroup(
      yaml("""SELECT a.user_id, count(*) AS n FROM v_wm a JOIN v_wm b
        |        ON a.user_id = b.user_id
        |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES
        |      GROUP BY a.user_id""".stripMargin))))
    assert(e.getMessage.contains("GRF-ACT-011") &&
      e.getMessage.contains("unwindowed aggregation above a stream-stream join"),
      e.getMessage)
  }

  test("stream-stream MV: an equality-only join condition refuses — state would never evict") {
    // both sides watermarked, but no event-time range constraint: Spark's
    // watermarks alone never clean inner-join state, so the checkpoint
    // would grow with the corpus — refused by name (via Spark's own
    // StreamingJoinHelper state analysis), not silently accepted
    val (runner, _, dir) = freshRunner()
    val landing = s"$dir/ssmv3_landing"
    Seq((1L, "2024-03-01 10:00:00", "click")).toDF("user_id", "ts", "kind")
      .repartition(1).write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: ssmv3
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "user_id BIGINT, ts TIMESTAMP, kind STRING"
         |    target: v_raw
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: v_raw
         |    target: v_wm
         |    column: ts
         |    delay: "2 hours"
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT a.user_id FROM v_wm a JOIN v_wm b ON a.user_id = b.user_id
         |    write_target:
         |      type: materialized_view
         |      table: ssmv3
         |      mode: incremental
         |""".stripMargin
    val e = intercept[graft.plan.Planner.PlanError](
      runner.run(YamlConfig.parseFlowGroup(yaml)))
    assert(e.getMessage.contains("GRF-ACT-011") &&
      e.getMessage.contains("does not bound the left+right side") &&
      e.getMessage.contains("BETWEEN"), e.getMessage)
  }

  test("stream-stream MV refusal narrows to the unwatermarked side, by name") {
    val (runner, _, dir) = freshRunner()
    val landing = s"$dir/ssmv2_landing"
    Seq((1L, "2024-03-01 10:00:00", "click")).toDF("user_id", "ts", "kind")
      .repartition(1).write.json(landing)
    // v_raw is streaming but carries NO watermark — its join state could
    // never be evicted; the refusal names the bare side and the fix
    val yaml =
      s"""pipeline: p
         |flowgroup: ssmv2
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "user_id BIGINT, ts TIMESTAMP, kind STRING"
         |    target: v_raw
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: v_raw
         |    target: v_wm
         |    column: ts
         |    delay: "2 hours"
         |  - name: mv
         |    type: write
         |    sql: >
         |      SELECT a.user_id FROM v_wm a JOIN v_raw b
         |        ON a.user_id = b.user_id
         |       AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 30 MINUTES
         |    write_target:
         |      type: materialized_view
         |      table: ssmv2
         |      mode: incremental
         |""".stripMargin
    val e = intercept[graft.plan.Planner.PlanError](
      runner.run(YamlConfig.parseFlowGroup(yaml)))
    assert(e.getMessage.contains("GRF-ACT-011") &&
      e.getMessage.contains("unwatermarked right side") &&
      e.getMessage.contains("transform_type: watermark"), e.getMessage)
  }

  test("watermark transform contract: batch source and unknown column refuse loudly") {
    val (runner, _, _) = freshRunner()
    Seq((1L, "2024-03-01 10:00:00")).toDF("id", "ts").createOrReplaceTempView("wmt_src")
    def yaml(src: String, col: String) =
      s"""pipeline: p
         |flowgroup: wmt
         |actions:
         |  - name: l
         |    type: load
         |    source: {type: table, table: wmt_src}
         |    target: v_b
         |  - name: wm
         |    type: transform
         |    transform_type: watermark
         |    source: $src
         |    target: v_o
         |    column: $col
         |    delay: "1 hour"
         |  - name: w
         |    type: write
         |    source: v_o
         |    write_target: {type: streaming_table, table: wmt_t}
         |""".stripMargin
    val e1 = intercept[graft.plan.Planner.PlanError](
      runner.run(YamlConfig.parseFlowGroup(yaml("v_b", "ts"))))
    assert(e1.getMessage.contains("not a streaming view"), e1.getMessage)
    // parse-level: column/delay required
    val e2 = intercept[graft.config.YamlConfig.ConfigError](YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: wmp
        |actions:
        |  - name: wm
        |    type: transform
        |    transform_type: watermark
        |    source: v
        |    target: o
        |    delay: "1 hour"
        |""".stripMargin))
    assert(e2.getMessage.contains("column"))
  }

  test("stream-static join: SQL transform enriches a stream with a dimension") {
    val (runner, store, dir) = freshRunner()
    val landing = s"$dir/ssj_landing"
    Seq((1L, 10L), (2L, 20L)).toDF("dim_id", "v").write.json(landing)
    Seq((1L, "one"), (2L, "two")).toDF("dim_id", "label")
      .createOrReplaceTempView("ssj_dim")
    runner.run(YamlConfig.parseFlowGroup(
      s"""pipeline: p
         |flowgroup: ssj
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "dim_id BIGINT, v BIGINT"
         |    target: v_stream
         |  - name: enrich
         |    type: transform
         |    transform_type: sql
         |    source: v_stream
         |    target: v_enriched
         |    sql: "SELECT s.dim_id, s.v, d.label FROM v_stream s JOIN ssj_dim d ON s.dim_id = d.dim_id"
         |  - name: w
         |    type: write
         |    source: v_enriched
         |    write_target: {type: streaming_table, table: enriched}
         |""".stripMargin))
    assert(store.read("enriched").select("dim_id", "v", "label")
      .as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "one"), (2L, 20L, "two")))
  }

  test("kafka sink validates the value column before connecting") {
    val (runner, _, _) = freshRunner()
    Seq((1, "x")).toDF("id", "payload").createOrReplaceTempView("kv_src")
    val e = intercept[YamlConfig.ConfigError](runner.run(YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: kafka_bad
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: kv_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target: {type: sink, sink_type: kafka, options: {topic: t}}
        |""".stripMargin)))
    assert(e.getMessage.contains("value"))
  }

  test("cluster_columns range-clusters data files (disjoint min/max per file)") {
    val (runner, store, _) = freshRunner()
    // AQE rightly coalesces this tiny shuffle to one partition; disable it
    // here so the multi-file disjointness property is observable
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val rnd = new scala.util.Random(5)
    rnd.shuffle((1 to 4000).toList).map(i => (i.toLong, s"r$i"))
      .toDF("k", "v").createOrReplaceTempView("cl_src")
    runner.run(YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: cl
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: cl_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target:
        |      type: materialized_view
        |      table: cl_out
        |      cluster_columns: [k]
        |""".stripMargin))
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(store.path("cl_out")))
      .iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toList
    assert(files.size > 1, "expected multiple range partitions")
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f).select("k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"file $f not sorted") // tight row-group stats
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: $ranges") // disjoint → file skipping
    }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("once flows backfill a single time; full refresh re-arms them") {
    val dir = Files.createTempDirectory("graft-once").toString
    val store = new TableStore(spark, s"$dir/warehouse")
    Seq(1, 2).toDF("x").createOrReplaceTempView("once_src")
    val yaml =
      """pipeline: p
        |flowgroup: oncefg
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: once_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    once: true
        |    write_target: {type: streaming_table, table: once_tbl}
        |""".stripMargin
    new PipelineRunner(spark, store, s"$dir/ckpt").run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("once_tbl").count() == 2)
    // re-run: the batch append does NOT duplicate
    new PipelineRunner(spark, store, s"$dir/ckpt").run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("once_tbl").count() == 2)
    // full refresh re-arms the once flow
    new PipelineRunner(spark, store, s"$dir/ckpt", fullRefresh = Set("*"))
      .run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("once_tbl").count() == 2)
  }

  test("full refresh drops the table, changes companion, and stream state") {
    val dir = Files.createTempDirectory("graft-fr").toString
    val store = new TableStore(spark, s"$dir/warehouse")
    val landing = s"$dir/fr_landing"
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.json(landing)
    val yaml =
      s"""pipeline: p
         |flowgroup: fr
         |actions:
         |  - name: l
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $landing
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, v STRING"
         |    target: v_fr
         |  - name: w
         |    type: write
         |    source: v_fr
         |    write_target: {type: streaming_table, table: fr_tbl, change_log: true}
         |""".stripMargin
    new PipelineRunner(spark, store, s"$dir/ckpt").run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("fr_tbl").count() == 2)
    // normal re-run: checkpoint says nothing new
    new PipelineRunner(spark, store, s"$dir/ckpt").run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("fr_tbl").count() == 2)
    // full refresh: state wiped, everything re-ingests exactly once
    new PipelineRunner(spark, store, s"$dir/ckpt", fullRefresh = Set("*"))
      .run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("fr_tbl").count() == 2)
    assert(store.read("fr_tbl__changes").select("_commit_version")
      .as[Long].collect().toSet == Set(0L)) // history restarted
  }

  test("row_filter and table_properties apply on writes") {
    val (runner, store, _) = freshRunner()
    Seq((1, "keep"), (2, "drop")).toDF("id", "tag").createOrReplaceTempView("rf_src")
    runner.run(YamlConfig.parseFlowGroup(
      """pipeline: p
        |flowgroup: rf
        |actions:
        |  - name: l
        |    type: load
        |    source: {type: table, table: rf_src}
        |    target: v
        |  - name: w
        |    type: write
        |    source: v
        |    write_target:
        |      type: materialized_view
        |      table: rf_out
        |      row_filter: "tag = 'keep'"
        |      table_properties: {quality: gold, owner: data-eng}
        |""".stripMargin))
    assert(store.read("rf_out").count() == 1)
    assert(store.properties("rf_out") == Map("quality" -> "gold", "owner" -> "data-eng"))
  }

  test("planner: cycle detection and validation errors") {
    import graft.plan.Planner
    val cyc = FlowGroup("p", "f", actions = Seq(
      SqlLoad("l", Some("v0"), "SELECT 1"),
      SqlTransform("t1", Some("a"), Seq("b", "v0"), "SELECT * FROM b"),
      SqlTransform("t2", Some("b"), Seq("a"), "SELECT * FROM a"),
      MaterializedViewWrite("w", Some("a"), "out")))
    val e = intercept[Planner.PlanError](Planner.plan(cyc))
    assert(e.msg.contains("cycle"))

    val noWrite = FlowGroup("p", "f", actions = Seq(
      SqlLoad("l", Some("v"), "SELECT 1")))
    assert(intercept[Planner.PlanError](Planner.plan(noWrite)).msg.contains("no write"))

    // self-contained MV needs no load
    val selfC = FlowGroup("p", "f", actions = Seq(
      MaterializedViewWrite("w", None, "out", sql = Some("SELECT 1 AS x"))))
    Planner.validate(selfC) // must not throw

    // a SINK whose action name collides with a consumed external table must
    // NOT create an edge (SinkWrite.table is just the action name) — the
    // collision previously fabricated a false cycle
    val sinkCollision = FlowGroup("p", "f", actions = Seq(
      SqlLoad("l", Some("v"), "SELECT * FROM lookup"), // external table 'lookup'
      MaterializedViewWrite("w", Some("v"), "out"),
      SinkWrite("lookup", "v", "files")))
    Planner.order(sinkCollision.actions) // must not throw

    // fan-in: a consumer of the table depends on BOTH writes
    val fanIn = Seq(
      SqlLoad("l1", Some("va"), "SELECT 1"),
      SqlLoad("l2", Some("vb"), "SELECT 2"),
      StreamingTableWrite("w1", "va", "t_fan"),
      StreamingTableWrite("w2", "vb", "t_fan"),
      SqlLoad("reader", Some("vr"), "SELECT * FROM t_fan"),
      MaterializedViewWrite("w3", Some("vr"), "out2"))
    val ordered = Planner.order(fanIn,
      a => graft.plan.DependencyAnalyzer.actionInputs(spark, a)).map(_.name)
    assert(ordered.indexOf("reader") > ordered.indexOf("w1"))
    assert(ordered.indexOf("reader") > ordered.indexOf("w2"))
  }

  test("fan-in: two flows append into one table") {
    val (runner, store, _) = freshRunner()
    Seq(1, 2).toDF("x").createOrReplaceTempView("fan_a")
    Seq(3).toDF("x").createOrReplaceTempView("fan_b")
    val yaml =
      """pipeline: p
        |flowgroup: fanin
        |actions:
        |  - name: la
        |    type: load
        |    source: {type: table, table: fan_a}
        |    target: va
        |  - name: lb
        |    type: load
        |    source: {type: table, table: fan_b}
        |    target: vb
        |  - name: wa
        |    type: write
        |    source: va
        |    write_target: {type: streaming_table, table: fan_out}
        |  - name: wb
        |    type: write
        |    source: vb
        |    write_target: {type: streaming_table, table: fan_out}
        |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("fan_out").as[Int].collect().toSet == Set(1, 2, 3))
  }
}
