package graft.exec

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.config.YamlConfig

/** The stream-start seam ([[StreamTuning.drain]]) and its partition
  * policy: only stateful plans derive, the derived value reaches the
  * stream (pinned in its offset log) without ever being visible on the
  * shared session, and a source too large to list keeps the session
  * value. */
class StreamTuningSpec extends SparkSuite {
  import spark.implicits._

  private val Key = "spark.sql.shuffle.partitions"

  /** The shuffle partition count the stream pinned in `offsets/0`. */
  private def pinnedPartitions(checkpoint: String): Option[String] = {
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get(checkpoint, "offsets", "0")), "UTF-8")
    s""""${java.util.regex.Pattern.quote(Key)}":"(\\d+)"""".r
      .findFirstMatchIn(text).map(_.group(1))
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  test("a source past the listing cap keeps the session value, never 1 partition") {
    val dir = Files.createTempDirectory("graft-st-cap")
    try {
      (0 to StreamTuning.MaxListedFiles).foreach(i =>
        Files.createFile(dir.resolve(f"part-$i%05d.csv")))
      val df = spark.readStream.schema("v STRING").csv(dir.toString)
        .groupBy().count()
      assert(StreamTuning.derivePartitions(df).isEmpty)
    } finally deleteTree(dir)
  }

  test("derived streams never show their value on the shared session; offsets/0 records it") {
    val session = spark.conf.get(Key)
    val dir = Files.createTempDirectory("graft-st-conc").toString
    Seq("a", "b", "a").toDF("k").write.json(s"$dir/src")
    val df = spark.readStream.schema("k STRING").json(s"$dir/src")
      .groupBy("k").count()
    val derived = StreamTuning.derivePartitions(df)
    assert(derived.contains(1) && session != "1",
      s"a small stateful source must derive below the session's $session")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var done = false
    val poller = new Thread(() => while (!done) seen.add(spark.conf.get(Key)))
    poller.start()
    try (1 to 4).foreach(i =>
      StreamTuning.drain(df, s"$dir/cp$i")(_.outputMode("complete").format("noop")))
    finally { done = true; poller.join() }
    assert(seen.asScala.toSet == Set(session),
      "the derived value leaked into the shared session's conf")
    (1 to 4).foreach(i => assert(pinnedPartitions(s"$dir/cp$i").contains("1")))
  }

  test("stateless runner streams keep the session value; a stateful one derives") {
    val session = spark.conf.get(Key)
    val dir = Files.createTempDirectory("graft-st-runner").toString
    val store = new TableStore(spark, s"$dir/warehouse")
    val runner = new PipelineRunner(spark, store, s"$dir/checkpoints")
    Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v").write.json(s"$dir/land")
    val yaml =
      s"""pipeline: p
         |flowgroup: fg
         |actions:
         |  - name: load
         |    type: load
         |    source:
         |      type: cloudfiles
         |      path: $dir/land
         |      format: json
         |      readMode: stream
         |      table_schema: "id BIGINT, seq BIGINT, v STRING"
         |    target: v_in
         |  - name: append
         |    type: write
         |    source: v_in
         |    write_target: {type: streaming_table, table: appended}
         |  - name: merge
         |    type: write
         |    source: v_in
         |    write_target: {type: streaming_table, table: merged}
         |    cdc_config: {keys: [id], sequence_by: seq, scd_type: 1}
         |  - name: agg
         |    type: write
         |    sql: "SELECT v, count(*) AS n FROM v_in GROUP BY v"
         |    write_target: {type: materialized_view, table: counted, mode: incremental}
         |""".stripMargin
    runner.run(YamlConfig.parseFlowGroup(yaml))
    assert(store.read("appended").count() == 2 && store.read("merged").count() == 2)
    def pinned(action: String) = pinnedPartitions(s"$dir/checkpoints/p/fg/$action")
    assert(pinned("append").contains(session))
    assert(pinned("merge").contains(session))
    assert(pinned("agg").contains("1"))
    assert(spark.conf.get(Key) == session)
  }
}
