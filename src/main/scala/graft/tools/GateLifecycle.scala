package graft.tools

/** Gate-scaffolding time accumulator for the bench: composition and
  * streaming gates spend much of their wall clock on lifecycle — child-JVM
  * boot (c15's crash-forge), streaming-query startup/checkpoint-recovery/
  * trigger-polling/teardown (every `runner.run` with a stream inside:
  * q58–q65, c14/c15-class), gate preamble setup — not on query plans.
  * All of it records here: the child-JVM spawn explicitly (Extras c15),
  * every run-to-completion stream via [[awaitStream]] (wall minus Spark's
  * own triggerExecution work; `graft.exec.StreamTuning.drain` calls it
  * for every engine stream), and the gate preamble
  * via [[timed]]. [[graft.Bench]] drains the accumulator around every
  * timed execution and reports `plan_cost` (total minus scaffolding)
  * beside `total` in the contract line — so a lifecycle-heavy gate cannot
  * mask a real engine drift, and a lifecycle drift cannot masquerade as
  * one. Thread-safe (streams/hooks may record from worker threads); nanos
  * internally so concurrent adds never lose fractions. */
object GateLifecycle {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Record `sec` seconds of gate scaffolding (JVM spawn, session boot). */
  def add(sec: Double): Unit = { acc.addAndGet((sec * 1e9).toLong); () }
  /** Return and reset the accumulated seconds. */
  def drainSec(): Double = acc.getAndSet(0L) / 1e9

  /** Time `body` (gate preamble work: temp-warehouse dirs, store/runner
    * construction) and record its whole wall as scaffolding. */
  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add((System.nanoTime() - t0) / 1e9)
  }

  /** Run a just-started streaming query to termination and attribute its
    * NON-WORK wall as lifecycle: wall(start→termination) minus the sum of
    * the query's `triggerExecution` durations. triggerExecution is
    * Spark's own per-trigger wall (source getBatch, planning, addBatch,
    * offset/commit WAL) — the engine's plan + exactly-once cost, which
    * stays inside plan_cost; what's left is checkpoint recovery, trigger
    * polling gaps, and stop/teardown — the per-run streaming lifecycle
    * the r15 audit showed still riding inside plan_cost for q58–q65/c14/
    * c15-class gates. `start` is BY NAME so the synchronous slice of
    * query startup (plan analysis, the initialization latch) lands in
    * the measured window too. Recording happens in a `finally`: a failed
    * query's lifecycle still attributes (Bench caps the drain at the
    * measured gate time, so over-attribution cannot go negative).
    * recentProgress holds the last 100 trigger updates (Spark default) —
    * gate streams run far fewer triggers per query. */
  def awaitStream(
      start: => org.apache.spark.sql.streaming.StreamingQuery,
      await: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _.awaitTermination()): Unit = {
    val t0 = System.nanoTime()
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try { q = start; await(q) }
    finally if (q != null) {
      val wall = (System.nanoTime() - t0) / 1e9
      val work = q.recentProgress.iterator.map { p =>
        Option(p.durationMs.get("triggerExecution"))
          .fold(0.0)(_.toDouble / 1000.0)
      }.sum
      add(math.max(0.0, wall - work))
    }
  }
}
