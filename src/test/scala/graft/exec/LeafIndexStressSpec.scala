package graft.exec

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier}

import graft.SparkSuite

/** Concurrency stress for the process-global leaf-view index (the r15
  * structure that replaced the per-write warehouse walk, fixed twice that
  * round for races its own review caught). N threads register tables with
  * COLLIDING leaf names while overwrites hold the writer lock mid-swap
  * (directory legitimately absent between the two renames) and drops
  * retire tables whose index entries linger. 100 interleavings pin the
  * three invariants:
  *
  *   1. no LOST ADD: an add racing the re-confirm's set replacement must
  *      land in the replacement, not the orphaned set (the compute()-only
  *      discipline);
  *   2. no BARE VIEW on an ambiguous leaf at quiescence — after a final
  *      runner-convention registration pass, two live `*.events` tables
  *      mean no short `events` view;
  *   3. no RESURRECTION: a dropped table's lingering index entry must not
  *      keep its leaf ambiguous once re-confirmed (nor may the mid-swap
  *      lock-held survivor rule misclassify a LIVE table as dropped).
  */
class LeafIndexStressSpec extends SparkSuite {
  import spark.implicits._

  test("leaf index under register/drop/swap races: no lost add, no bare ambiguous view, no resurrection") {
    val wh = Files.createTempDirectory("graft-leafstress").toString
    val store = new TableStore(spark, s"$wh/wh")
    val r1 = new PipelineRunner(spark, store, s"$wh/cp1")
    val r2 = new PipelineRunner(spark, new TableStore(spark, s"$wh/wh"), s"$wh/cp2")
    val reg = classOf[PipelineRunner]
      .getDeclaredMethod("registerTableView", classOf[String])
    reg.setAccessible(true)
    def register(r: PipelineRunner, t: String): Unit = { reg.invoke(r, t); () }
    def devDf = Seq(("dev", 1)).toDF("src", "v").repartition(1)
    def prodDf = Seq(("prod", 2)).toDF("src", "v").repartition(1)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    store.overwrite("dev.events", devDf)
    register(r1, "dev.events")

    val rounds = 100
    (1 to rounds).foreach { round =>
      val barrier = new CyclicBarrier(4)
      val done = new CountDownLatch(4)
      def worker(body: => Unit): Thread = {
        val t = new Thread(() => {
          try { barrier.await(); body }
          catch { case e: Throwable => errors.add(e): Unit }
          finally done.countDown()
        })
        t.start(); t
      }
      // t1: swap dev.events (writer lock held, dir briefly absent) then
      //     register — the lock-held survivor window
      worker { store.overwrite("dev.events", devDf); register(r1, "dev.events") }
      // t2: (re)create the colliding prod.events and register — flips the
      //     leaf ambiguous mid-round
      worker { store.overwrite("prod.events", prodDf); register(r2, "prod.events") }
      // t3: concurrent re-register of dev — the add that must never land
      //     in an orphaned set
      worker { register(r1, "dev.events") }
      // t4: retire prod (when present) then register dev — the
      //     lingering-entry re-confirm path
      worker {
        if (round % 2 == 0) {
          if (store.isTableNow("prod.events")) store.drop("prod.events")
          register(r2, "dev.events")
        } else register(r2, "dev.events")
      }
      done.await()
      // the whole cause chain with its frames: `register` goes through
      // reflection, so the first line is only InvocationTargetException
      assert(errors.isEmpty, s"round $round: worker threw: " +
        Option(errors.peek()).map { t =>
          val w = new java.io.StringWriter
          t.printStackTrace(new java.io.PrintWriter(w))
          w.toString
        }.getOrElse(""))
    }

    // ---- quiescence: runner-convention final pass, then the invariants
    def viewExists: Boolean =
      spark.catalog.tableExists("events") // temp view namespace
    // both live → ambiguous → NO bare view after a registration pass
    store.overwrite("prod.events", prodDf)
    register(r2, "prod.events")
    register(r1, "dev.events")
    assert(store.isTableNow("dev.events") && store.isTableNow("prod.events"))
    assert(!viewExists,
      "ambiguous leaf 'events' still has a bare short-name view")
    // retire prod; ONE re-register must de-ambiguate (no resurrection of
    // the dropped table through its stale index entry)
    store.drop("prod.events")
    register(r1, "dev.events")
    assert(viewExists, "leaf view not restored after ambiguity cleared")
    assert(spark.table("events").select("src").as[String].head() == "dev",
      "short view resolves to the wrong table after the drop")
  }
}
