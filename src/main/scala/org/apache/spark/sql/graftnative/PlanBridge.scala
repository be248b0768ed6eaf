package org.apache.spark.sql.graftnative

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{classic, DataFrame, SparkSession}

/** Logical-plan → DataFrame bridge.
  *
  * The engine's dedup-bearing MV maintenance (PipelineRunner) detects a
  * top-level `Distinct`/`Deduplicate` on the MV's analyzed plan and
  * executes the UNDER-dedup child as the stream (the dedup itself is
  * maintained by per-batch anti-join against the MV table, so no
  * data-sized streaming state exists). Rebuilding a Dataset from that
  * child plan needs `Dataset.ofRows`, which is `private[sql]` — hence
  * this bridge under `org.apache.spark.sql`, the same extension-library
  * pattern as [[ArrayMathExpressions]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s analyzed plan rebound onto a clone of its session with `key`
    * set to `value` on the clone only (`cloneSession` is `private[sql]`).
    * A stream started from the result takes its session conf from the
    * clone, and the original session's conf is never written. */
  def onClonedSession(df: DataFrame, key: String, value: String): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    clone.conf.set(key, value)
    ofRows(clone, df.queryExecution.analyzed)
  }
}
