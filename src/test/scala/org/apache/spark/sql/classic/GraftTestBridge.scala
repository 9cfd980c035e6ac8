package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test-only bridge into `private[sql]` plan construction: the plan
  * lints need to evaluate a logical Window's CHILD subtree standalone
  * (to measure partition-key NDV / feed cardinality at two scales),
  * which requires `Dataset.ofRows` on an arbitrary LogicalPlan. Lives
  * in the Spark package only in TEST sources; the shipped library has
  * no such reach-in. */
object GraftTestBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Deliver every event already posted to the listener bus, so the
    * status tracker reflects every job that has ended (`private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
