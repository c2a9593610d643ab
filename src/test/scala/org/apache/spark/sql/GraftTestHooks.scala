package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.CachedData

/** Test-only views of `private[spark]` state that caller-hygiene specs
  * assert on.
  */
object GraftTestHooks {

  /** The plans registered in the shared cache manager, in order. */
  def cachedPlans(s: SparkSession): Seq[LogicalPlan] = {
    val cm = s.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[CachedData]].map(_.plan)
  }

  /** Block until every posted listener event has been delivered. */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
