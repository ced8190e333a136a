package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge to Spark's internal `StateStore` registry, for releasing a
  * finished bounded stream's state-store providers at once instead of
  * leaving them loaded until the maintenance task's idle sweep (60 s by
  * default; each `streaming_db_upsert` run holds about 13.5 MB until
  * then). The providers live in the JVM that ran the tasks, so this
  * releases them in local mode, where executors share the driver JVM;
  * on a cluster the executors' own maintenance sweep still applies. */
object StateStoreBridge {

  /** Every provider id the query's last executed plan used: one per
    * (stateful operator, partition, store name). Empty when the query
    * never ran a batch. */
  def providerIds(q: StreamingQuery): Seq[StateStoreProviderId] =
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution).toSeq
      .flatMap { ex =>
        ex.executedPlan.collect { case op: StateStoreWriter => op }.flatMap { op =>
          val info = op.getStateInfo
          for (p <- 0 until info.numPartitions; name <- op.stateStoreNames)
            yield StateStoreProviderId(info, p, name)
        }
      }

  /** Unload and close every provider the finished query used. */
  def unload(q: StreamingQuery): Unit =
    providerIds(q).foreach(id => StateStore.removeFromLoadedProvidersAndClose(id))

  def isLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)
}
