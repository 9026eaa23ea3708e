package org.apache.spark.sql.execution.streaming.state

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Closes the state-store providers a terminated streaming query left
  * loaded in this JVM. Spark keeps a provider loaded after its query ends
  * until a maintenance pass unloads it, and each HDFS-backed provider holds
  * a checksum file manager whose four-thread pool is shut down only when
  * the provider closes. A closed provider is reloaded from its checkpoint
  * files if the query restarts; checksums stay on. Providers loaded in
  * other JVMs (remote executors) are left to Spark's maintenance. It lives
  * in Spark's package to call `StateStore.removeFromLoadedProvidersAndClose`. */
object StateStoreRelease {

  def close(q: StreamingQuery): Unit = q match {
    case w: StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).toSeq
        .flatMap(_.executedPlan.collect { case op: StateStoreWriter => op })
        .foreach { op =>
          op.stateInfo.foreach { info =>
            for (p <- 0 until info.numPartitions; name <- op.stateStoreNames)
              StateStore.removeFromLoadedProvidersAndClose(StateStoreProviderId(info, p, name))
          }
        }
    case _ =>
  }
}
