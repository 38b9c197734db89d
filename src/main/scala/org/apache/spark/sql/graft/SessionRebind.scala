package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** Re-binds a DataFrame's logical plan to another session sharing the
  * same SparkContext.
  *
  * Lives under `org.apache.spark.sql` because `classic.Dataset.ofRows`
  * is `private[sql]` — this is the same doorway Spark's own connectors
  * use, kept to ONE function so the repo's Spark-internal surface stays
  * auditable. Used by `graft.streaming.MemoryGate` to execute gated
  * streaming runs on an isolated `newSession()` clone: the gate's
  * state-partition conf is set on the clone only, so a batch query
  * planned concurrently on the caller's session can never observe it
  * (the hazard a session-global conf swap + lock could only narrow,
  * not remove).
  *
  * A streaming file source carries the session it was read on, and
  * builds its source log from that session's conf when the query
  * starts; it is re-bound too, so the log follows the target's conf
  * (its checkpoint file manager included) like the rest of the query.
  */
object SessionRebind {
  def rebind(df: DataFrame, target: SparkSession): DataFrame =
    CDataset.ofRows(target.asInstanceOf[CSparkSession],
      df.asInstanceOf[CDataset[_]].queryExecution.logical.transform {
        case r: StreamingRelation =>
          r.copy(dataSource = r.dataSource.copy(
            sparkSession = target.asInstanceOf[CSparkSession]))
      })
}
