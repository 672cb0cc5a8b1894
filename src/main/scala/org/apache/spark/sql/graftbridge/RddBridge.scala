package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.unpersist` only clears CacheManager entries — a
  * `localCheckpoint`ed frame has none (its data lives as raw RDD
  * blocks behind a `LogicalRDD`), so the public API can't release it
  * and the blocks wait for the ContextCleaner's GC hook. This shim
  * unpersists the underlying RDD directly, letting iterative
  * operators free a superseded round's checkpoint deterministically.
  * No-op for any other plan shape. */
object RddBridge {
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }
}
