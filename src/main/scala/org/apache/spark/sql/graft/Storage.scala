package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Block-storage helpers Spark keeps `private[spark]`. */
object Storage {
  /** Free `rdd`'s persisted blocks and drop it from the persistent-RDD
    * list: `RDD.unpersist` without its WARN, which every locally
    * checkpointed RDD logs ("cannot be recomputed after unpersisting")
    * even when nothing reads it again. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
