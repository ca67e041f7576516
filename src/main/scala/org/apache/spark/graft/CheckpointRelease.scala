package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** `private[spark]` unpersist-by-id: frees a checkpointed RDD without the
  * warning `RDD.unpersist` logs on each call (see `Fixpoint.release`). */
object CheckpointRelease {
  def apply(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
