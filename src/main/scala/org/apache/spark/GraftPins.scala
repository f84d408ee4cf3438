package org.apache.spark

/** Releases pinned blocks through the call Spark's ContextCleaner makes for
  * an RDD that was garbage-collected. `RDD.unpersist` logs a WARN for every
  * locally checkpointed RDD ("its lineage has been truncated"), which for a
  * pin is the whole point, so a serving session reaping after each query
  * would log one line per pin. The call is private to Spark, hence this
  * package. */
object GraftPins {
  /** Drops the blocks of RDD `id`; false when it held none any more. */
  def release(sc: SparkContext, id: Int): Boolean =
    sc.persistentRdds.contains(id) && { sc.unpersistRDD(id, blocking = false); true }
}
