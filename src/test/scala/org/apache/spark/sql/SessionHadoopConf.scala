package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

/** `SessionState` is private[sql]; specs read the Hadoop conf a query of
  * the session gets, as Spark builds it for every scan and write. */
object SessionHadoopConf {
  def apply(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
