package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache manager, whose entry count is
  * private[sql]. Lives in an org.apache.spark subpackage solely for
  * access; contains no Spark-derived code.
  */
object CacheBridge {

  /** Datasets currently registered with the session's cache manager. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
