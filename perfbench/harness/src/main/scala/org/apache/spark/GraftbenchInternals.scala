// Two package-private Spark calls the benchmark needs, placed in Spark's
// own packages.

package org.apache.spark {
  object GraftbenchBus {
    /** Block until the listener bus has delivered every event posted so
      * far, so counters read after an op belong to that op. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package org.apache.spark.sql {
  object GraftbenchCache {
    /** Entries registered in the session's CacheManager. */
    def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
  }
}
