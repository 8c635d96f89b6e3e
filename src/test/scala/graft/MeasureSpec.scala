package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure

/** The shared measurement protocol: the reap must leave nothing cached
  * AND leave the cache usable (a raw-RDD unpersist clears the storage
  * but keeps routing the plan through a dead InMemoryRelation), and the
  * timing loop must count warm-ups, iterations and failures exactly. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh plan over `df` is answered by an InMemoryRelation whose
    * buffers are actually persisted — not a dead entry that recomputes. */
  private def servedFromCache(df: org.apache.spark.sql.DataFrame): Boolean =
    df.select(df.columns.map(org.apache.spark.sql.functions.col): _*)
      .queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }
      .exists(r => spark.sparkContext.getPersistentRDDs
        .contains(r.cacheBuilder.cachedColumnBuffers.id))

  test("reap empties the CacheManager and persisted RDDs; the same plan re-caches") {
    val df = spark.range(0, 1000).selectExpr("id", "id * 7 AS v")
    df.persist()
    df.count()
    assert(servedFromCache(df))

    Measure.reap(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    df.persist()
    df.count()
    assert(servedFromCache(df), "re-persist after reap must be served from cache")
    Measure.reap(spark)
  }

  test("a raw-RDD unpersist (the old reap) leaves a dead CacheManager entry") {
    val df = spark.range(0, 1000).selectExpr("id", "id * 11 AS v")
    df.persist()
    df.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(!spark.sharedState.cacheManager.isEmpty)
    df.persist() // "Asked to cache already cached data": a no-op
    df.count()
    assert(!servedFromCache(df))
    Measure.reap(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("run(1, 3) calls f four times and returns three samples") {
    var calls = 0
    val timed = Measure.run(1, 3) { calls += 1 }
    assert(calls == 4)
    assert(timed.samples.length == 3)
    assert(timed.secs.forall(_ >= 0.0))
  }

  test("a throwing f yields no sample and does not throw") {
    var calls = 0
    val timed = Measure.run(1, 2) {
      calls += 1
      throw new IllegalStateException("boom")
    }
    assert(calls == 3)
    assert(timed.samples.isEmpty)
  }

  test("median and the varied tag") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    def timed(secs: Double*) =
      Measure.Timed(secs.map(Measure.Sample(_, 0.0)), 0.0)
    assert(timed(1.0, 3.5).varied)
    assert(!timed(1.0, 2.9).varied)
    assert(!timed(5.0).varied)
  }
}
