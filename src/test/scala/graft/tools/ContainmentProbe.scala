package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Root-cause probe for the ×20 `containment` runtime spread (round-13
  * verdict: 11.6 / 57.7 / 18.9 / 171.6 s across four runs with
  * identical output fingerprints). Runs [[graft.ops.Dedup.containmentPairs]]
  * at ×`SPARK_GRAFT_BENCH_SCALE` (default 20) for N iterations and
  * prints, per iteration: wall seconds, GC-time delta, and the FINAL
  * (post-AQE) physical plan's join/skew markers — so a plan flip, a GC
  * storm, or an external-load artifact each leave a distinct signature.
  * Test scope on purpose: a measurement harness, not shipped surface.
  *
  * `sbt "Test/runMain graft.tools.ContainmentProbe [sfDir] [iters]"` */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = Measure.session("graft-containment-probe")
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "20").toInt
    val docsPath = ScaleData.materialize(spark, sfDir, "documents", scale, Measure.cores)
    val docs = spark.read.parquet(docsPath)

    def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    def heapUsedMb(): Long =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20

    // stage-level accounting: separates "same work, slower clock"
    // (straggler/scheduling) from "more work" (spill, recompute)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.add((sc.stageInfo.stageId, m.executorRunTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.fetchWaitTime, m.executorCpuTime / 1000000L))
      }
    })

    (1 to iters).foreach { i =>
      Measure.reap(spark)
      val df = graft.ops.Dedup.containmentPairs(docs, shingleSize = 3,
        thresholdMicro = 900000L, dfCeiling = Some(100L),
        dfCeilingFraction = Some(0.02))
      val qe = df.queryExecution
      val gc0 = gcMillis(); val h0 = heapUsedMb(); val t0 = System.nanoTime()
      // execute through the plan (not a writer) so qe.executedPlan IS
      // the final adaptive plan afterwards
      val n = qe.executedPlan.execute()
        .mapPartitions(it => Iterator.single(it.size.toLong)).treeReduce(_ + _)
      val sec = (System.nanoTime() - t0) / 1e9
      val gcd = gcMillis() - gc0
      val p = qe.executedPlan.toString
      def c(m: String) = p.sliding(m.length).count(_ == m)
      val skews = p.linesIterator.count(_.contains("isSkew=true"))
      // drain this iteration's stage records
      var runMs = 0L; var cpuMs = 0L; var spill = 0L; var fetchMs = 0L
      var worst = (0, 0L)
      while (!stages.isEmpty) {
        val (sid, r, sp, fw, cpu) = stages.poll()
        runMs += r; cpuMs += cpu; spill += sp; fetchMs += fw
        if (r > worst._2) worst = (sid, r)
      }
      println(f"[probe] iter=$i sec=$sec%7.2f rows=$n gc_ms=$gcd heap0_mb=$h0 " +
        s"SMJ=${c("SortMergeJoin")} SHJ=${c("ShuffledHashJoin")} " +
        s"BHJ=${c("BroadcastHashJoin")} skewParts=$skews " +
        s"execRun_s=${runMs / 1000} execCpu_s=${cpuMs / 1000} " +
        s"spill_mb=${spill >> 20} fetchWait_ms=$fetchMs " +
        s"worstStage=${worst._1}:${worst._2 / 1000}s " +
        s"planHash=${p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "").hashCode}")
    }
    spark.stop()
  }
}
