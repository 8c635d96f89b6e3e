package graft.tools

/** Standalone runner for `graft.Bench`'s scaled tier — materializes the
  * ×SCALE inputs and runs [[ScaledOps.run]] without the 330-query gate
  * suite in front of it. The dev loop for iterating on a single scaled
  * op: `SPARK_GRAFT_BENCH_SCALE_ITERS=1 sbt "runMain
  * graft.tools.ScaledTier [sfDir] [opSubstring,...]"`. */
object ScaledTier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption.map(_.split(',').toSeq.filter(_.nonEmpty))
    val spark = Measure.session("graft-scaled-tier")
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "20").toInt
    val evScale = math.max(scale / 2, 1)
    val docsPath = ScaleData.materialize(spark, sfDir, "documents", scale, Measure.cores)
    val eventsPath = ScaleData.materialize(spark, sfDir, "events", evScale, Measure.cores)
    val embPath = ScaleData.materialize(spark, sfDir, "embeddings", scale, Measure.cores)
    val ops = ScaledOps.run(spark, docsPath, eventsPath, embPath, only)
    ops.foreach { r =>
      val tag = if (r.varied) "  VARIED>3x" else ""
      println(f"[scaled-tier] ${r.name}%-22s med=${r.median}%8.3f min=${r.min}%8.3f$tag")
    }
    spark.stop()
  }
}
