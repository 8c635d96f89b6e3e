package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Round-transition hash probe: prints a deterministic content hash for
  * each named gate so a rewrite can be checked bit-identical against
  * the previous implementation (run before + after, diff the lines).
  * Same canonicalization as the driver: columns sorted by name, rows
  * hashed order-independently via xor of row hashes. Timing is
  * FloorCheck's job: `runMain graft.tools.FloorCheck <sfDir> [iters] [query...]`.
  */
object HashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "p52_length_deciles", "p81_corpus_datasheet", "p115_conversion_latency",
      "p24_length_quantiles", "p53_quantiles_approx", "p50_approx_quantiles")
    val spark = Measure.session("graft-hash-probe")
    for (n <- names) {
      Measure.reap(spark)
      val df = SparkEntry.queries(n)(spark, sfDir)
      val cols = df.columns.sorted.toSeq
      val h = df
        .select(xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*).as("_h"))
        .agg(expr("bit_xor(_h)").as("s"), count(lit(1)).as("n"))
        .collect()(0)
      println(s"HASH $n rows=${h.getLong(1)} sum=${h.getLong(0)} cols=${cols.mkString(",")}")
    }
    spark.stop()
  }
}
