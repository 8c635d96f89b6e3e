package graft.tools

import scala.util.control.NonFatal

import graft.SparkEntry

/** Idle floors for bench adjudication (SCALING.md "Pinned idle
  * floors"): times each gate under [[Measure]]'s protocol (reap → warm-up
  * → `iters`) and prints ONE JSON line with every iteration and the
  * floor (min) per gate — the instrument that replaces load-contaminated
  * in-suite per-gate numbers as regression evidence.
  *
  * `runMain graft.tools.FloorCheck <sfDir> [iters] [query...]` — with no
  * query names it checks the [[Pinned]] gates and adds `pinned`/`ratio`
  * per gate; named queries that are not pinned get floors only. The
  * floors are pinned at sf0.1, local[32]; run anything else and the
  * ratios are meaningless. The JSON carries /proc/loadavg stamps:
  * `load_before` above ~2 means the box was NOT idle — rerun, don't pin.
  * (`load_after` rises to tens naturally: the local[32] run itself is
  * the load.)
  */
object FloorCheck {

  /** gate -> pinned idle floor seconds (SCALING.md round-18
    * OPTIMIZATION restamp: min of 5 idle iterations at sf0.1,
    * local[32], load_before 0.82 — update this constant and the
    * SCALING.md table TOGETHER). Measured under the older protocol
    * (no reap, no warm-up, caches kept across iterations); not yet
    * re-pinned under [[Measure]]'s. */
  val Pinned: Seq[(String, Double)] = Seq(
    "p134_triangles" -> 3.47,
    "p145_bfs" -> 0.62,
    "p142_ppr" -> 2.44,
    "p131_pagerank" -> 2.23,
    "p240_kcore" -> 0.88,
    "p01_hom_pipeline" -> 1.42)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val (iters, named) = args.drop(1).toSeq match {
      case n +: rest if n.nonEmpty && n.forall(_.isDigit) => (n.toInt, rest)
      case rest => (4, rest)
    }
    val pins = Pinned.toMap
    val names = if (named.nonEmpty) named else Pinned.map(_._1)
    val spark = Measure.session("graft-floor-check")
    val loadBefore = Measure.loadAvg()
    try Measure.sink(SparkEntry.entry(spark))
    catch { case NonFatal(e) => System.err.println(s"[floor] warmup failed: ${e.getMessage}") }
    val rows = names.map { name =>
      Measure.reap(spark)
      val ts = Measure.run(Measure.warmups, iters, s"[floor] $name") {
        Measure.sink(SparkEntry.queries(name)(spark, sfDir))
      }.secs
      val floor = if (ts.isEmpty) -1.0 else ts.min
      val vs = pins.get(name).filter(_ => floor > 0).fold("") { p =>
        f""",\"pinned\":$p%.2f,\"ratio\":${floor / p}%.2f"""
      }
      f"""\"$name\":{\"iters\":[${ts.map(t => f"$t%.2f").mkString(",")}],""" +
        f"""\"floor\":$floor%.2f$vs}"""
    }
    val loadAfter = Measure.loadAvg()
    println(s"""{"metric":"floor_check","sf_dir":"$sfDir","iters":$iters,"warmup":${Measure.warmups},""" +
      f""""load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,""" +
      s""""gates":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
