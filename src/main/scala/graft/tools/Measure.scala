package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.GraftSession

/** The one measurement protocol every timing main shares: a session from
  * [[GraftSession.local]], a full-evaluation [[sink]], the between-unit
  * [[reap]], and [[run]] — untimed warm-ups, then timed iterations. A
  * measured unit (a query, a scaled op, a floor gate) is always timed as
  * `reap(spark)` → `run(warmups, iters)`, so Bench medians, FloorCheck
  * floors and the scaled tier measure the same thing.
  */
object Measure {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Untimed runs before each unit's timed iterations. One absorbs the
    * C2/codegen warm-up slope and the unit's one-time internal cache
    * build (p134's iterations decayed 14 → 9 → 9.5 → 4.9 → 4.7 → 4.6 s
    * without it). `SPARK_GRAFT_BENCH_WARMUP=0` measures the cold first
    * iteration instead (the p134 cold-plan check). */
  val warmups: Int =
    try sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    catch { case NonFatal(_) => 1 }

  def session(app: String): SparkSession = {
    val spark = GraftSession.local(cores, app)
    // Every in-repo unpartitioned window runs over a bounded input (block
    // summaries, top-k survivors, ≤10-row header grids) — the WindowExec
    // warning is a false positive there, and dozens of repeats bury real
    // WARNs and threaten the 2,000-char stdout tail Bench's JSON line must
    // survive in. Plan hygiene is enforced by PlanSpec, not log lines.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Full evaluation: the `noop` datasource materializes every column (a
    * `.count()` would let Catalyst prune the projection and time a
    * near-empty scan). */
  def sink(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Release everything the previous unit left cached. Untimed: a real
    * cluster job gets a fresh app. localCheckpoint RDDs and op-internal
    * persists otherwise stay until the ContextCleaner notices their
    * DataFrame was GC'd, evict working memory and turn late units into
    * spill-bound outliers (p29 once measured 56 s in-suite vs 2.3 s
    * isolated).
    *
    * ORDER MATTERS. The shared query-family memos go FIRST, through their
    * DataFrame handles. Then `clearCache` drops every CacheManager entry
    * together with its storage. Only then the raw-RDD sweep, which catches
    * what no cache entry owns. Unpersisting a cached plan's RDD directly
    * clears its storage but leaks the CacheManager ENTRY: every later
    * reference routes through the dead InMemoryRelation and recomputes
    * with no re-cache (p134's iterations [44.5, 44.3, 7.1]), and the
    * stale entries pile up so every persist/lookup pays a sameResult()
    * walk (late-suite queries at 1.3–1.8× their fresh-JVM cost). Pinned
    * in MeasureSpec. */
  def reap(spark: SparkSession): Unit = {
    graft.queries.PipelineQueries.reapMemos(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** One timed iteration: wall seconds and the 1-minute loadavg at its
    * start. */
  final case class Sample(sec: Double, load: Double)

  /** A unit's successful samples, plus the average CPU cores OTHER
    * processes burned across the timed window (-1 when /proc is
    * unreadable). */
  final case class Timed(samples: Seq[Sample], extCores: Double) {
    def secs: Seq[Double] = samples.map(_.sec)

    /** max/min iteration spread > 3×: in-JVM or external interference
      * that extCores alone cannot see (GC, cache thrash, a cold memo
      * rebuild) — read the min, not the median. */
    def varied: Boolean =
      secs.length >= 2 && secs.min > 0 && secs.max / secs.min > 3.0
  }

  /** `warmups` untimed calls, then `iters` timed ones. A failing call is
    * logged under `label` and yields no sample; it never throws. */
  def run(warmups: Int, iters: Int, label: String = "[measure]")(f: => Unit): Timed = {
    (1 to warmups).foreach { _ =>
      try f catch { case NonFatal(_) => () } // the timed loop reports it
    }
    val (tb0, sj0) = cpuJiffies()
    val tq0 = System.nanoTime()
    val samples = (1 to iters).flatMap { _ =>
      val load = loadAvg()
      val t0 = System.nanoTime()
      try { f; Some(Sample((System.nanoTime() - t0) / 1e9, load)) }
      catch {
        case NonFatal(e) =>
          System.err.println(s"$label FAILED: ${e.getMessage}")
          None
      }
    }
    val (tb1, sj1) = cpuJiffies()
    val wall = (System.nanoTime() - tq0) / 1e9
    // loadavg can't carry external load: it counts this JVM's own
    // threads, so a healthy idle local[32] run reads 4-6 and any
    // loadavg cutoff mis-tags. (busy jiffies − own jiffies) / wall is
    // the cores other processes burned while the unit was timed.
    val extCores =
      if (tb0 < 0 || tb1 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((tb1 - tb0) - (sj1 - sj0)) / 100.0 / wall)
    Timed(samples, extCores)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-minute loadavg (first /proc/loadavg field); -1 when unreadable
    * (non-Linux dev box) — never throws after the units already ran. */
  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** (total busy CPU jiffies across the box, this JVM's own jiffies).
    * USER_HZ is 100 on every Linux ABI. (-1, -1) when /proc is
    * unreadable. */
  def cpuJiffies(): (Long, Long) =
    try {
      val stat = scala.io.Source.fromFile("/proc/stat")
      val line = try stat.getLines().next() finally stat.close()
      val parts = line.trim.split("\\s+").drop(1).map(_.toLong)
      // busy = everything except idle (idx 3) and iowait (idx 4)
      val busy = parts.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
      val s = try selfSrc.mkString finally selfSrc.close()
      // comm may contain spaces — fields resume after the last ')'
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong) // utime + stime
    } catch { case NonFatal(_) => (-1L, -1L) }
}
