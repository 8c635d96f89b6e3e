package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftbenchBus
import org.apache.spark.sql.GraftbenchCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Tables}
import graft.queries.PipelineQueries

/** The benchmark's JVM side. One workload per process:
  *
  *  1. set-up: `GraftSession.local(cores)` plus one run of the flagship
  *     dashboard query, cold, in this fresh JVM;
  *  2. a cold first pass over every op in seeded order;
  *  3. a fixed number of warm passes, each in a fresh seeded order.
  *
  * Before each op the cache is reaped (query memos, CacheManager entries,
  * persisted RDDs) and after it the census of what it left is taken; both
  * are untimed. With `--trace 1` warm passes alternate untraced and traced
  * (listeners plus spans), and the publish workload adds one decomposed
  * refresh. Everything measured goes to `<out>/harness.json`; run.py turns
  * it into metrics and checks the outputs.
  *
  * Usage: graftbench.Main <workload> <seed> <warm passes> <trace 0|1> <cores>
  *   <inputDir> <setupDir> <outDir> [query names...]
  */
object Main {
  final case class OpRec(
      id: Int, name: String, wall: Double, startMs: Long, endMs: Long,
      error: Option[String], detail: Map[String, Any], reapS: Double, cacheLeft: Int)
  final case class Pass(kind: String, traced: Boolean, ops: Seq[OpRec]) {
    def wall: Double = ops.map(_.wall).sum
  }

  /** The dashboard's flagship question (SparkEntry.entry's shape): revenue
    * and volume per year × nation, over the generated set-up tables. */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    GraftSession.tune(spark)
    val orders = Tables(spark, dir, "orders")
    val customer = Tables(spark, dir, "customer")
    val nation = Tables(spark, dir, "nation")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(year(col("o_orderdate")).as("yr"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("yr", "nation")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, passesS, traceS, coresS, inputDir, setupDir, outDir) = argv.take(8)
    val queryNames = argv.drop(8).toSeq
    val seed = seedS.toLong
    val warmPasses = passesS.toInt
    val trace = traceS == "1"
    val cores = coresS.toInt
    Files.createDirectories(Paths.get(outDir))
    val loadBefore = Host.loadAvg()

    val setup0 = System.nanoTime()
    val spark = GraftSession.local(cores, "graftbench")
    Workloads.noop(flagship(spark, setupDir))
    val setupS = (System.nanoTime() - setup0) / 1e9
    val sc = spark.sparkContext
    // bounded-input global windows are intentional in the engine; their
    // per-execution warning would drown the run's log
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)

    val publishIn = Workloads.PublishInputs(inputDir)
    val csvOut = s"$outDir/publish/datos3cv.csv"
    val ops: Seq[Op] = workload match {
      case "publish_3cv" =>
        Seq(Op("refresh", tr => Workloads.refresh(spark, publishIn, csvOut, tr).toMap))
      case _ => Workloads.queries(spark, queryNames, inputDir)
    }

    val probe = new Probe
    val untraced = new Tracer(sc, on = false)
    val traced = new Tracer(sc, on = true)
    val rng = new scala.util.Random(seed)
    var nextOp = 0

    def census(): Int =
      GraftbenchCache.entries(spark) + sc.getPersistentRDDs.size
    def reap(): Double = {
      val t0 = System.nanoTime()
      PipelineQueries.reapMemos(spark)
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (System.nanoTime() - t0) / 1e9
    }
    def runOp(op: Op, tr: Tracer): OpRec = {
      val reapS = reap()
      val id = nextOp
      nextOp += 1
      probe.currentOp = id
      tr.currentOp = id
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(tr.span("op")(op.run(tr))) catch {
        case NonFatal(e) =>
          System.err.println(s"[graftbench] ${op.name} FAILED: $e")
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (tr.on) GraftbenchBus.drain(sc)
      OpRec(id, op.name, wall, startMs, endMs, res.left.toOption,
        res.getOrElse(Map.empty), reapS, census())
    }
    def runPass(kind: String, tr: Tracer): Pass = {
      if (tr.on) { sc.addSparkListener(probe); spark.listenerManager.register(probe) }
      try Pass(kind, tr.on, rng.shuffle(ops).map(runOp(_, tr)))
      finally if (tr.on) {
        GraftbenchBus.drain(sc)
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
    }

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val jiffies0 = Host.cpuJiffies()
    val measure0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(runPass("cold", untraced))
    for (i <- 0 until warmPasses)
      passes += runPass("warm", if (trace && i % 2 == 1) traced else untraced)
    val decomposed =
      if (trace && workload == "publish_3cv") {
        reap()
        probe.currentOp = nextOp
        traced.currentOp = nextOp
        sc.addSparkListener(probe)
        try Some(Workloads.decompose(spark, publishIn, s"$outDir/publish/decomposed.csv", traced))
        finally { GraftbenchBus.drain(sc); sc.removeSparkListener(probe) }
      } else None
    val measureS = (System.nanoTime() - measure0) / 1e9
    val extCores = Host.externalCores(jiffies0, Host.cpuJiffies(), measureS)
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // untimed: every query's result once, for the oracle check in run.py
    if (workload != "publish_3cv") {
      val all = graft.SparkEntry.queries
      queryNames.foreach { n =>
        try all(n)(spark, inputDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$n")
        catch { case NonFatal(e) => System.err.println(s"[graftbench] $n result dump failed: $e") }
      }
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queryNames.contains(k) }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))
    }

    val layers =
      if (trace) Layers(workload, cores, passes.toSeq, probe, traced.spans.toSeq, decomposed,
        peakHeapMb, extCores)
      else Map.empty[String, Double]
    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> setupS,
      "passes" -> passes.map(p => Map(
        "kind" -> p.kind, "traced" -> p.traced,
        "ops" -> p.ops.map(o => Map(
          "name" -> o.name, "wall" -> o.wall, "error" -> o.error.orNull,
          "detail" -> o.detail, "cache_left" -> o.cacheLeft, "reap_s" -> o.reapS)))),
      "decomposed" -> decomposed.map(_.out.toMap).orNull,
      "layers" -> layers,
      "spans" -> traced.spans.map { s =>
        val c = probe.bySpan.getOrElse(s.id, new Counters)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_ms" -> c.taskMs)
      },
      "host" -> Map("nproc" -> cores, "load_before" -> loadBefore, "load_after" -> Host.loadAvg(),
        "ext_cores" -> extCores, "measure_s" -> measureS))
    Files.writeString(Paths.get(s"$outDir/harness.json"), Json(result))
    spark.stop()
    sys.exit(0)
  }
}

/** Per-layer metrics of a traced run; layers a workload does not exercise
  * read 0. Extensive counters are per warm pass (median over traced
  * passes); on publish_3cv a pass is one refresh. */
object Layers {
  def apply(
      workload: String, cores: Int, passes: Seq[Main.Pass], probe: Probe, spans: Seq[Span],
      decomposed: Option[Workloads.Decomposed], peakHeapMb: Double,
      extCores: Double): Map[String, Double] = {
    val warm = passes.filter(_.kind == "warm")
    val tracedPasses = warm.filter(_.traced)
    val plainOps = warm.filterNot(_.traced).flatMap(_.ops).map(_.wall)
    val tracedOps = tracedPasses.flatMap(_.ops).map(_.wall)
    val spansByOp = spans.groupBy(_.op)
    def perPass(f: Main.Pass => Double): Double = Main.median(tracedPasses.map(f))
    def counters(p: Main.Pass): Seq[Counters] = p.ops.map(o => probe.byOp.getOrElse(o.id, new Counters))
    def sumC(f: Counters => Double)(p: Main.Pass): Double = counters(p).map(f).sum
    def spanS(name: String)(p: Main.Pass): Double =
      p.ops.flatMap(o => spansByOp.getOrElse(o.id, Nil)).filter(_.name == name).map(_.seconds).sum
    val mb = 1048576.0
    val self = decomposed.map(_.self).getOrElse(Map.empty)
    val layerSelf =
      if (workload == "publish_3cv") self.values.sum
      else perPass(p => spanS("queries.build")(p) + spanS("queries.exec")(p))
    Map(
      "sources.read_s" -> perPass(spanS("sources.read")),
      "sources.grid_partitions" -> decomposed.map(_.gridPartitions.toDouble).getOrElse(0.0),
      "sources.write_s" -> perPass(spanS("sources.write")),
      "schema.headers_s" -> self.getOrElse("schema.headers", 0.0),
      "ops.stages_s" -> self.getOrElse("ops.stages", 0.0),
      "ops.importer_s" -> self.getOrElse("ops.importer", 0.0),
      "pipeline.build_s" -> perPass(spanS("pipeline.build")),
      "pipeline.report_s" -> perPass(spanS("pipeline.report")),
      "queries.build_s" -> perPass(spanS("queries.build")),
      "queries.exec_s" -> perPass(spanS("queries.exec")),
      "spark.plan_ms" -> perPass(sumC(_.planMs.toDouble)),
      "spark.jobs" -> perPass(sumC(_.jobs.toDouble)),
      "spark.stages" -> perPass(sumC(_.stages.toDouble)),
      "spark.single_task_stages" -> perPass(sumC(_.singleTaskStages.toDouble)),
      "spark.tasks" -> perPass(sumC(_.tasks.toDouble)),
      "spark.task_s" -> perPass(sumC(_.taskMs / 1000.0)),
      "spark.cpu_s" -> perPass(sumC(_.cpuNs / 1e9)),
      "spark.gc_s" -> perPass(sumC(_.gcMs / 1000.0)),
      "spark.shuffle_write_mb" -> perPass(sumC(_.shuffleWriteBytes / mb)),
      "spark.shuffle_read_mb" -> perPass(sumC(_.shuffleReadBytes / mb)),
      "spark.spill_mb" -> perPass(sumC(_.spillBytes / mb)),
      "spark.nontask_s" -> perPass(p => p.ops.map { o =>
        val c = probe.byOp.getOrElse(o.id, new Counters)
        o.wall - c.busyMs(o.startMs, o.endMs) / 1000.0
      }.sum),
      "spark.core_util" -> perPass(p => sumC(_.taskMs / 1000.0)(p) / (cores * p.wall)),
      "engine.cache_left" -> perPass(_.ops.map(_.cacheLeft.toDouble).sum),
      "engine.reap_s" -> perPass(_.ops.map(_.reapS).sum),
      "engine.peak_heap_mb" -> peakHeapMb,
      "host.ext_cores" -> extCores,
      "trace.overhead_s" -> (Main.median(tracedOps) - Main.median(plainOps)),
      "trace.accounted_share" -> layerSelf / perPass(_.wall))
  }
}

/** Host facts: load average and CPU time burnt by other processes. */
object Host {
  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** (busy jiffies of the whole box, jiffies of this process). */
  def cpuJiffies(): (Long, Long) =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val busy = cpu.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
      val self = Files.readString(Paths.get("/proc/self/stat"))
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong)
    } catch { case NonFatal(_) => (-1L, -1L) }

  /** Average cores busy in other processes over a window (USER_HZ = 100). */
  def externalCores(a: (Long, Long), b: (Long, Long), seconds: Double): Double =
    if (a._1 < 0 || b._1 < 0 || seconds <= 0) -1.0
    else math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / 100.0 / seconds)
}

/** Minimal JSON writer for the harness report. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case Some(x) => apply(x)
    case None => "null"
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
