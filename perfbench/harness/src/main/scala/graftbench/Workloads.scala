package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ops.{ImporterStandardizer, Stages}
import graft.pipeline.Homologation
import graft.schema.{HeaderRules, MappingStore}
import graft.sources.OrderedScan

/** One unit of timed work: a query, or one refresh of the publish job.
  * `run` returns what run.py checks per execution (empty for queries, whose
  * results are checked once after the timed passes). */
final case class Op(name: String, run: Tracer => Map[String, Any])

object Workloads {

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** SHA-256 over the part files of a single-file CSV sink, in name order. */
  def csvFingerprint(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** A listed query: the query-building call (which may run eager jobs inside its
    * ops), then a full evaluation into the noop sink. */
  def queries(spark: SparkSession, names: Seq[String], dataDir: String): Seq[Op] = {
    val all = SparkEntry.queries
    names.map { n =>
      val fn = all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n"))
      Op(n, tr => {
        val df = tr.span("queries.build")(fn(spark, dataDir))
        tr.span("queries.exec")(noop(df))
        Map.empty
      })
    }
  }

  /** Inputs of the publish job, as written by gen_3cv.py. */
  final case class PublishInputs(dir: String) {
    val xlsx: String = s"$dir/3cv.xlsx"
    val catalog: String = s"$dir/catalog.csv"
    val store: Path = Paths.get(s"$dir/mapping_store.json")
  }

  /** Outcome of one refresh, checked against the generator's truth. */
  final case class Refresh(fingerprint: String, years: (Int, Int), notFound: Seq[String]) {
    def toMap: Map[String, Any] =
      Map("fingerprint" -> fingerprint, "years" -> Seq(years._1, years._2), "not_found" -> notFound)
  }

  /** One refresh of the paper's job, through the same public calls as
    * RunHomologation: workbook in, published CSV out, importer report. */
  def refresh(spark: SparkSession, in: PublishInputs, outCsv: String, tr: Tracer): Refresh = {
    val rules = new HeaderRules()
    tr.span("schema.store")(MappingStore.load(in.store, rules))
    val (grid, catalog) = tr.span("sources.read") {
      (OrderedScan.xlsSheets(spark, in.xlsx, 1).head, OrderedScan.csvCatalog(spark, in.catalog))
    }
    val r = tr.span("pipeline.build")(Homologation.pipeline(grid, rules, catalog))
    tr.span("sources.write") {
      OrderedScan.writeSingleCsv(Homologation.publishProjection(r.standardized), outCsv)
    }
    val (years, nf) = tr.span("pipeline.report") {
      (Homologation.yearRange(r.standardized), r.notFound.collect().map(_.getString(0)).toSeq)
    }
    r.release()
    Refresh(csvFingerprint(outCsv), years, nf.sorted)
  }

  /** Self time per layer of one decomposed refresh, plus what it published. */
  final case class Decomposed(self: Map[String, Double], gridPartitions: Int, out: Refresh)

  /** The refresh re-composed from the same public functions, in the same
    * order as `Homologation.pipeline`, with each layer's output forced
    * into the noop sink. Forcing a prefix recomputes the prefix before it,
    * so a lazy layer's self time is its span minus the forced cost of its
    * input; eager layers (the workbook parse, header identification, the
    * imputation agg) are timed by their calls. Its CSV must carry the
    * same fingerprint as the plain refresh. */
  def decompose(spark: SparkSession, in: PublishInputs, outCsv: String, tr: Tracer): Decomposed = {
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    def forced(df: DataFrame): Double = timed(noop(df))._2

    val rules = new HeaderRules()
    val (_, store) = timed(tr.span("schema.store")(MappingStore.load(in.store, rules)))
    val ((grid, catalog, fGrid), read) = timed(tr.span("sources.read") {
      val g = OrderedScan.xlsSheets(spark, in.xlsx, 1).head
      (g, OrderedScan.csvCatalog(spark, in.catalog), forced(g))
    })
    val ((headed, fHeaded), headers) = timed(tr.span("schema.headers") {
      val h = Homologation.transformHeaders(grid, rules)
      (h, forced(h))
    })
    val ((staged, df), stages) = timed(tr.span("ops.stages") {
      val chain = headed
        .transform(Stages.transformDatetime(_))
        .transform(Stages.transformCategoryCols(_, Homologation.categoryColumns))
        .transform(Stages.transformCombustible(_))
        .transform(Stages.transformCategoria(_))
        .transform(Stages.transformPbv(_))
        .transform(Stages.transformTipoLdv(_))
        .transform(Stages.rendEquiv(_))
        .transform(Stages.co2Equiv(_))
        .transform(Stages.gasesEmissions(_))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (chain, Stages.bevZeroAndImpute(chain))
    })
    val fStaged = forced(df)
    val ((r, fStd), importer) = timed(tr.span("ops.importer") {
      val res = ImporterStandardizer.standardize(df, catalog)
      (res, forced(res.standardized))
    })
    val (_, write) = timed(tr.span("sources.write") {
      OrderedScan.writeSingleCsv(Homologation.publishProjection(r.standardized), outCsv)
    })
    val ((years, nf), report) = timed(tr.span("pipeline.report") {
      (Homologation.yearRange(r.standardized), r.notFound.collect().map(_.getString(0)).toSeq)
    })
    staged.unpersist()
    val self = Map(
      "schema.store" -> store,
      "sources.read" -> read,
      "schema.headers" -> (headers - fGrid),
      "ops.stages" -> (stages - fHeaded),
      "ops.importer" -> (importer - fStaged),
      "sources.write" -> (write - fStd),
      "pipeline.report" -> report)
    Decomposed(self, grid.rdd.getNumPartitions, Refresh(csvFingerprint(outCsv), years, nf.sorted))
  }
}
