package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** Session factory and Tables loading details. Every session comes from
  * [[graft.engine.GraftSession]] (one set of engine confs), and the
  * nanos→micros timestamp conversion must be integral division — epoch
  * nanos exceed the 52-bit double mantissa, so a double divide can land
  * a full microsecond off. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nanosToTimestampMicros is exact above 2^53 ns (integral division)") {
    // 1700000000000000896 / 1000 = 1700000000000000, but the double
    // formulation rounds up to ...001 — prove the hazard is real, then
    // that the conversion avoids it
    val hazard = 1700000000000000896L
    assert((hazard.toDouble / 1000.0).toLong != hazard / 1000L)

    val nanos = Seq(hazard, 0L, 999L, 1000L, 1001L,
      1699999999999999999L, 1700000000000001024L,
      // pre-1970: conversion must FLOOR (round toward -∞), not truncate
      -1L, -999L, -1000L, -1001L, -1500L)
    val got = nanos.toDF("ts")
      .withColumn("ts", Tables.nanosToTimestampMicros("ts"))
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(got == nanos.map(n => Math.floorDiv(n, 1000L)))
  }

  test("events table surfaces ts as a microsecond timestamp") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.select(min(col("ts"))).first().getTimestamp(0) != null)
  }

  test("GraftSession.local is the only SparkSession builder under src/") {
    val builder = "SparkSession\\s*\\.\\s*builder\\s*\\(".r
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val root = java.nio.file.Paths.get("src")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.filterNot(_.endsWith("engine/Session.scala")).filter { f =>
      val code = comments.replaceAllIn(java.nio.file.Files.readString(f), "")
      builder.findFirstIn(code).nonEmpty
    }
    assert(offenders.isEmpty,
      s"build sessions with graft.tools.Measure.session or GraftSession.local: ${offenders.mkString(", ")}")
  }

  test("the test session carries the engine confs and optimizer rule") {
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.experimental.extraOptimizations
      .contains(graft.functions.SimilarityLengthPruning))
  }
}
