package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loading for the graft engine.
  *
  * Settings chosen for the local[32] harness but scale-minded: shuffle
  * partitions sized to cores (not the 200 default), AQE on so skewed
  * shuffles re-plan at runtime, broadcast threshold left at default so
  * dimension tables (nation/region/catalogs) broadcast automatically.
  * Non-ANSI cast semantics match the reference's coerce-to-null casts
  * (pd.to_numeric(errors="coerce"), /root/reference/src/transform_pipeline.py:52).
  */
object GraftSession {
  /** The one session builder: master, app, shuffle partitions sized to
    * cores, warehouse and UI here; every engine conf comes from [[tune]]
    * so the two paths cannot drift. */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Apply engine-required runtime confs to an externally-created session
    * (the driver may hand us its own). Only session-mutable confs here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // parquet TIMESTAMP(isAdjustedToUTC=false) loads as TIMESTAMP_LTZ
    // (wall clock = session UTC ⇒ same epoch micros DuckDB sees), not
    // TIMESTAMP_NTZ — unix_micros & friends require LTZ, and every
    // oracle compares epoch values under UTC
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    graft.functions.GraftOptimizations.install(spark)
    spark
  }
}

/** Parquet table loader for the synthetic star schema (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Epoch-nanos long → microsecond timestamp. MUST be integral: a double
    * divide carries only 52 mantissa bits, and epoch nanos (~1.7e18)
    * exceed 2^53, so `(ts / 1000.0).toLong` can land 1 µs off (e.g.
    * 1700000000000000896 ns → 1700000000000001 µs instead of
    * 1700000000000000). And it must be FLOOR division, not `div`'s
    * truncation, so pre-1970 nanos round toward -∞ like every ns→µs
    * timestamp conversion does. Pinned in SessionSpec. */
  def nanosToTimestampMicros(nanosCol: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.expr(
        s"(`$nanosCol` div 1000) - (CASE WHEN `$nanosCol` < 0 AND `$nanosCol` % 1000 != 0 THEN 1 ELSE 0 END)"))

  /** Normalize an events-shaped frame's `ts` to TIMESTAMP_LTZ whatever
    * the parquet encoding was: legacy nanos-long → micros timestamp,
    * TIMESTAMP_NTZ → LTZ cast (wall clock = session UTC, identical
    * epoch micros), already-LTZ → untouched. Works on streaming
    * DataFrames too (pure column expressions). */
  def normalizeEventsTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol, nanosToTimestampMicros(tsCol))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          df(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS) — Spark reads it as a long
    // (spark.sql.legacy.parquet.nanosAsLong); surface it as a proper
    // microsecond timestamp so date/window functions apply.
    val tsFixed =
      if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", nanosToTimestampMicros("ts"))
      else df
    // Defensive: if this session was created without our parquet confs
    // (inferTimestampNTZ left on), naive parquet timestamps arrive as
    // TIMESTAMP_NTZ — cast to LTZ (wall clock = session UTC, identical
    // epoch micros) so unix_micros/window paths behave the same.
    tsFixed.schema.fields.foldLeft(tsFixed) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name,
          d(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }

  /** Register every table as a temp view named after the file. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
