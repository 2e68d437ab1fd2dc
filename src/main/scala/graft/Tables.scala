package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical table access for the driver-generated testdata
  * (TESTDATA.md). All engine queries read through here so the parquet
  * scan options stay consistent (vectorized reader, pushdown on).
  *
  * The reference loads its vector table from sharded .npy files
  * (/root/reference/utils_grid_search.py:342-420); the Spark-native
  * equivalent is a columnar parquet scan with column pruning and
  * predicate pushdown handled by Catalyst.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet needs ts normalization; see eventsTsPlan
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (name == "events") {
      val (forced, toMicros) = eventsTsPlan(spark, dir)
      import org.apache.spark.sql.functions.timestamp_micros
      spark.read.schema(forced).parquet(s"$dir/$name.parquet")
        .withColumn("ts", timestamp_micros(toMicros))
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The generator has written events.ts as TIMESTAMP(NANOS) in some
    * rounds and TIMESTAMP(MICROS) in others. Reading the physical
    * INT64 directly (declared-LongType schema — the parquet reader
    * serves the raw column for either logical annotation) and
    * converting by the file's OWN unit keeps both vintages working,
    * batch and stream, with no session-timezone dependence (the raw
    * int64 is UTC micros/nanos by definition; TIMESTAMP_NTZ read the
    * default way would cast through the session zone).
    *
    * The ns -> µs step MUST be integer division: `/` on longs is
    * double division, and ~1.7e18 ns exceeds a double's 53-bit exact
    * range, so it lands up to ~256 ns off and can flip the µs
    * (observed as an off-by-one against the DuckDB oracle).
    *
    * Returns (forced read schema with ts:LONG, raw-`ts` -> µs column).
    * The inference read prices at one parquet footer fetch. */
  def eventsTsPlan(spark: SparkSession, dir: String)
      : (org.apache.spark.sql.types.StructType,
         org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, expr}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inferred = spark.read.parquet(s"$dir/events.parquet").schema
    val forced = StructType(inferred.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))
    val toMicros = inferred("ts").dataType match {
      // TIMESTAMP(NANOS) surfaces as LONG under the nanosAsLong flag
      case LongType => expr("ts div 1000")
      case _        => col("ts") // TIMESTAMP(MICROS): raw int64 IS µs
    }
    (forced, toMicros)
  }
}
