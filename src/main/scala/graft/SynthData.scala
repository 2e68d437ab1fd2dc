package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared deterministic synthetic generator for the serving profile
  * (`graft.Profile local-filtered`) — ONE definition, so the profile
  * measures the same corpus family the committed scale records used.
  * Hash-derived, no RNG: the same (n, seed params) always produce
  * byte-identical data at any partitioning. */
object SynthData {

  /** Seeded 64-dim vectors from a 1000-component Gaussian-mixture
    * analog (cluster center + small per-row noise). Real text
    * embeddings cluster (the reference's review embeddings group by
    * category / sentiment); uniform-random vectors are the degenerate
    * case where NO coarse quantizer can work (distance
    * concentration), so a mixture is the representative workload for
    * IVF recall. */
  def mixtureVectors(spark: SparkSession, rows: Long,
      idCol: String, vecCol: String,
      dim: Int = 64, nClusters: Int = 1000): DataFrame = {
    def u(h: Column) =
      pmod(h, lit(1000001L)).cast("double") / 500000.0 - 1.0
    spark.range(rows).toDF(idCol)
      .withColumn("_c", pmod(xxhash64(col(idCol), lit(11)), lit(nClusters)))
      .withColumn(vecCol,
        transform(sequence(lit(0), lit(dim - 1)),
          j => (u(xxhash64(col("_c"), j, lit(1))) +
            u(xxhash64(col(idCol), j)) * 0.25).cast("float")))
      .drop("_c")
  }
}
