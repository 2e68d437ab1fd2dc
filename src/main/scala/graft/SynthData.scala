package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared deterministic synthetic generators for the scale benches and
  * serving profiles (ScaleBench / DedupScaleBench / the Profile* scale
  * points) — ONE definition each, so a profile can never silently
  * drift from the corpus of the bench it triages. Hash-derived, no
  * RNG: the same (n, seed params) always produce byte-identical data
  * at any partitioning. */
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

  /** Planted-duplicate document corpus: docs come in groups of 10;
    * id ≡ 8 (mod 10) is an EXACT copy of its group leader (id ≡ 0),
    * id ≡ 9 is a NEAR-DUP mutation of the leader (~5% of tokens
    * swapped → 3-shingle Jaccard ≈ 0.75), the other seven unique —
    * so exact-dup groups = n/10 and every group contributes LSH pairs
    * among {leader, copy, mutant}, making detection verifiable while
    * wall-clock measures the real shapes. Output: (doc_id, text),
    * ~50-70 tokens per doc. */
  def plantedDocs(spark: SparkSession, n: Long,
      vocab: Int = 50000): DataFrame = {
    val leader = (col("doc_id") / 10).cast("long") * 10
    val role = pmod(col("doc_id"), lit(10)) // 8 = copy, 9 = mutant
    val len = (pmod(xxhash64(leader, lit(1)), lit(21)) + 50).cast("int")
    def tok(seed: Column, j: Column) =
      concat(lit("w"), pmod(xxhash64(seed, j, lit(3)), lit(vocab)))
    spark.range(n).toDF("doc_id")
      .withColumn("text", array_join(
        transform(sequence(lit(0), len - 1), j =>
          when(role === 9 &&
              pmod(xxhash64(col("doc_id"), j, lit(5)), lit(20)) === 0,
            tok(col("doc_id"), j + 1000000))
            .otherwise(tok(when(role >= 8, leader).otherwise(col("doc_id")), j))),
        " "))
  }
}
