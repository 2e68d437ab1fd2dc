package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded inputs of the vector workloads. Every value is a hash of
  * (seed, row id), never an RNG stream, so a seed gives the same rows at
  * any partition count, and the rows are spread evenly over the
  * partitions (`spark.range` with an explicit slice count).
  *
  * Corpus: `(vec_id BIGINT, embedding ARRAY<FLOAT>, rating DOUBLE)`, a
  * 64-dim Gaussian-mixture analog (one of 100 cluster centres plus
  * per-row noise) with ratings drawn at the reference's range
  * frequencies (`filter_config.yaml:41-47`). Queries: `(qid BIGINT,
  * q_embedding ARRAY<FLOAT>)` from the same mixture, with ids disjoint
  * from the corpus (`rows + i`). */
object Gen {
  val Dim = 64
  val Clusters = 100

  /** Rating ranges on a 1e5 grid: lower bound and rows per 1e5, at the
    * reference's frequencies (`<1.0` 83.63%, `1-2` 0.35%, `2-3` 0.42%,
    * `3-4` 2.42%, `4-5` 9.71%, `=5.0` 3.47% — the published 3.48% sums
    * to 100.01%, so the last range gives up 0.01%). */
  val RatingRanges: Seq[(Double, Int)] = Seq(
    0.0 -> 83630, 1.0 -> 350, 2.0 -> 420, 3.0 -> 2420, 4.0 -> 9710, 5.0 -> 3470)
  private val rangeEnds = RatingRanges.scanLeft(0)(_ + _._2).tail.toArray

  /** A rating filter: its Column predicate, its attribute twin (the same
    * bracket over the resident `rating` attribute) and its kept
    * fraction on the rating grid. */
  final case class Bucket(name: String, column: Column,
      attr: Double => Boolean, selectivity: Double)

  /** The reference's three filters (FIXTURES F4): low keeps `<1.0`
    * (83.63%), high keeps `>=3.0` (15.60%), mid keeps `[1.0, 3.0)`
    * (0.77%). */
  val Buckets: Seq[Bucket] = Seq(
    Bucket("low", col("rating") < 1.0, _ < 1.0, 0.8363),
    Bucket("high", col("rating") >= 3.0, _ >= 3.0, 0.1560),
    Bucket("mid", col("rating") >= 1.0 && col("rating") < 3.0,
      r => r >= 1.0 && r < 3.0, 0.0077))

  def bucket(name: String): Bucket = Buckets.find(_.name == name).get

  private def mix(z0: Long): Long = { // SplitMix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def hash(tag: Long, seed: Long, a: Long, b: Long): Long =
    mix(mix(mix(mix(tag) ^ seed) ^ a) ^ b)
  /** Uniform in [-1, 1). */
  private def unit(h: Long): Double = (h >>> 11) * TwoTo52 - 1.0
  private val TwoTo52 = java.lang.Math.scalb(1.0, -52)

  def vector(id: Long, seed: Long): Array[Float] = {
    val c = java.lang.Math.floorMod(hash(1, seed, id, 0), Clusters.toLong)
    Array.tabulate(Dim)(j =>
      (unit(hash(2, seed, c, j)) + 0.25 * unit(hash(3, seed, id, j))).toFloat)
  }

  /** A grid slot picks the range, a second hash the value inside it
    * (`=5.0` is exact). */
  def rating(id: Long, seed: Long): Double = {
    val slot = java.lang.Math.floorMod(hash(4, seed, id, 0), 100000L)
    val r = rangeEnds.indexWhere(slot < _)
    val lo = RatingRanges(r)._1
    if (lo >= 5.0) 5.0
    else lo + java.lang.Math.floorMod(hash(5, seed, id, 0), 1000L) / 1000.0 * 0.999
  }

  def corpus(spark: SparkSession, rows: Long, seed: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, rows, 1L, partitions)
      .map(id => (id.longValue, vector(id, seed), rating(id, seed)))
      .toDF("vec_id", "embedding", "rating")
  }

  /** `n` queries with ids `rows + offset ..`, disjoint from a corpus of
    * `rows` rows. */
  def queries(rows: Long, offset: Int, n: Int, seed: Long): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val id = rows + offset + i
      (id, vector(id, seed))
    }

  def queriesDf(spark: SparkSession, q: Array[(Long, Array[Float])],
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(q.toSeq, partitions))
      .toDF("qid", "q_embedding")
  }

  /** A seeded permutation of `0 until n` (Fisher–Yates), for orderings
    * that are inputs too. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val rnd = new java.util.SplittableRandom(seed)
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
