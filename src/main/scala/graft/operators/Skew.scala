package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins — the manual fallback when AQE's
  * skew-join splitting isn't available (e.g. the join key histogram is
  * known ahead of time, or the skew is in an aggregation key).
  *
  * Salted join: the build side is replicated `factor` times (one copy
  * per salt value), the probe side gets a deterministic per-row salt,
  * and the join key becomes (key, salt) — a hot key's rows spread
  * across `factor` reducers instead of one. Row-level results are
  * identical to the unsalted join.
  *
  * Deterministic salt: xxhash64 of a row-identity column (NOT rand()
  * — must be stable under retries and repartitioning).
  */
object Skew {

  def withSalt(df: DataFrame, identityCol: String, factor: Int): DataFrame =
    df.withColumn("_salt",
      pmod(xxhash64(col(identityCol), lit(13)), lit(factor)).cast("int"))

  def replicated(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("_salt", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("_salt", col("_salt").cast("int"))

  /** Equi-join `large` ⋈ `small` on `key`, with the large side's hot
    * keys spread over `factor` reducers. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      identityCol: String, factor: Int,
      joinType: String = "inner"): DataFrame = {
    val l = withSalt(large, identityCol, factor)
    val s = replicated(small, factor)
    l.join(s, Seq(key, "_salt"), joinType).drop("_salt")
  }
}
