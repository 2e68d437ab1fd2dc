package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization — reference quantization pipeline
  * (/root/reference/index_data.ipynb cell 0: `scalar.QuantizerParams
  * (quantile=0.99)` trained on a sample, then `scalar.transform`;
  * loaded via the `_scalar.npy` suffix, utils_grid_search.py:358-363).
  *
  * train: per-dimension [q_lo, q_hi] quantile bounds (A8 — posexplode
  *        + exact percentile; swap in percentile_approx at 100 TB);
  * apply: affine map to int8 with clamping (F8), floor(x+0.5) rounding
  *        so the SQL oracle rounds identically.
  */
object Quantize {

  /** (dim INT, lo DOUBLE, hi DOUBLE) per-dimension quantile bounds. */
  def train(vecs: DataFrame, quantile: Double = 0.99,
      vecCol: String = "embedding"): DataFrame = {
    val pLo = (1.0 - quantile) / 2.0
    val pHi = 1.0 - pLo
    vecs.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(
        expr(s"percentile(CAST(v AS DOUBLE), $pLo)").as("lo"),
        expr(s"percentile(CAST(v AS DOUBLE), $pHi)").as("hi"))
  }

  /** Quantize each vector to array<int8-valued int> using broadcast
    * per-dim bounds. Output (idCol, qvec ARRAY<INT> in [-128,127]). */
  def apply(vecs: DataFrame, bounds: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // bounds as two aligned arrays, broadcast as a 1-row dimension table
    val b = bounds
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("lo")))),
          s => s.getField("lo")).as("los"),
        transform(array_sort(collect_list(struct(col("dim"), col("hi")))),
          s => s.getField("hi")).as("his"))
    vecs.crossJoin(broadcast(b))
      .select(col(idCol),
        transform(col(vecCol),
          (v, i) => {
            val lo = element_at(col("los"), i + 1)
            val hi = element_at(col("his"), i + 1)
            val scaled = (v.cast("double") - lo) / (hi - lo) * 255.0 - 128.0
            greatest(lit(-128),
              least(lit(127), floor(scaled + 0.5).cast("int")))
          }).as("qvec"))
  }

  /** Mean absolute dequantization error per vector (round-trip check).
    */
  def roundTripError(vecs: DataFrame, bounds: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = apply(vecs, bounds, idCol, vecCol)
    val b = bounds
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("lo")))),
          s => s.getField("lo")).as("los"),
        transform(array_sort(collect_list(struct(col("dim"), col("hi")))),
          s => s.getField("hi")).as("his"))
    vecs.join(q, idCol).crossJoin(broadcast(b))
      .select(col(idCol),
        round(aggregate(
          transform(col(vecCol), (v, i) => {
            val lo = element_at(col("los"), i + 1)
            val hi = element_at(col("his"), i + 1)
            val dq = (element_at(col("qvec"), i + 1).cast("double") + 128.0) /
              255.0 * (hi - lo) + lo
            abs(v.cast("double") - dq)
          }),
          lit(0.0), (acc, x) => acc + x) / size(col(vecCol)), 6).as("mae"))
  }
}
