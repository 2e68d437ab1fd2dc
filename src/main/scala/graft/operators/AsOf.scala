package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF JOIN: for each left row, the most recent right row with the
  * same key and right.ts <= left.ts (inclusive). Spark has no native
  * as-of operator; the naive lowerings are a range join (quadratic
  * blowup per key) or a per-row broadcast probe (driver-bound). The
  * scale-right lowering used here is UNION-AND-CARRY: tag both sides,
  * union them, and run ONE window over (key, ts, side) that carries
  * the latest right payload forward with last_value(ignoreNulls).
  *
  * Cost at 100 TB: exactly one shuffle (hash by key) + one sort by
  * (ts, side, tie) within each key partition — the same price as a
  * plain equi-join of the two streams; no range explosion, no state
  * beyond the window's single carried row per payload column. Skewed
  * keys degrade no worse than any keyed window (and can be salted by
  * time range if one key dominates).
  *
  * Determinism: at equal ts the right row sorts BEFORE the left row
  * (side 0 < 1 — inclusive semantics), and equal-ts right rows are
  * ordered by `rightTieCol`, so the carried row is always the one
  * with the greatest tie value. Left rows with no prior right row
  * keep null payloads (left-outer semantics).
  */
object AsOf {

  /** @param payload   right columns to carry onto left rows (emitted
    *                   as `asof_<name>`)
    * @param leftKeep  left columns to keep besides key/ts
    * @param rightTieCol deterministic pick among equal-ts right rows
    *                   (greatest value wins); must be a right column
    */
  def join(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      payload: Seq[String], leftKeep: Seq[String],
      rightTieCol: String): DataFrame = {
    require(payload.nonEmpty, "payload columns required")
    val lt = left.select((Seq(col(keyCol), col(tsCol).as("_ts"),
      lit(1).as("_side")) ++ leftKeep.map(col)): _*)
    // the payload travels as ONE struct (built on the right side only,
    // null on left rows after the union): carrying each column with
    // its own last(ignoreNulls) would blend fields from different
    // right rows whenever a payload value is genuinely null
    val rt = right.select((Seq(col(keyCol), col(tsCol).as("_ts"),
      lit(0).as("_side"), col(rightTieCol).as("_rtie"),
      struct(payload.map(col): _*).as("_payload"))): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_ts"), col("_side"), col("_rtie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lt.unionByName(rt, allowMissingColumns = true)
      .select((Seq(col(keyCol), col("_ts"), col("_side")) ++
        leftKeep.map(col) :+
        last(col("_payload"), ignoreNulls = true).over(w).as("_carried")): _*)
      .filter(col("_side") === 1)
      .select((Seq(col(keyCol), col("_ts").as(tsCol)) ++
        leftKeep.map(col) ++
        payload.map(c => col(s"_carried.$c").as(s"asof_$c"))): _*)
  }
}
