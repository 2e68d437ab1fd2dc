package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming layer.
  *
  * The reference has no true streaming (SURVEY §2.9 — its
  * `non_stop_search` loops, cuvs_bench_grid_search_v3.py:245-265, are
  * closed-loop load generators). The engine keeps the streaming
  * shapes the `stream_*` queries drive: the events file source and
  * the keyed-state twins of the batch dedup, curation and
  * sessionization operators.
  */
object StreamingOps {

  /** File-source stream over the events parquet. The declared schema
    * and the raw-ts -> µs conversion come from Tables.eventsTsPlan, so
    * the stream reads the same physical INT64 and applies the same
    * unit normalization as the batch loader — robust to the generator
    * writing TIMESTAMP(NANOS) or TIMESTAMP(MICROS) across rounds. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val (forced, toMicros) = graft.Tables.eventsTsPlan(spark, dir)
    spark.readStream
      .schema(forced)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", timestamp_micros(toMicros))
  }

  case class DedupDoc(doc_id: Long, text_hash: String)

  /** Streaming exact deduplication: keyed on the md5 content hash via
    * flatMapGroupsWithState — a document is emitted only the FIRST
    * time its hash appears anywhere in the stream (within a
    * micro-batch, the minimum doc_id wins, matching Dedup.exact's
    * keeper rule; across batches, earliest batch wins). State per
    * distinct hash is a single boolean, so the state store grows with
    * the number of DISTINCT documents, not the stream length — the
    * streaming twin of the batch hash-aggregate dedup, and the shape a
    * continuous training-data ingest pipeline needs. Append output
    * mode: emitted keepers are final, never retracted. */
  def streamingExactDedup(docs: DataFrame): Dataset[DedupDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(md5(col("text")).as("h"), col("doc_id").cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, DedupDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (h, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(DedupDoc(rows.map(_._2).min, h))
          }
      }
  }

  case class CuratedDoc(doc_id: Long, lang_pred: String, n_tokens: Long,
      quality: Double)

  /** Streaming CURATION: the batch `Corpus.curate` funnel over a
    * document stream. The quality and language gates are STATELESS —
    * the identical fused column expressions run inside each
    * micro-batch, filtering before any state — so the only stateful
    * stage is keep-one-per-content: one boolean per distinct content
    * hash, exactly as `streamingExactDedup`. Within a micro-batch the
    * minimum doc_id wins (matching the batch keeper rule); across
    * batches the earliest arrival wins — at a continuously-ingesting
    * 100 TB pipeline, arrival order IS the dedup policy. Append mode:
    * emitted keepers are final. */
  def streamingCurate(docs: DataFrame, minQuality: Double,
      langs: Seq[String]): Dataset[CuratedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val (nTokens, quality) = graft.operators.TextAnalysis.qualityCols(col("toks"))
    val (langPred, _) = graft.operators.TextAnalysis.langIdCols(col("toks"))
    val scored = docs
      .select(col("doc_id").cast("long"), md5(col("text")).as("h"),
        graft.operators.TextAnalysis.whitespaceTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("h"), nTokens.as("n_tokens"),
        quality.as("quality"), langPred.as("lang_pred"))
      .filter(col("quality") >= minQuality && col("lang_pred").isin(langs: _*))
    scored.as[(Long, String, Long, Double, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, CuratedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val r = rows.minBy(_._1)
            Iterator.single(CuratedDoc(r._1, r._5, r._3, r._4))
          }
      }
  }

  case class OpenSession(sessionIdx: Long, startUs: Long, lastUs: Long,
      n: Long)
  case class ClosedSession(user_id: Long, session_idx: Long,
      n_events: Long, start_us: Long, end_us: Long)

  /** STREAMING SESSIONIZATION — the streaming twin of
    * `Sessions.sessionize`: per-user gap-based sessions maintained in
    * keyed state, each COMPLETED session emitted exactly once (append
    * mode) when a later event opens the next session. State per user
    * is one open-session summary (4 longs) — bounded by the user
    * population, not the stream length. Events are sorted by
    * (ts_us, event_id) inside each micro-batch group, so any
    * within-batch arrival order yields the same sessions; across
    * batches, events are assumed gap-ordered per user (a production
    * deployment would add a watermark + EventTimeTimeout to close
    * idle sessions; here the final open session stays in state, which
    * is what the batch-twin spec asserts against). */
  def streamingSessionize(events: DataFrame,
      gapSec: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapSec * 1000000L
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var open = state.getOption.orNull
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { case (_, _, ts) =>
            open =
              if (open == null)
                OpenSession(1L, ts, ts, 1L)
              else if (ts - open.lastUs > gapUs) {
                closed += ClosedSession(uid, open.sessionIdx, open.n,
                  open.startUs, open.lastUs)
                OpenSession(open.sessionIdx + 1, ts, ts, 1L)
              } else
                OpenSession(open.sessionIdx, open.startUs, ts, open.n + 1L)
          }
          if (open != null) state.update(open)
          closed.result().iterator
      }
  }
}
