package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming layer.
  *
  * The reference has no true streaming (SURVEY §2.9 — its
  * `non_stop_search` loops, cuvs_bench_grid_search_v3.py:245-265, are
  * closed-loop load generators). The engine still ships the streaming
  * shapes a production query service needs:
  *
  *  - event-time windowed aggregation with a watermark (the batch
  *    twin is RelationalQueries q15 — same plan, streaming source);
  *  - stream-static join: a micro-batch query stream joined against
  *    the static (broadcast) index table — stateless lookups, no
  *    watermark needed.
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

  /** Watermarked tumbling-window counts per event type. */
  def windowedCounts(events: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-static join: each streamed query row is matched against a
    * static dimension table (index metadata, centroid table, …). */
  def streamStaticJoin(stream: DataFrame, static: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(static), key)

  case class UserState(n: Long, sum: Double)
  case class UserStats(user_id: Long, n: Long, sum_value: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running
    * (count, sum) maintained across micro-batches in the state store —
    * the arbitrary-stateful-processing shape (KeyValueGroupedDataset)
    * a production pipeline needs for sessionization/rate tracking.
    * Update-mode output: one refreshed row per user per batch. */
  def runningUserStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserStats](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n; var s = prev.sum
          rows.foreach { r => n += 1; s += r._2 }
          val next = UserState(n, s)
          state.update(next)
          UserStats(uid, next.n, next.sum)
      }
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

  case class NearDupCandidate(doc_a: Long, doc_b: Long)

  /** STREAMING MinHash-LSH near-dup detection — the streaming twin of
    * `Dedup.minhashLsh`'s candidate stage: each incoming document is
    * shingled, minhashed, and banded with the SAME expressions as the
    * batch path; the stream is keyed by (band, band_hash) and each
    * bucket's state holds the doc ids already seen there. A new doc
    * landing in a non-empty bucket emits one candidate pair per prior
    * occupant (append mode — pairs are final). The pair set over a
    * drained stream equals the batch banding's candidate set exactly
    * (pinned in StreamingSpec); a pair surfacing in several bands is
    * emitted once per band, so downstream consumers dedupe — the
    * batch path's `.distinct()` — and verify exact Jaccard against
    * the stored corpus before acting.
    *
    * State: doc ids per occupied bucket — duplicates cluster, so
    * bucket occupancy (and per-event emission) stays small on real
    * corpora; a production deployment ages buckets out with a
    * timeout. */
  def streamingNearDupCandidates(docs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 128, bands: Int = 64): Dataset[NearDupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.Dedup.shinglesOf(col("text"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.operators.Dedup.minhashSignature(col("sh"), numHashes)
          .as("sig"))
    graft.operators.Dedup.bandHashes(sig, numHashes, bands)
      .as[(Long, Int, Long)]
      .groupByKey(x => (x._2, x._3))
      .flatMapGroupsWithState[List[Long], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          var occupants = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[NearDupCandidate]
          // deterministic within-batch order: smaller ids enter first
          rows.map(_._1).toSeq.distinct.sorted.foreach { d =>
            if (!occupants.contains(d)) {
              occupants.foreach { p =>
                out += NearDupCandidate(math.min(p, d), math.max(p, d))
              }
              occupants = d :: occupants
            }
          }
          state.update(occupants)
          out.result().iterator
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

  /** Streaming index refresh: each micro-batch of new vectors is
    * assigned against the frozen centroids and appended into the
    * persisted clustered index — queries served from the index see new
    * vectors one micro-batch later. Pairs with `AnnIvf.searchPersisted`
    * for the full ingest→serve loop. */
  /** `compactEveryBatches > 0` folds the small files a long-lived
    * append stream accumulates: every N batches the cells touched
    * SINCE THE LAST FOLD (appendToIndex returns its batch's cell
    * ids — accumulated here) are handed to `compactIndex` as its
    * candidate hint, so the whole append→compact cycle stays
    * O(touched cells) with no tree walk. The state is in-memory
    * per query; after a restart the first fold simply re-discovers
    * via its own batches (missed cells are caught by any later
    * unhinted `compactIndex` run — compaction is a pure layout op). */
  def streamingIndexAppend(vectorStream: DataFrame, centroids: DataFrame,
      indexPath: String,
      supers: Option[DataFrame] = None, wSuper: Int = 4,
      compactEveryBatches: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val pending = scala.collection.mutable.Set.empty[Int]
    var batches = 0L
    vectorStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val touched = graft.operators.AnnIvf.appendToIndex(batch,
            centroids, indexPath, supers = supers, wSuper = wSuper)
          if (compactEveryBatches > 0) {
            pending ++= touched
            batches += 1
            if (batches % compactEveryBatches == 0 && pending.nonEmpty) {
              graft.operators.AnnIvf.compactIndex(batch.sparkSession,
                indexPath, cells = Some(pending.toSeq))
              pending.clear()
            }
          }
        }
        ()
      }
      .start()
  }

  /** Streaming IVF-PQ index refresh — `streamingIndexAppend` for the
    * COMPRESSED tier: each micro-batch is coarse-assigned (two-level
    * capable) and PQ-encoded against the frozen centroids/codebooks,
    * then appended into the clustered code layout. Pairs with
    * `Pq.searchPersistedAdc` for the compressed ingest→serve loop;
    * append == rebuild on the code relation (PqSpec). */
  def streamingPqAppend(vectorStream: DataFrame, centroids: DataFrame,
      cb: graft.operators.Pq.Codebook, indexPath: String,
      extraCols: Seq[String] = Nil, residual: Boolean = true,
      supers: Option[DataFrame] = None, wSuper: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectorStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Pq.appendToIndex(batch, centroids, cb, indexPath,
            extraCols = extraCols, residual = residual, supers = supers,
            wSuper = wSuper)
        ()
      }
      .start()

  /** Streaming k-NN serving shape (SURVEY §2.9's optional extension):
    * each micro-batch of query vectors is searched against the static
    * data table with the exact k-NN operator and the ranked results
    * appended to `outPath`. Stateless per-batch — no watermark needed
    * (queries are independent lookups). */
  /** Streaming RETRACTION — `streamingIndexAppend`'s inverse: each
    * micro-batch of ids is deleted from the persisted clustered
    * layout in place (touched-cell rewrite, frozen quantizer —
    * `AnnIvf.deleteFromIndex`, which also maintains the IVF-PQ code
    * table). The GDPR/takedown stream of a serving system: deletions
    * become visible to `searchPersisted` at micro-batch granularity,
    * exactly as appends do.
    *
    * CID-HINT CONTRACT (the default retraction shape): a feed whose
    * batches carry a `cid` column — or the vector column plus
    * `centroids` here, from which the frozen quantizer re-derives the
    * cell (cells are a pure function of the vector; `supers`/`wSuper`
    * must match the build, `appendToIndex`'s parity contract) — lets
    * `deleteFromIndex` read ONLY the named cells' partitions during
    * touched-cell discovery, so a localized delete costs
    * touched-fraction × corpus. An id-only feed still works but pays
    * a corpus-wide (cid, id) discovery scan PER MICRO-BATCH — at
    * serving scale that floor dominates every small batch, so plumb
    * the cid (or vector) through the retraction feed whenever the
    * upstream has it.
    *
    * SHORTFALL SAFETY: a wrong hint (centroids/supers/wSuper not
    * matching the build, or a stale caller-provided cid) would make
    * the hinted discovery silently SKIP rows that are still in the
    * index — for the GDPR/takedown use case an undetected under-
    * delete is the one unacceptable failure. So every hinted batch
    * checks `deleteFromIndex`'s return count against the batch's id
    * count; on shortfall, `strict = true` (the default) re-runs the
    * batch UNHINTED — the corpus-wide discovery scan, paid only on
    * shortfall batches — making the hint a pure optimization, never a
    * correctness risk. Feeds where absent ids are routine (retraction
    * requests for never-indexed rows) can set `strict = false` to
    * keep the hint's cost profile; shortfalls are then logged
    * ("[graft] streamingIndexDelete shortfall …") for audit. */
  def streamingIndexDelete(idStream: DataFrame, indexPath: String,
      idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      vecCol: String = "embedding",
      supers: Option[DataFrame] = None, wSuper: Int = 4,
      strict: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    idStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val hinted =
            if (batch.columns.contains("cid")) batch
            else if (centroids.isDefined && batch.columns.contains(vecCol))
              supers.fold(
                graft.operators.AnnIvf.index(batch, centroids.get,
                  idCol, vecCol))(sup =>
                graft.operators.AnnIvf.indexTwoLevel(batch, sup,
                  centroids.get, idCol, vecCol, wSuper))
            else batch
          val isHinted = hinted.columns.contains("cid")
          // the guard compares DISTINCT ids matched, not rows deleted:
          // the index can hold several rows per id (appendToIndex
          // never dedupes), so a row count equal to the batch size
          // does not prove every id was found — a batch where one id
          // had 2 index rows would mask another id a bad hint missed
          val (deleted, idsMatched) =
            graft.operators.AnnIvf.deleteFromIndexDetailed(
              batch.sparkSession, indexPath, hinted, idCol)
          if (isHinted) {
            val nIds = batch.select(col(idCol)).distinct().count()
            if (idsMatched < nIds) {
              if (strict) {
                val (extra, extraIds) =
                  graft.operators.AnnIvf.deleteFromIndexDetailed(
                    batch.sparkSession, indexPath,
                    batch.select(col(idCol)), idCol)
                if (extra > 0)
                  println(s"[graft] streamingIndexDelete shortfall: " +
                    s"hinted pass matched $idsMatched of $nIds ids " +
                    s"($deleted rows); unhinted fallback matched " +
                    s"$extraIds more ids ($extra rows) — the cid hint " +
                    "does not match the build (check centroids/" +
                    "supers/wSuper parity)")
              } else {
                println(s"[graft] streamingIndexDelete shortfall: " +
                  s"matched $idsMatched of $nIds hinted ids " +
                  s"($deleted rows; strict=false — absent ids are " +
                  "expected on this feed, but a hint/build mismatch " +
                  "would look identical; audit if unexpected)")
              }
            }
          }
        }
        ()
      }
      .start()

  /** Streaming retraction, TOMBSTONE mode — for UNIFORM-SPREAD
    * deletion feeds (GDPR requests arrive for random users, so every
    * micro-batch touches ~all cells and the eager rewrite pays a
    * near-full pass per batch — measured 22.5 s at 5M/2048 cells).
    * Each batch appends its ids to the index's tombstone side-table —
    * O(batch), independent of cell spread — and becomes invisible to
    * `searchPersisted`/`searchPersistedShuffled` at micro-batch
    * granularity exactly like the eager path (serve-time anti-join,
    * `honorTombstones` default). The physical rows fold out at the
    * next `AnnIvf.foldTombstones` / unhinted `compactIndex`, where
    * the full pass is amortized over every batch in between. Use
    * `streamingIndexDelete` instead when batches cluster in few cells
    * (its hinted rewrite is O(touched) and keeps the layout clean).
    *
    * RESIDENT tiers are epoch snapshots and do NOT observe the
    * side-table automatically: a serving loop alongside this feed
    * must refresh its mask between batches
    * (`Serving.Artifacts.refreshTombstones` or
    * `AnnIvf.tombstoneIds` into the serve calls' `tombstones`
    * argument) — zero re-decode, one side-table read. */
  def streamingIndexTombstone(idStream: DataFrame, indexPath: String,
      idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    idStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.AnnIvf.tombstone(batch.sparkSession, indexPath,
            batch, idCol)
        ()
      }
      .start()

  def streamingKnn(queryStream: DataFrame, staticData: DataFrame,
      k: Int, outPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Knn.exact(staticData, batch, k)
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()
}
