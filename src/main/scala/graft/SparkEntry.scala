package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Knn, Recall}

/** Driver contract — see SURVEY.md §7 + FIXTURES.md.
  *
  * Vector-workload conventions over the driver testdata
  * (`embeddings(vec_id, embedding[64], label)`):
  *  - query split: vec_id % 50 == 0 (the reference's seeded held-out
  *    split, cuvs_bench_grid_search_v3.py:771-779, made deterministic
  *    by predicate instead of RNG state);
  *  - data side: the complement (disjoint, J6 anti-split semantics);
  *  - label plays the role of rating for the filter configs
  *    (filter_config.yaml analogs): low = label<>3 (~88% kept),
  *    high = label IN (0,1) (~19%), mid = label=5 AND vec_id%11=0
  *    (~1% — exercises pre-filter semantics where fewer than k rows
  *    survive).
  */
object SparkEntry {

  val K = 10

  def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("q_embedding"))

  def dataDf(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 50 =!= 0)

  val filterLow: Column = col("label") =!= 3
  val filterHigh: Column = col("label").isin(0, 1)
  val filterMid: Column = col("label") === 5 && col("vec_id") % 11 === 0

  /** Flagship: filtered exact k-NN on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Knn.exact(dataDf(spark, dir).filter(filterLow),
      queriesDf(spark, dir), K)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    VectorQueries.all ++ RelationalQueries.all ++ DedupQueries.all ++
      TextQueries.all ++ CorpusQueries.all ++ AnnQueries.all ++
      IngestQueries.all ++ StreamQueries.all

  /** Drop the state the pack shares across queries — the grid sweep,
    * the ANN oracle inputs, the dedup pair sets — and every cached
    * relation, so one query's caches never subsidize the next. */
  def resetPackState(spark: SparkSession): Unit = {
    AnnQueries.clearGridCache()
    AnnQueries.clearAnnCache()
    DedupQueries.clearPairsCache()
    spark.catalog.clearCache()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    VectorQueries.oracles ++ RelationalQueries.oracles ++
      DedupQueries.oracles ++ TextQueries.oracles ++
      CorpusQueries.oracles ++ AnnQueries.oracles ++
      IngestQueries.oracles ++ StreamQueries.oracles
}

/** Vector-search query pack: exact filtered k-NN in each metric —
  * SURVEY §2.3 J1/J4, §2.8 F1-F4. */
object VectorQueries {
  import SparkEntry._

  private def knnWith(filter: Column, metric: String)(
      spark: SparkSession, dir: String): DataFrame =
    Knn.exact(dataDf(spark, dir).filter(filter),
        queriesDf(spark, dir), K, metric)
      .select(col("qid"), col("rank"), col("neighbor_id"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_exact_low" -> (knnWith(filterLow, "sqeuclidean") _),
    "knn_exact_high" -> (knnWith(filterHigh, "sqeuclidean") _),
    "knn_exact_mid" -> (knnWith(filterMid, "sqeuclidean") _),
    // the large-query-table lowering FORCED into multiple chunks
    // (~4 chunks at ANY sf — sizing off the actual query count keeps
    // the bench from degenerating into hundreds of tiny scans at
    // larger sf): per-chunk broadcast search + union must be
    // bit-identical to the one-shot path — same oracle as
    // knn_exact_low checks it
    "knn_exact_bigq" -> ((spark: SparkSession, dir: String) => {
      val qs = queriesDf(spark, dir)
      // count once; chunkedByQuery reuses it instead of re-scanning
      val nQ = qs.count()
      val perChunk = math.max(1L, (nQ + 3) / 4).toInt
      Knn.chunkedByQuery(qs, perChunk, knownCount = nQ)(
          Knn.exact(dataDf(spark, dir).filter(filterLow), _, K))
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    "knn_cosine" -> (knnWith(filterLow, "cosine") _),
    "knn_dot" -> (knnWith(filterLow, "dot") _),
    "knn_hamming" -> ((spark: SparkSession, dir: String) =>
      Knn.exactHamming(dataDf(spark, dir).filter(filterLow),
          queriesDf(spark, dir), K)
        .select(col("qid"), col("rank"), col("neighbor_id"))),
    "knn_recall_self" -> ((spark: SparkSession, dir: String) => {
      // consumed twice by the recall join — cache, don't recompute
      val found = knnWith(filterLow, "sqeuclidean")(spark, dir).cache()
      Recall.ofRanked(found, found)
    }),
    // the same search expressed through the first-class KnnJoin
    // logical operator; the .filter on qid exercises the
    // PushQueryFilterThroughKnn optimizer rule
    "knn_plan_node" -> ((spark: SparkSession, dir: String) =>
      graft.plans.KnnJoin.run(
        dataDf(spark, dir).filter(filterLow), queriesDf(spark, dir), K)
        .filter(col("qid") >= 100)
        .select(col("qid"), col("rank"), col("neighbor_id"))),
    // A2 selectivity accounting (reference popcount of the filter
    // bitset, utils_grid_search.py:171-185 — here a predicate count)
    "filter_selectivity" -> ((spark: SparkSession, dir: String) => {
      val d = dataDf(spark, dir)
      d.agg(
        count(lit(1)).as("n_total"),
        sum(when(filterLow, 1L).otherwise(0L)).as("n_low"),
        sum(when(filterHigh, 1L).otherwise(0L)).as("n_high"),
        sum(when(filterMid, 1L).otherwise(0L)).as("n_mid"))
        .select(col("n_total"), col("n_low"), col("n_high"), col("n_mid"),
          round(col("n_low") * 100.0 / col("n_total"), 6).as("pct_low"),
          round(col("n_high") * 100.0 / col("n_total"), 6).as("pct_high"),
          round(col("n_mid") * 100.0 / col("n_total"), 6).as("pct_mid"))
    }),
    // A2 literal form: materialize the filter as a PACKED BITSET
    // (vec_id bit in 32-bit words — the reference's uint32-word bitmap,
    // utils_grid_search.py:238-239) and popcount it with bit_count —
    // the Kernighan-loop count at :171-185 as one hash aggregate
    "filter_bitset_popcount" -> ((spark: SparkSession, dir: String) => {
      val d = dataDf(spark, dir)
      d.filter(filterHigh)
        .select((col("vec_id") / 32).cast("long").as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(vec_id, 32) AS INT))")
            .as("bit"))
        .groupBy(col("word_idx"))
        .agg(sum(col("bit")).as("word")) // vec_ids unique -> bits disjoint
        .agg(sum(bit_count(col("word"))).cast("long").as("n_set"),
          count(lit(1)).as("n_words"))
    }),
    // A3 probability normalization (p_i = v_i / Σv over the label
    // distribution, utils_grid_search.py:218-219)
    "label_distribution" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      Tables.load(spark, dir, "embeddings")
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy()), 6))
    }),
    // Embedding sanity check (reference embedding_test.py:44-105):
    // exact k-NN of probe docs against the doc-aligned corpus, SELF
    // EXCLUDED (the reference searches k+1 and skips the query row),
    // neighbor + probe texts joined back for human review. Fully
    // deterministic -> full DuckDB oracle.
    "knn_sanity_texts" -> ((spark: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corpus = Tables.load(spark, dir, "embeddings")
        .join(docs, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"), col("text"))
      val probes = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q_embedding"))
      // k+1 then drop self, re-rank by (dist, id) over the k survivors
      val found = Knn.exact(corpus, probes, K + 1)
        .filter(col("neighbor_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("dist"), col("neighbor_id"))).cast("long"))
        .filter(col("rank") <= K)
      found
        .join(broadcast(docs.select(col("doc_id").as("qid"),
          col("text").as("probe_text"))), "qid")
        .join(broadcast(docs.select(col("doc_id").as("neighbor_id"),
          col("text").as("neighbor_text"))), "neighbor_id")
        .select(col("qid"), col("rank"), col("neighbor_id"),
          col("probe_text"), col("neighbor_text"),
          round(col("dist"), 6).as("dist"))
    }),
    // Coarse-to-fine truncated-dim search (Matryoshka pattern): coarse
    // shortlist on the first 32 of 64 dims, exact re-rank of the 100
    // candidates at full width. Both passes deterministic -> full
    // oracle, even though the result is approximate w.r.t. knn_exact.
    "knn_truncate_refine" -> ((spark: SparkSession, dir: String) =>
      Knn.truncateRefine(dataDf(spark, dir).filter(filterLow),
          queriesDf(spark, dir), K, coarseDims = 32, nCandidates = 100)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist"))),
    // Two-stage binary serving: sign-packed hamming shortlist (the
    // 32x-smaller scan) + exact full-width re-rank of the 100
    // candidates. Hamming distances are integers and the re-rank is
    // the shared sequential-double arithmetic -> full oracle.
    "knn_binary_rerank" -> ((spark: SparkSession, dir: String) =>
      Knn.binaryRerank(dataDf(spark, dir).filter(filterLow),
          queriesDf(spark, dir), K, nCandidates = 100)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist"))),
    // Hard-negative mining: the k nearest DIFFERENT-label vectors per
    // query — queries grouped by label, one bounded-heap search per
    // label against the complement corpus; fully deterministic
    "knn_hard_negatives" -> ((spark: SparkSession, dir: String) => {
      val qs = Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      Knn.hardNegatives(dataDf(spark, dir), qs, k = 5)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist"))
    }),
    // Ranking-quality metrics beyond recall (MRR, binary-relevance
    // NDCG@10) of the deterministic coarse-to-fine search against the
    // exact oracle — both inputs deterministic, so the metric values
    // themselves are fully oracle-checkable
    "knn_rank_metrics" -> ((spark: SparkSession, dir: String) => {
      val filtered = dataDf(spark, dir).filter(filterLow)
      val qs = queriesDf(spark, dir)
      val found = Knn.truncateRefine(filtered, qs, K,
        coarseDims = 16, nCandidates = 30)
      val truth = Knn.exact(filtered, qs, K)
      Recall.rankMetrics(found, truth, K)
    }),
    // Contrastive negative sampling (embedding-training data prep):
    // 5 different-label negatives per query from a 60-row hash-ranked
    // pool — two-stage (global pool -> broadcast -> per-query rank),
    // fully deterministic -> full oracle
    "knn_negatives" -> ((spark: SparkSession, dir: String) => {
      val items = dataDf(spark, dir)
      val qs = Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("label").as("q_label"))
      graft.operators.Corpus.contrastiveNegatives(items, qs,
        m = 5, poolSize = 60)
    }),
    // P7/A9/F9: deterministic exact-count sample — seed-per-id hash
    // ranking, partition-count independent (the engine's replacement
    // for the reference's rand-shuffle bitset fill,
    // utils_grid_search.py:242-247)
    "sample_exact" -> ((spark: SparkSession, dir: String) => {
      // md5 ranking hash (not xxhash) so the oracle reproduces the
      // identical sample — same determinism, engine-portable
      Tables.load(spark, dir, "embeddings")
        .orderBy(md5(concat(col("vec_id").cast("string"), lit(":7"))),
          col("vec_id"))
        .limit(25)
        .select(col("vec_id"), col("label").cast("long").as("label"))
    })
  )

  /** Shared SQL fragments for the DuckDB oracle. The distance is
    * accumulated in double over the zipped unnest — same element order
    * as the Spark expression's sequential loop, so the doubles are
    * bit-identical and the (dist, id) ordering cannot flap. */
  private def knnOracle(dataPred: String, distExpr: String,
      desc: Boolean = false): String = {
    val dir = if (desc) "DESC" else "ASC"
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id % 50 = 0
       |), d AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  WHERE vec_id % 50 <> 0 AND ($dataPred)
       |), dist AS (
       |  SELECT q.qid, d.vec_id,
       |    (SELECT $distExpr
       |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
       |  FROM q CROSS JOIN d
       |)
       |SELECT qid, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY dst $dir, vec_id ASC) AS BIGINT) AS rank,
       |  vec_id AS neighbor_id
       |FROM dist
       |QUALIFY rank <= 10
       |ORDER BY qid, rank""".stripMargin
  }

  private val sqdist =
    "sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)) * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))"
  private val dot = "sum(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE))"
  private val cosine =
    """sum(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE)) /
      | (sqrt(sum(CAST(z.a AS DOUBLE) * CAST(z.a AS DOUBLE))) *
      |  sqrt(sum(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))))""".stripMargin
  private val hammingSign =
    "sum(CASE WHEN (z.a > 0) <> (z.b > 0) THEN 1 ELSE 0 END)"

  val oracles: Map[String, String] = Map(
    "knn_exact_low" -> knnOracle("label <> 3", sqdist),
    // the chunked lowering is bit-identical to one-shot exact search
    // (query-batch independence), so the same full oracle applies
    "knn_exact_bigq" -> knnOracle("label <> 3", sqdist),
    "knn_plan_node" ->
      knnOracle("label <> 3", sqdist)
        .replace("WHERE vec_id % 50 = 0", "WHERE vec_id % 50 = 0 AND vec_id >= 100"),
    "knn_exact_high" -> knnOracle("label IN (0, 1)", sqdist),
    "knn_exact_mid" -> knnOracle("label = 5 AND vec_id % 11 = 0", sqdist),
    "knn_cosine" -> knnOracle("label <> 3", cosine, desc = true),
    "knn_dot" -> knnOracle("label <> 3", dot, desc = true),
    "knn_hamming" -> knnOracle("label <> 3", hammingSign),
    "knn_truncate_refine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), cd AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe[1:32]) AS a,
         |           unnest(d.embedding[1:32]) AS b) z) AS cdst
         |  FROM q CROSS JOIN d
         |), cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY cdst, vec_id) AS crk FROM cd)
         |  WHERE crk <= 100
         |), fd AS (
         |  SELECT c.qid, c.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM cand c
         |  JOIN q ON q.qid = c.qid
         |  JOIN d ON d.vec_id = c.vec_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, round(dst, 6) AS dist
         |FROM fd
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // binary shortlist (sign-mismatch count = hamming over packed
    // sign bits — knn_hamming's green distance SQL) + exact re-rank:
    // the truncate_refine recipe with the coarse metric swapped
    "knn_binary_rerank" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), hd AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $hammingSign
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z)
         |      AS hdst
         |  FROM q CROSS JOIN d
         |), cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY hdst, vec_id) AS crk FROM hd)
         |  WHERE crk <= 100
         |), fd AS (
         |  SELECT c.qid, c.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM cand c
         |  JOIN q ON q.qid = c.qid
         |  JOIN d ON d.vec_id = c.vec_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, round(dst, 6) AS dist
         |FROM fd
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "knn_recall_self" ->
      """WITH q AS (SELECT count(*) AS nq FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT nq AS n_queries, 1.0 AS recall FROM q""".stripMargin,
    "knn_sanity_texts" ->
      s"""WITH c AS (
         |  SELECT e.vec_id, e.embedding, d.text
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe, text AS probe_text
         |  FROM c WHERE vec_id % 100 = 0
         |), dist AS (
         |  SELECT q.qid, c.vec_id, q.probe_text, c.text AS neighbor_text,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.embedding) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |  WHERE c.vec_id <> q.qid
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, probe_text, neighbor_text,
         |  round(dst, 6) AS dist
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "filter_selectivity" ->
      """WITH d AS (SELECT * FROM embeddings WHERE vec_id % 50 <> 0),
        |a AS (SELECT count(*) AS n_total,
        |    sum(CASE WHEN label <> 3 THEN 1 ELSE 0 END) AS n_low,
        |    sum(CASE WHEN label IN (0,1) THEN 1 ELSE 0 END) AS n_high,
        |    sum(CASE WHEN label = 5 AND vec_id % 11 = 0 THEN 1 ELSE 0 END) AS n_mid
        |  FROM d)
        |SELECT CAST(n_total AS BIGINT) AS n_total, CAST(n_low AS BIGINT) AS n_low,
        |  CAST(n_high AS BIGINT) AS n_high, CAST(n_mid AS BIGINT) AS n_mid,
        |  round(n_low * 100.0 / n_total, 6) AS pct_low,
        |  round(n_high * 100.0 / n_total, 6) AS pct_high,
        |  round(n_mid * 100.0 / n_total, 6) AS pct_mid
        |FROM a""".stripMargin,
    "label_distribution" ->
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
        |  round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS p
        |FROM embeddings GROUP BY label""".stripMargin,
    "filter_bitset_popcount" ->
      """WITH b AS (
        |  SELECT CAST(floor(vec_id / 32) AS BIGINT) AS word_idx,
        |    sum(CAST(1 AS BIGINT) << CAST(vec_id % 32 AS INTEGER)) AS word
        |  FROM embeddings
        |  WHERE vec_id % 50 <> 0 AND label IN (0, 1)
        |  GROUP BY 1)
        |SELECT CAST(sum(bit_count(word)) AS BIGINT) AS n_set,
        |  count(*) AS n_words
        |FROM b""".stripMargin,
    "sample_exact" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |ORDER BY md5(concat(CAST(vec_id AS VARCHAR), ':7')), vec_id
        |LIMIT 25""".stripMargin,
    "knn_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  WHERE vec_id % 50 <> 0
         |), dist AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM q CROSS JOIN d
         |  WHERE d.label <> q.ql
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, round(dst, 6) AS dist
         |FROM dist
         |QUALIFY rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "knn_rank_metrics" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), cd AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe[1:16]) AS a,
         |           unnest(d.embedding[1:16]) AS b) z) AS cdst
         |  FROM q CROSS JOIN d
         |), cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY cdst, vec_id) AS crk FROM cd)
         |  WHERE crk <= 30
         |), fd AS (
         |  SELECT c.qid, c.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM cand c
         |  JOIN q ON q.qid = c.qid
         |  JOIN d ON d.vec_id = c.vec_id
         |), found AS (
         |  SELECT qid, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, vec_id) AS rank,
         |    vec_id AS neighbor_id
         |  FROM fd QUALIFY rank <= 10
         |), tdist AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdist
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM q CROSS JOIN d
         |), truth AS (
         |  SELECT qid, vec_id AS neighbor_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, vec_id) AS trk FROM tdist)
         |  WHERE trk <= 10
         |), hits AS (
         |  SELECT f.qid, f.rank,
         |    CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM found f LEFT JOIN truth t
         |    ON f.qid = t.qid AND f.neighbor_id = t.neighbor_id
         |), perq AS (
         |  SELECT qid, sum(hit) / 10.0 AS q_recall,
         |    coalesce(1.0 / min(CASE WHEN hit = 1 THEN rank END), 0.0)
         |      AS q_mrr,
         |    sum(CASE WHEN hit = 1
         |        THEN 1.0 / (ln(rank + 1.0) / ln(2.0)) ELSE 0 END) /
         |      (SELECT sum(1.0 / (ln(i + 1.0) / ln(2.0)))
         |       FROM UNNEST(range(1, 11)) t(i)) AS q_ndcg
         |  FROM hits GROUP BY qid
         |), tq AS (
         |  SELECT DISTINCT qid FROM truth
         |)
         |SELECT count(*) AS n_queries,
         |  round(avg(coalesce(q_recall, 0)), 6) AS recall,
         |  round(avg(coalesce(q_mrr, 0)), 6) AS mrr,
         |  round(avg(coalesce(q_ndcg, 0)), 6) AS ndcg
         |FROM tq LEFT JOIN perq USING (qid)""".stripMargin,
    "knn_negatives" ->
      """WITH pool AS (
        |  SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl
        |  FROM embeddings WHERE vec_id % 50 <> 0
        |  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':pool'), vec_id
        |  LIMIT 60
        |), q AS (
        |  SELECT vec_id AS qid, CAST(label AS BIGINT) AS q_label
        |  FROM embeddings WHERE vec_id % 50 = 0
        |), x AS (
        |  SELECT q.qid, pool.id, pool.lbl,
        |    substr(md5(CAST(q.qid AS VARCHAR) || ':'
        |      || CAST(pool.id AS VARCHAR)), 1, 13) AS rkhex
        |  FROM q CROSS JOIN pool
        |  WHERE pool.lbl <> q.q_label
        |)
        |SELECT qid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rkhex, id) AS BIGINT) AS neg_rank,
        |  id AS neg_id, lbl AS neg_label
        |FROM x
        |QUALIFY neg_rank <= 5""".stripMargin
  )
}
