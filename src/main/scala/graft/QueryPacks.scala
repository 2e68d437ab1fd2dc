package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Dedup query pack over `documents` — exact, n-gram Jaccard,
  * MinHash-LSH, SimHash, embedding-cosine (training-data pipeline
  * operators). */
object DedupQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** One jaccard pair relation per (session, dir):
    * `dedup_ngram_jaccard` reports it and `dedup_clusters` closes it
    * transitively — the pipeline shape at scale computes the pair
    * relation once for both consumers (same sharing contract as the
    * grid and ann packs; Bench drops it at every group boundary). */
  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def clearPairsCache(): Unit = {
    pairsCache.values.foreach(_.unpersist(blocking = false))
    pairsCache.clear()
  }

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate((s, d), {
      // trigram shingles (bigrams are shared by hundreds of docs under
      // a small vocabulary and degenerate toward all-pairs), lowered
      // adaptively: the plain common-shingle count join when the
      // estimated pair volume is modest (this corpus — frequencies are
      // near-uniform, so prefix filtering prunes little but its verify
      // carries full shingle arrays per candidate), the prefix-filtered
      // AllPairs join when hot shingles blow the volume up (100-TB
      // regime). Both lowerings are exact and oracle-identical.
      val p = Dedup.ngramJaccardAuto(docs(s, d), n = 3, threshold = 0.4)
        .cache()
      p.count()
      p
    })

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => jaccardPairs(s, d)),
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(docs(s, d), shingleN = 3, threshold = 0.5)),
    // the 100-TB LSH workflow: the signature table parquet-persisted
    // ONCE, then banded + verified from disk (read-back signatures are
    // array<bigint> with nullable elements — the exact shape the
    // LshBandHashes analysis rule must accept). Output contract:
    // identical pairs to dedup_minhash_lsh, so the same exact-jaccard
    // oracle checks the whole persist -> band -> verify loop
    "dedup_lsh_persist" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_lsh_sigs").toString
      Dedup.signatureTable(docs(s, d), shingleN = 3)
        .write.mode("overwrite").parquet(dir)
      Dedup.minhashLshFromSignatures(docs(s, d), s.read.parquet(dir),
        shingleN = 3, threshold = 0.5)
    }),
    // portable md5-based fingerprints so the DuckDB oracle reproduces
    // the exact bits; the native xxhash SimHash64 expression (hot path)
    // is benched by the *_native queries below and spec'd in PipelineSpec
    "dedup_simhash" -> ((s, d) => Dedup.simhashPortable(docs(s, d))),
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairsPortable(docs(s, d), maxHamming = 3)),
    // the production fingerprint path (one-pass native SimHash64
    // expression, seeded xxhash — rows-only: no SQL oracle can
    // reproduce seeded xxhash bits; kept in the bench pack so the
    // measured numbers cover the hot path, not only the portable one)
    "dedup_simhash_native" -> ((s, d) => Dedup.simhashSignatures(docs(s, d))),
    "dedup_simhash_pairs_native" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), maxHamming = 3)),
    "dedup_embed_cosine" -> ((s, d) =>
      Dedup.embeddingTopPairs(Tables.load(s, d, "embeddings"), topN = 20)),
    // the 100-TB path: same-cell pairs only, top-20 by cosine
    // (rows-only here — cell assignments come from the seeded k-means;
    // the cell-restricted equivalence vs brute force is asserted in
    // PipelineSpec)
    "dedup_embed_bucketed" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      val centroids = AnnIvf.train(vecs, numCentroids = 8, iterations = 2)
      Dedup.embeddingNearPairsBucketed(vecs, centroids, threshold = -1.0)
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)
    }),
    // transitive closure of the jaccard pair relation: keep-one-per-
    // cluster dedup (oracle: the same pairs + a recursive CTE)
    "dedup_clusters" -> ((s, d) =>
      Dedup.dupClustersFromPairs(docs(s, d), jaccardPairs(s, d))),
    // snapshot-incremental workflow under the driver: even-id docs
    // play the accepted corpus (store persisted to parquet), odd-id
    // docs the new crawl batch — anti-join the store, keep-min-id
    // within the batch; re-hashing the accepted corpus never happens
    "dedup_incremental" -> ((s, d) => {
      val store = java.nio.file.Files
        .createTempDirectory("graft_fpstore_q").toString
      Dedup.writeFingerprintStore(
        docs(s, d).filter(col("doc_id") % 2 === 0), store)
      Dedup.incrementalExact(
        docs(s, d).filter(col("doc_id") % 2 === 1), store)
    }),
    // keeper policy: each near-dup cluster keeps its best-QUALITY
    // member (ties -> smallest id), not the min id — shares the pair
    // relation with dedup_clusters; one max_by aggregate, no window
    "dedup_keep_best" -> ((s, d) =>
      Dedup.dupClustersKeepBest(docs(s, d), jaccardPairs(s, d))),
    // the bucketed near-dup path under a FULL oracle: FIXED data-row
    // centroids (vec_id % 63 == 11) make the cell assignment and the
    // same-cell cosine pairs exactly SQL-reproducible — same engine
    // code path as dedup_embed_bucketed, which stays rows-only because
    // its centroids come from seeded k-means
    "dedup_embed_fixed" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
      val centroids = vecs.filter(col("vec_id") % 63 === 11)
        .select((row_number().over(w) - 1).as("cid"),
          col("embedding").as("centroid"))
      Dedup.embeddingNearPairsBucketed(vecs, centroids, threshold = 0.3)
    }),
    // SemDeDup (Abbas et al. 2023) with the fixed data-row centroids
    // of dedup_embed_fixed: within-cell cosine pairs >= 0.3 connect
    // into duplicate groups; each group keeps the member FARTHEST
    // from its cluster centroid (tie: min id). Fully SQL-checkable
    // end to end: assignment, pairs, component closure, keeper pick.
    // MULTIPROBE (nassign=2) is the r14 default — the 5M measurement
    // showed 1.64% of true near-dup pairs straddle a cell boundary
    // and are unfindable at single assignment; the oracle's pair
    // relation carries the same rn <= 2 assignment.
    "dedup_semantic" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
      val centroids = vecs.filter(col("vec_id") % 63 === 11)
        .select((row_number().over(w) - 1).as("cid"),
          col("embedding").as("centroid"))
      Dedup.semDedup(vecs, centroids, threshold = 0.3)
    }),
    // MULTI-PROBE bucketed near-dup under the same fixed-centroid
    // FULL oracle: each vector assigned to its 2 nearest cells
    // (NearestCells, ties to lowest cid), so near-dup pairs straddling
    // a cell boundary — missed by dedup_embed_fixed's single
    // assignment BY CONSTRUCTION — still share a cell; pairs found in
    // several shared cells dedup to one row. Work grows ~nassign²/C,
    // never all-pairs.
    "dedup_embed_multiprobe" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
      val centroids = vecs.filter(col("vec_id") % 63 === 11)
        .select((row_number().over(w) - 1).as("cid"),
          col("embedding").as("centroid"))
      Dedup.embeddingNearPairsMultiProbe(vecs, centroids,
        threshold = 0.3, nassign = 2)
    })
  )

  /** Shingle SQL fragment shared by the jaccard oracles: distinct
    * n-word shingles, 1-based list indexing. */
  private def jaccardOracle(n: Int, threshold: Double): String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    ${(0 until n).map(o => s"l[i + $o]").mkString(" || ' ' || ")} AS s
       |  FROM tok, UNNEST(range(1, len(l) - ${n - 2})) AS t(i)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  round(CAST(i.i AS DOUBLE) / (sa.n_sh + sb.n_sh - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE CAST(i.i AS DOUBLE) / (sa.n_sh + sb.n_sh - i.i) >= $threshold""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardOracle(3, 0.4),
    "dedup_minhash_lsh" -> jaccardOracle(3, 0.5),
    "dedup_lsh_persist" -> jaccardOracle(3, 0.5),
    // min-reachable-id closure over the same pair relation: the
    // recursive step follows symmetric edges until the fixpoint the
    // min-label-propagation loop reaches in Spark
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a, doc_b FROM (${jaccardOracle(3, 0.4)})
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), reach(doc, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.doc
         |)
         |SELECT doc AS doc_id, min(root) AS cluster_id,
         |  CAST(doc = min(root) AS BIGINT) AS is_canonical
         |FROM reach GROUP BY doc""".stripMargin,
    "dedup_incremental" ->
      """WITH old AS (
        |  SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
        |), nw AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id % 2 = 1
        |), surv AS (
        |  SELECT n.doc_id, n.h FROM nw n ANTI JOIN old o ON n.h = o.h
        |)
        |SELECT min(doc_id) AS doc_id, h AS text_hash
        |FROM surv GROUP BY h""".stripMargin,
    // same component closure, keeper = best quality (DECIMAL(9,6)
    // image of the 6dp-rounded score — engine-exact ordering), ties
    // by smallest doc_id
    "dedup_keep_best" -> {
      val en = TextAnalysis.langMarkers.toMap.apply("en")
        .map(m => s"'$m'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a, doc_b FROM (${jaccardOracle(3, 0.4)})
         |), edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), reach(doc, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.doc
         |), memb AS (
         |  SELECT doc AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY doc
         |), t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x)))
         |      AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
         |  FROM t
         |), q AS (
         |  SELECT doc_id,
         |    round(least(n / 100.0, 1.0) * 0.5 +
         |      least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6)
         |      AS quality
         |  FROM s
         |), rk AS (
         |  SELECT m.cluster_id, m.doc_id, row_number() OVER (
         |    PARTITION BY m.cluster_id
         |    ORDER BY CAST(q.quality AS DECIMAL(9,6)) DESC, m.doc_id) AS r
         |  FROM memb m JOIN q ON m.doc_id = q.doc_id
         |), k AS (
         |  SELECT cluster_id, doc_id AS keeper_id FROM rk WHERE r = 1
         |)
         |SELECT m.doc_id, m.cluster_id, k.keeper_id,
         |  CAST(m.doc_id = k.keeper_id AS BIGINT) AS is_canonical
         |FROM memb m JOIN k ON m.cluster_id = k.cluster_id""".stripMargin
    },
    "dedup_embed_cosine" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    (SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE)) /
        |      (sqrt(sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))) *
        |       sqrt(sum(CAST(z.y AS DOUBLE) * CAST(z.y AS DOUBLE))))
        |     FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z
        |    ) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs
        |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin,
    // fixed-centroid bucketed near-dup: argmin cell assignment (ties
    // to lowest cid), pairs only within a cell, cosine >= 0.3 on the
    // UNROUNDED value (rounding applies to the output column only)
    "dedup_embed_fixed" -> {
      val sq =
        "sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)) * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))"
      val cosz =
        """sum(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE)) /
          | (sqrt(sum(CAST(z.a AS DOUBLE) * CAST(z.a AS DOUBLE))) *
          |  sqrt(sum(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))))""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM v WHERE vec_id % 63 = 11
         |), ad AS (
         |  SELECT v.vec_id, v.embedding, c.cid,
         |    (SELECT $sq
         |     FROM (SELECT unnest(v.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM v CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    (SELECT $cosz
         |     FROM (SELECT unnest(a.embedding) AS a, unnest(b.embedding) AS b) z) AS cos
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cosine
         |FROM pairs WHERE cos >= 0.3""".stripMargin
    },
    // multi-probe: same fixed centroids, each vector keeps its TWO
    // nearest cells (rn <= 2), pairs share at least one cell, DISTINCT
    // folds pairs found in both shared cells
    "dedup_embed_multiprobe" -> {
      val sq =
        "sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)) * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))"
      val cosz =
        """sum(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE)) /
          | (sqrt(sum(CAST(z.a AS DOUBLE) * CAST(z.a AS DOUBLE))) *
          |  sqrt(sum(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))))""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM v WHERE vec_id % 63 = 11
         |), ad AS (
         |  SELECT v.vec_id, v.embedding, c.cid,
         |    (SELECT $sq
         |     FROM (SELECT unnest(v.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM v CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn <= 2
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |), scored AS (
         |  SELECT p.id_a, p.id_b,
         |    (SELECT $cosz
         |     FROM (SELECT unnest(va.embedding) AS a, unnest(vb.embedding) AS b) z) AS cos
         |  FROM pairs p
         |  JOIN v va ON va.vec_id = p.id_a
         |  JOIN v vb ON vb.vec_id = p.id_b
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cosine
         |FROM scored WHERE cos >= 0.3""".stripMargin
    },
    // SemDeDup: the dedup_embed_multiprobe PAIR relation (rn <= 2 —
    // the engine's nassign=2 default), closed into components by the
    // recursive reach CTE (dedup_clusters pattern); keeper per
    // component = max PRIMARY-centroid distance (rn = 1), tie min id
    "dedup_semantic" -> {
      val sq =
        "sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)) * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))"
      val cosz =
        """sum(CAST(z.a AS DOUBLE) * CAST(z.b AS DOUBLE)) /
          | (sqrt(sum(CAST(z.a AS DOUBLE) * CAST(z.a AS DOUBLE))) *
          |  sqrt(sum(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))))""".stripMargin
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM v WHERE vec_id % 63 = 11
         |), ad AS (
         |  SELECT v.vec_id, v.embedding, c.cid,
         |    (SELECT $sq
         |     FROM (SELECT unnest(v.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM v CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid, dst FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), assign2 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign2 a JOIN assign2 b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |), pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT p.id_a, p.id_b,
         |      (SELECT $cosz
         |       FROM (SELECT unnest(va.embedding) AS a, unnest(vb.embedding) AS b) z)
         |        AS cos
         |    FROM cand p
         |    JOIN v va ON va.vec_id = p.id_a
         |    JOIN v vb ON vb.vec_id = p.id_b)
         |  WHERE cos >= 0.3
         |), edges AS (
         |  SELECT id_a AS u, id_b AS w FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |), reach(id, root) AS (
         |  SELECT vec_id, vec_id FROM v
         |  UNION
         |  SELECT e.w, r.root FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (
         |  SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
         |), mk AS (
         |  SELECT comp.id, comp.cluster_id, assign.dst AS cdist
         |  FROM comp JOIN assign ON assign.vec_id = comp.id
         |), k AS (
         |  SELECT cluster_id, id AS keeper_id FROM (
         |    SELECT cluster_id, id, row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY cdist DESC, id) AS rn
         |    FROM mk)
         |  WHERE rn = 1
         |)
         |SELECT m.id AS vec_id, m.cluster_id, k.keeper_id,
         |  CAST(m.id = k.keeper_id AS BIGINT) AS is_kept
         |FROM mk m JOIN k USING (cluster_id)""".stripMargin
    },
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" ->
      s"""WITH sig AS ($simhashSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  )

  /** Portable 60-bit simhash in the oracle dialect — mirrors
    * `Dedup.simhashPortable` bit-for-bit (md5-prefix token hash,
    * ±1 per-bit majority vote). */
  private lazy val simhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv
      |  FROM tok
      |), votes AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((hv >> CAST(b AS INTEGER)) & 1) = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM h, UNNEST(range(0, 60)) AS t(b)
      |  GROUP BY doc_id, b
      |)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN v > 0
      |    THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END)
      |    AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id""".stripMargin
}

/** Text-analysis query pack over `documents`. */
object TextQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> ((s, d) => TextAnalysis.tokenStats(docs(s, d))),
    "text_quality" -> ((s, d) => TextAnalysis.qualityScore(docs(s, d))),
    "text_langid" -> ((s, d) => TextAnalysis.languageId(docs(s, d))),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d))),
    // portable md5-prefix window hashes, sketch digested to scalars
    // (the driver compare hashes cell values — array cells are not
    // comparable): the digest pins every sketch element and its order,
    // and the SQL oracle reproduces it bit-for-bit. The native xxhash
    // winnow path is benched below and asserted in ScalaTest.
    "text_winnow" -> ((s, d) =>
      TextAnalysis.winnowPortable(docs(s, d)).select(col("doc_id"),
        size(col("sketch")).cast("long").as("sketch_size"),
        md5(concat_ws(",",
          transform(col("sketch"), _.cast("string")))).as("sketch_digest"))),
    // production winnow path (seeded xxhash64 — rows-only)
    "text_winnow_native" -> ((s, d) =>
      TextAnalysis.winnow(docs(s, d)).select(col("doc_id"),
        size(col("sketch")).cast("long").as("sketch_size"),
        xxhash64(concat_ws(",",
          transform(col("sketch"), _.cast("string")))).as("sketch_hash"))),
    // Gopher-rules repetition family: top-unigram / top-bigram /
    // duplicated-trigram occupancy per doc
    "text_repetition" -> ((s, d) => TextAnalysis.repetitionStats(docs(s, d))),
    // CCNet-style line-level boilerplate removal, run at token
    // granularity (the synthetic docs have no newlines): every token
    // appearing in >= 400 of the 500 docs is corpus boilerplate,
    // dropped everywhere; surviving tokens reassemble in order. The
    // oracle reproduces the distinct-doc counts, the anti-join, and
    // the order-preserving reassembly.
    "text_boilerplate" -> ((s, d) =>
      Dedup.boilerplateRemove(docs(s, d), minDocs = 400, sep = " ")),
    // PII redaction over docs with deterministically PLANTED pii (the
    // synthetic corpus has none) — every doc gains an email, an IPv4,
    // and a long account number built from its id, so the oracle
    // exercises real matches of all three rules plus the redacted
    // reassembly, not just the no-op path
    "text_redact" -> ((s, d) =>
      TextAnalysis.redactPii(docs(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex-"), (col("doc_id") % 7).cast("string"), lit(".org"),
          lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" acct "),
          (col("doc_id") * 1234567 + 10000000).cast("string"))
          .as("text")))),
    // cross-document exact dedup with FIRST-OCCURRENCE retention at
    // token granularity (Lee-et-al-style "keep one copy" — contrast
    // text_boilerplate, which drops frequent lines everywhere): only
    // the globally first (doc_id, pos) occurrence of each token
    // survives; min(struct) agg + co-keyed join, no window
    "text_cross_dedup" -> ((s, d) =>
      Dedup.crossDocLineDedup(docs(s, d), sep = " ")),
    // within-document first-occurrence dedup at token granularity
    // (C4-style repeated-line removal; the synthetic docs have no
    // newlines): expression-only — split -> array_distinct (keeps
    // first occurrences) -> rejoin, zero shuffle
    "text_line_dedup" -> ((s, d) => TextAnalysis.dedupUnits(docs(s, d))),
    // TF-IDF salient terms (integer-ratio idf = N/df, so the score
    // doubles are engine-exact); tf side pre-pruned to the probe docs,
    // df from one corpus-wide hash aggregate
    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(docs(s, d), topK = 5,
        docFilter = col("doc_id") % 25 === 0)),
    // tokenizer-coverage profiling: UNK rate per doc against the
    // top-100 corpus vocabulary (occurrence desc, token tie-break) —
    // the closed-vocab coverage a tokenizer of that size would get
    "text_oov_rate" -> ((s, d) =>
      TextAnalysis.oovRate(docs(s, d), vocabSize = 100)),
    // corpus-wide vocabulary heavy hitters: top-50 tokens by
    // occurrence (vocab/tokenizer construction, stopword discovery);
    // two map-side-combined aggregates + TakeOrderedAndProject
    "text_vocab" -> ((s, d) => TextAnalysis.vocabTopK(docs(s, d), k = 50)),
    // CCNet-style perplexity filter: unigram add-one LM trained on
    // the corpus itself, head/middle/tail buckets at explicit ppl
    // cutoffs (the production workflow precomputes percentile cutoffs
    // once; 29.95/30.09 straddle this corpus's terciles). Buckets
    // compare the ROUNDED ppl so the boundary is engine-portable.
    "text_perplexity" -> ((s, d) =>
      TextAnalysis.lmScore(docs(s, d), headPpl = 29.95, tailPpl = 30.09)),
    // cross-document duplicated-4-gram coverage (Lee et al. 2022
    // exact-substring-dedup diagnostic): fraction of a doc's token
    // positions inside a 4-gram that also occurs in >= 2 docs
    "text_ngram_coverage" -> ((s, d) =>
      TextAnalysis.crossDocNgramCoverage(docs(s, d), n = 4)),
    // the REMOVAL counterpart: every duplicated 4-token window keeps
    // only its globally first occurrence; covered positions elsewhere
    // are cut and the survivors reassemble in order (windowed
    // approximation of suffix-array substring dedup)
    "text_span_dedup" -> ((s, d) =>
      Dedup.crossDocSpanDedup(docs(s, d), n = 4)),
    // the cutoff TRAINER for the perplexity filter: EXACT distributed
    // quantiles of the 4dp ppl scores (CCNet's percentile step, run
    // scale-safe: order statistics via range sort + rank gather, not
    // a value-buffering percentile aggregate)
    "text_ppl_cutoffs" -> ((s, d) =>
      Corpus.exactQuantiles(
        TextAnalysis.lmScore(docs(s, d), 9e99, 9e99), "ppl",
        qs = Seq(0.1, 0.33, 0.67, 0.9))),
    // closed-vocab token ENCODING (the id sequences training
    // consumes): top-100 vocabulary, ids 1..100 by (count desc,
    // term), OOV -> 0; the digest pins every id and its order
    "text_encode" -> ((s, d) => {
      val base = docs(s, d)
      val vocab = TextAnalysis.trainVocab(base, vocabSize = 100)
      TextAnalysis.encodeTokens(base, vocab)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          md5(concat_ws(",",
            transform(col("ids"), _.cast("string")))).as("ids_digest"))
    }),
    // Okapi BM25 lexical top-k: probe docs (doc_id % 97 == 0) query
    // with their own first 5 tokens; scores 6dp-rounded BEFORE the
    // rank cut so the top-k selection is engine-portable. The probe
    // doc itself ranking #1 for its own prefix is the sanity anchor.
    "text_bm25" -> ((s, d) => {
      val base = docs(s, d)
      val qs = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      Retrieval.bm25TopK(base, qs, k = 10)
    }),
    // the DISTRIBUTED lowering of the same BM25 job (query tables
    // beyond broadcast: full-corpus tf, term-keyed sort-merge scoring
    // join, nothing query-sized on the driver) — same scores, same
    // rank cut, so text_bm25's oracle SQL applies verbatim
    "text_bm25_bigq" -> ((s, d) => {
      val base = docs(s, d)
      val qs = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      Retrieval.bm25TopKShuffled(base, qs, k = 10)
    }),
    // count-min sketch (4x512 counters, portable md5 buckets) point-
    // estimated for the probe docs' vocabulary, side by side with the
    // exact counts — the oracle re-derives every counter cell, and
    // cms_count >= n_exact (the CMS upper-bound guarantee) is visible
    // in the rows themselves
    "text_cms" -> ((s, d) => {
      val base = docs(s, d)
      val sketch = TextAnalysis.cmsSketch(base)
      val cand = base.filter(col("doc_id") % 97 === 0)
        .select(explode(TextAnalysis.whitespaceTokens(col("text")))
          .as("term")).distinct()
      val exact = base
        .select(explode(TextAnalysis.whitespaceTokens(col("text")))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_exact"))
      TextAnalysis.cmsEstimate(sketch, cand)
        .join(exact, "term")
        .select(col("term"), col("cms_count"), col("n_exact"))
    }),
    // distributed BPE tokenizer training: 8 most-frequent-pair merges
    // over the distinct-word frequency relation (the corpus collapses
    // to vocab size after one scan). Integer counts + binary-string
    // tie-breaks -> the oracle replays every round exactly
    "text_bpe" -> ((s, d) => Bpe.trainBpe(docs(s, d), numMerges = 8)),
    // Min-K% Prob membership diagnostic: mean of each doc's lowest
    // 20% token logprobs under the corpus unigram LM; per-token lnp
    // rounded before the sort/cut so the lowest-k multiset is
    // engine-portable
    "text_min_k_prob" -> ((s, d) =>
      TextAnalysis.minKProb(docs(s, d), kPct = 0.2)),
    // bigram add-one LM perplexity (the context-aware CCNet filter
    // step): expression-only (prev, cur) pair stream, two count
    // aggregates, term-keyed scoring joins; cutoffs straddle this
    // corpus's bigram-ppl terciles
    "text_perplexity2" -> ((s, d) =>
      TextAnalysis.lmScoreBigram(docs(s, d), headPpl = 29.18,
        tailPpl = 29.89)),
    // the cutoff trainer STRATIFIED: one exact ppl-tercile pair per
    // LANGUAGE (CCNet trains per-language cutoffs) — per-group order
    // statistics via one (group, value) range sort + rank gather,
    // never a per-group window or value-buffering percentile
    "text_ppl_cutoffs_by_lang" -> ((s, d) => {
      val base = docs(s, d)
      val scored = TextAnalysis.lmScore(base, 9e99, 9e99)
        .join(base.select(col("doc_id"), col("lang")), "doc_id")
      Corpus.groupedExactQuantiles(scored, "lang", "ppl",
        qs = Seq(0.33, 0.67))
    })
  )

  /** One unrolled BPE round for the text_bpe oracle: pair counts ->
    * argmax -> declarative merge application (l != r merges every
    * adjacency — overlap impossible; l == r merges even offsets
    * within each run — greedy left-to-right). Mirrors
    * `Bpe.applyMerge` exactly. */
  private def bpeRoundSql(r: Int): String =
    s"""p$r AS (
       |  SELECT word, wcount, pos, sym,
       |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
       |    lag(sym) OVER (PARTITION BY word ORDER BY pos) AS prv
       |  FROM st$r
       |), m$r AS (
       |  SELECT sym AS l, nxt AS r, sum(wcount) AS c
       |  FROM p$r WHERE nxt IS NOT NULL GROUP BY sym, nxt
       |  ORDER BY c DESC, l, r LIMIT 1
       |), rk$r AS (
       |  SELECT p.*, m.l, m.r,
       |    sum(CASE WHEN p.sym <> m.l OR p.prv IS NULL OR p.prv <> m.l
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY p.word ORDER BY p.pos) AS run_id
       |  FROM p$r p CROSS JOIN m$r m
       |), of$r AS (
       |  SELECT *,
       |    CASE WHEN sym = l THEN
       |      row_number() OVER (PARTITION BY word, run_id ORDER BY pos) - 1
       |    END AS off
       |  FROM rk$r
       |), st${r + 1} AS (
       |  SELECT word, wcount, pos,
       |    CASE WHEN (CASE WHEN l <> r THEN sym = l AND nxt = r
       |               ELSE sym = l AND nxt = l AND off % 2 = 0 END)
       |      THEN l || r ELSE sym END AS sym
       |  FROM of$r
       |  WHERE NOT (CASE WHEN l <> r
       |             THEN sym = r AND prv IS NOT DISTINCT FROM l
       |             ELSE sym = l AND off % 2 = 1 END)
       |)""".stripMargin

  private val markersSql = TextAnalysis.langMarkers.map { case (lang, ms) =>
    lang -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
  }

  /** Shared CTE chain of the Okapi BM25 scorer (text_bm25 and the
    * hybrid-fusion pipeline score over the same model). Expects a
    * corpus CTE `$corpus(doc_id, toks)` and a query-term CTE
    * `bm_q(qid, term)` to already exist; defines `bm_sc(qid, doc_id,
    * score)` with the 6dp-rounded per-(query, doc) BM25 score. The
    * k1/b constants are interpolated from the SAME Scala doubles the
    * Spark side computes with (shortest-round-trip repr), so both
    * engines evaluate identical IEEE literals. */
  private[graft] def bm25Core(corpus: String, k1: Double = 1.2,
      b: Double = 0.75): String = {
    val k1p1 = k1 + 1.0
    val omb = 1.0 - b
    s"""bm_tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM $corpus)
       |  GROUP BY doc_id, term
       |), bm_dl AS (
       |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM $corpus
       |), bm_df AS (
       |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM bm_tf
       |  GROUP BY term
       |), bm_st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(CAST(len(toks) AS BIGINT)) AS DOUBLE) /
       |      CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM $corpus
       |), bm_sc AS (
       |  SELECT bm_q.qid, bm_tf.doc_id,
       |    round(sum(
       |      ln(1.0 + (bm_st.n - bm_df.df + 0.5) / (bm_df.df + 0.5)) *
       |      bm_tf.tf * $k1p1 /
       |      (bm_tf.tf + $k1 * ($omb + $b * bm_dl.dl / bm_st.avgdl))
       |    ), 6) AS score
       |  FROM bm_q
       |  JOIN bm_tf USING (term)
       |  JOIN bm_df USING (term)
       |  JOIN bm_dl ON bm_dl.doc_id = bm_tf.doc_id
       |  CROSS JOIN bm_st
       |  GROUP BY bm_q.qid, bm_tf.doc_id
       |)""".stripMargin
  }

  /** The BM25 top-10 oracle over the probe-prefix query set — shared
    * verbatim by `text_bm25` (broadcast lowering) and
    * `text_bm25_bigq` (term-keyed shuffle lowering): one truth
    * relation, two physical plans. */
  private val bm25TopKSql: String =
    s"""WITH bm_t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), bm_q AS (
       |  SELECT DISTINCT qid, term FROM (
       |    SELECT doc_id AS qid, unnest(list_slice(toks, 1, 5)) AS term
       |    FROM bm_t WHERE doc_id % 97 = 0)
       |), ${bm25Core("bm_t")}
       |SELECT qid, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, score
       |FROM bm_sc
       |QUALIFY rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** Shared CTE chain of the unigram add-one LM (text_perplexity, its
    * quantile-cutoff trainer, and the end-to-end curation funnel all
    * score over the same model). */
  private[graft] val perplexityCore =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents
      |), c AS (
      |  SELECT term, count(*) AS c FROM toks GROUP BY term
      |), tot AS (
      |  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
      |  FROM c
      |), lp AS (
      |  SELECT t.doc_id,
      |    ln((coalesce(c.c, 0) + 1.0) / (tot.n + tot.v)) AS lnp
      |  FROM toks t LEFT JOIN c USING (term) CROSS JOIN tot
      |), perdoc AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    -sum(lnp) / count(*) AS nll
      |  FROM lp GROUP BY doc_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.tokenPattern}'))
         |    AS BIGINT) AS n_re_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_computed
         |FROM documents""".stripMargin,
    "text_quality" -> {
      val en = markersSql.toMap.apply("en")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x))) AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
         |  FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  round(least(n / 100.0, 1.0) * 0.5 +
         |    least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6) AS quality
         |FROM s""".stripMargin
    },
    "text_langid" -> {
      val scores = markersSql.map { case (lang, arr) =>
        s"CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      val best = markersSql.map(m => s"s_${m._1}").mkString("greatest(", ", ", ")")
      val pred = markersSql.map { case (lang, _) =>
        s"WHEN best > 0 AND s_$lang = best THEN '$lang'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    $scores
         |  FROM t),
         |g AS (SELECT *, $best AS best FROM s)
         |SELECT doc_id, $pred AS lang_pred, best AS marker_hits FROM g""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |    ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    // winnow (k=4, w=8): k-grams deduped in FIRST-OCCURRENCE order
    // (min window position), md5-prefix hashed, min per band of 8,
    // distinct band minima in band order — mirrors winnowPortable.
    "text_winnow" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (
        |  SELECT doc_id, i, l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3] AS s
        |  FROM tok, UNNEST(range(1, len(l) - 2)) AS t(i)
        |  WHERE len(l) >= 4
        |),
        |fo AS (SELECT doc_id, s, min(i) AS pos FROM g GROUP BY doc_id, s),
        |h AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hv,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS idx
        |  FROM fo),
        |bands AS (SELECT doc_id, CAST(floor(idx / 8) AS INTEGER) AS b,
        |    min(hv) AS mh
        |  FROM h GROUP BY doc_id, b),
        |dmin AS (SELECT doc_id, mh, min(b) AS fb FROM bands GROUP BY doc_id, mh),
        |sk AS (SELECT doc_id, count(*) AS sketch_size,
        |    md5(array_to_string(list(CAST(mh AS VARCHAR) ORDER BY fb), ','))
        |      AS sketch_digest
        |  FROM dmin GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(sk.sketch_size, 0) AS BIGINT) AS sketch_size,
        |  coalesce(sk.sketch_digest, md5('')) AS sketch_digest
        |FROM documents d LEFT JOIN sk ON d.doc_id = sk.doc_id""".stripMargin,
    "text_redact" ->
      """WITH planted AS (
        |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR)
        |    || '@ex-' || CAST(doc_id % 7 AS VARCHAR) || '.org'
        |    || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |    || CAST((doc_id * 7) % 256 AS VARCHAR)
        |    || ' acct ' || CAST(doc_id * 1234567 + 10000000 AS VARCHAR)
        |    AS t0
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, t0,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM planted
        |), s2 AS (
        |  SELECT *, regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}',
        |    '<IP>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id,
        |  regexp_replace(t2, '[0-9]{7,}', '<NUMBER>', 'g') AS text,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t1,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', 0)) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{7,}', 0)) AS BIGINT)
        |    AS n_numbers
        |FROM s2""".stripMargin,
    "text_boilerplate" ->
      """WITH lines AS (
        |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
        |    unnest(parts) AS line
        |  FROM (SELECT doc_id, string_split(text, ' ') AS parts
        |        FROM documents)
        |), heavy AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS n_docs
        |    FROM lines GROUP BY line)
        |  WHERE n_docs >= 400
        |), kept AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM lines l ANTI JOIN heavy h USING (line)
        |), totals AS (
        |  SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id
        |)
        |SELECT k.doc_id, string_agg(k.line, ' ' ORDER BY k.pos) AS text,
        |  t.n_total - count(*) AS n_removed
        |FROM kept k JOIN totals t USING (doc_id)
        |GROUP BY k.doc_id, t.n_total""".stripMargin,
    // global first occurrence = row_number over (tok -> doc_id, pos);
    // docs losing every token drop out (inner join on the agg)
    "text_cross_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
        |    unnest(parts) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS parts
        |        FROM documents)
        |), k AS (
        |  SELECT doc_id, pos, tok, row_number() OVER (
        |    PARTITION BY tok ORDER BY doc_id, pos) AS r
        |  FROM toks
        |), kept AS (
        |  SELECT doc_id, pos, tok FROM k WHERE r = 1
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_total FROM toks GROUP BY doc_id
        |)
        |SELECT a.doc_id, a.text,
        |  CAST(t.n_total - a.n_kept AS BIGINT) AS n_removed
        |FROM agg a JOIN tot t USING (doc_id)""".stripMargin,
    // first-occurrence order: min position per (doc, token), rejoin
    // ordered by that position — mirrors array_distinct's semantics
    "text_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
        |    unnest(parts) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS parts
        |        FROM documents)
        |), fo AS (
        |  SELECT doc_id, tok, min(pos) AS pos
        |  FROM toks GROUP BY doc_id, tok
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |    count(*) AS n_uniq
        |  FROM fo GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_total FROM toks GROUP BY doc_id
        |)
        |SELECT a.doc_id, a.text,
        |  CAST(t.n_total - a.n_uniq AS BIGINT) AS n_removed
        |FROM agg a JOIN tot t USING (doc_id)""".stripMargin,
    // the 100-cut is deterministic: occurrence desc + term tie-break
    "text_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), vocab AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) AS n_occ FROM toks GROUP BY term
        |    ORDER BY n_occ DESC, term LIMIT 100)
        |), j AS (
        |  SELECT t.doc_id,
        |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM toks t LEFT JOIN vocab v USING (term)
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM j GROUP BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g1 AS (SELECT doc_id, 1 AS k, unnest(l) AS g FROM tok),
        |g2 AS (SELECT doc_id, 2 AS k, l[i]||' '||l[i+1] AS g
        |  FROM tok, UNNEST(range(1, len(l))) t(i)),
        |g3 AS (SELECT doc_id, 3 AS k, l[i]||' '||l[i+1]||' '||l[i+2] AS g
        |  FROM tok, UNNEST(range(1, len(l) - 1)) t(i)),
        |grams AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
        |  UNION ALL SELECT * FROM g3),
        |counts AS (SELECT doc_id, k, g, count(*) AS c
        |  FROM grams GROUP BY 1, 2, 3),
        |perk AS (SELECT doc_id, k, max(c) AS maxc, sum(c) AS tot,
        |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
        |  FROM counts GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(max(CASE WHEN k = 1 THEN tot END) AS BIGINT) AS n_tokens,
        |  round(coalesce(max(CASE WHEN k = 1
        |    THEN CAST(maxc AS DOUBLE) / tot END), 0), 6) AS top_unigram_frac,
        |  round(coalesce(max(CASE WHEN k = 2
        |    THEN CAST(maxc AS DOUBLE) / tot END), 0), 6) AS top_bigram_frac,
        |  round(coalesce(max(CASE WHEN k = 3
        |    THEN CAST(dup AS DOUBLE) / tot END), 0), 6) AS dup_trigram_frac
        |FROM perk GROUP BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE doc_id % 25 = 0)
        |  GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY 1
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) *
        |      (CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |        / CAST(dfreq.df AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq USING (term)
        |)
        |SELECT doc_id, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank,
        |  term, tf, df, round(score, 6) AS score
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin,
    "text_vocab" ->
      """WITH td AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), pd AS (
        |  SELECT term, doc_id, count(*) AS c FROM td GROUP BY 1, 2
        |), t AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS n_occ,
        |    count(*) AS n_docs
        |  FROM pd GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY n_occ DESC, term) AS BIGINT) AS rank,
        |  term, n_occ, n_docs
        |FROM t
        |QUALIFY rank <= 50
        |ORDER BY rank""".stripMargin,
    // unigram add-one LM: p(w) = (c(w)+1)/(N+V); ppl = exp(mean nll).
    // ln() on both engines; rounding (6dp nll, 4dp ppl) absorbs FP
    // summation-order noise; the bucket CASE compares the rounded ppl
    "text_perplexity" ->
      s"""WITH $perplexityCore
        |SELECT doc_id, n_tokens, round(nll, 6) AS avg_nll,
        |  round(exp(nll), 4) AS ppl,
        |  CASE WHEN round(exp(nll), 4) <= 29.95 THEN 'head'
        |       WHEN round(exp(nll), 4) <= 30.09 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM perdoc""".stripMargin,
    // the cutoff trainer: quantile_cont over the SAME 4dp ppl image
    // the engine's order statistics interpolate between
    "text_ppl_cutoffs" -> {
      val qv = Seq(0.1, 0.33, 0.67, 0.9)
      s"""WITH $perplexityCore, pp AS (
         |  SELECT round(exp(nll), 4) AS ppl FROM perdoc
         |)
         |${qv.map(q =>
             s"SELECT CAST($q AS DOUBLE) AS q, " +
               s"round(quantile_cont(ppl, $q), 6) AS value FROM pp")
           .mkString("\nUNION ALL\n")}""".stripMargin
    },
    // per-language quantile_cont over the same rounded ppl scores
    "text_ppl_cutoffs_by_lang" -> {
      val qv = Seq(0.33, 0.67)
      s"""WITH $perplexityCore, pp AS (
         |  SELECT d.lang, round(exp(p.nll), 4) AS ppl
         |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
         |)
         |${qv.map(q =>
             s"SELECT lang, CAST($q AS DOUBLE) AS q, " +
               s"round(quantile_cont(ppl, $q), 6) AS value " +
               "FROM pp GROUP BY lang").mkString("\nUNION ALL\n")}""".stripMargin
    },
    // closed-vocab encoding: vocabulary ids replayed from the same
    // (count desc, term) ranking; OOV -> 0; digest pins id order
    "text_encode" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), tv AS (
        |  SELECT term, CAST(row_number() OVER (
        |    ORDER BY n_occ DESC, term) AS INTEGER) AS id
        |  FROM (
        |    SELECT term, count(*) AS n_occ
        |    FROM (SELECT unnest(string_split(text, ' ')) AS term
        |          FROM documents)
        |    GROUP BY term)
        |  QUALIFY id <= 100
        |), tok AS (
        |  SELECT doc_id, i AS pos, l[i] AS term
        |  FROM t, UNNEST(range(1, len(l) + 1)) u(i)
        |), enc AS (
        |  SELECT tok.doc_id, tok.pos, coalesce(tv.id, 0) AS id
        |  FROM tok LEFT JOIN tv USING (term)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unk,
        |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos))
        |    AS ids_digest
        |FROM enc GROUP BY doc_id""".stripMargin,
    // Okapi BM25 over the full corpus; probe docs query with their
    // own first-5-token prefix. Rank cut + tie-break run on the
    // 6dp-ROUNDED score on both engines (the domainCap pattern), so
    // last-ulp sum-order differences cannot flap the top-k.
    "text_bm25" -> bm25TopKSql,
    // the distributed lowering computes the SAME relation — one
    // oracle, two plans (the ann_ivf_bigq recipe)
    "text_bm25_bigq" -> bm25TopKSql,
    // count-min sketch: every counter cell re-derived from the same
    // 52-bit md5 bucket hash (the DSIR recipe, row-salted), estimate
    // = min over the 4 rows, exact counts joined alongside
    "text_cms" ->
      """WITH occ AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), cells AS (
        |  SELECT r, CAST(concat('0x',
        |      substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 13))
        |      AS BIGINT) % 512 AS bucket
        |  FROM occ, UNNEST(range(0, 4)) u(r)
        |), sk AS (
        |  SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
        |  FROM cells GROUP BY r, bucket
        |), cand AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 97 = 0
        |), cb AS (
        |  SELECT term, r, CAST(concat('0x',
        |      substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 13))
        |      AS BIGINT) % 512 AS bucket
        |  FROM cand, UNNEST(range(0, 4)) u(r)
        |), est AS (
        |  SELECT term, CAST(min(coalesce(c, 0)) AS BIGINT) AS cms_count
        |  FROM cb LEFT JOIN sk USING (r, bucket) GROUP BY term
        |), ex AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM occ GROUP BY term
        |)
        |SELECT e.term, e.cms_count, x.n_exact
        |FROM est e JOIN ex x ON e.term = x.term""".stripMargin,
    // BPE training replayed round by round: the same window-based
    // merge application, unrolled as one CTE chain per merge
    "text_bpe" -> {
      val n = 8
      val rounds = (0 until n).map(bpeRoundSql).mkString(",\n")
      val emit = (0 until n).map(r =>
        s"SELECT CAST(${r + 1} AS BIGINT) AS round, l AS left_sym, " +
          s"r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM m$r")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH st0 AS (
         |  SELECT word, wcount, CAST(i AS BIGINT) AS pos,
         |    substr(word, CAST(i AS INTEGER), 1) AS sym
         |  FROM (
         |    SELECT term AS word, CAST(count(*) AS BIGINT) AS wcount
         |    FROM (SELECT unnest(string_split(text, ' ')) AS term
         |          FROM documents)
         |    GROUP BY term),
         |    UNNEST(range(1, len(word) + 1)) u(i)
         |),
         |$rounds
         |SELECT * FROM (
         |  $emit
         |) ORDER BY round""".stripMargin
    },
    // Min-K% Prob: the perplexity LM's lnp terms in exact integer
    // micro-nats (round(lnp*1e6) — identical IEEE product, identical
    // half-away rounding), sorted per doc, lowest ceil(0.2 n) summed
    // as BIGINTs — no float anywhere downstream of the conversion
    "text_min_k_prob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), c AS (
        |  SELECT term, count(*) AS c FROM toks GROUP BY term
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
        |  FROM c
        |), lp AS (
        |  SELECT t.doc_id,
        |    CAST(round(ln((coalesce(c.c, 0) + 1.0) / (tot.n + tot.v))
        |      * 1000000.0) AS BIGINT) AS lnp_micro
        |  FROM toks t LEFT JOIN c USING (term) CROSS JOIN tot
        |), s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    list_sort(list(lnp_micro)) AS ls
        |  FROM lp GROUP BY doc_id
        |), k AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(ceil(n_tokens * 0.2) AS BIGINT) AS n_lowest, ls
        |  FROM s
        |)
        |SELECT doc_id, n_tokens, n_lowest,
        |  CAST(list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        ls[1:CAST(n_lowest AS INTEGER)]),
        |      (a, b) -> a + b) AS BIGINT) AS min_k_sum_micro
        |FROM k""".stripMargin,
    // bigram LM: (prev, cur) pairs by position (i = 1 takes the <s>
    // start context), add-one smoothing over the cur-side vocabulary
    "text_perplexity2" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), pr AS (
        |  SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<s>' ELSE l[CAST(i - 1 AS INTEGER)]
        |      END AS prev,
        |    l[CAST(i AS INTEGER)] AS cur
        |  FROM t, UNNEST(range(1, len(l) + 1)) u(i)
        |), bc AS (
        |  SELECT prev, cur, count(*) AS bc FROM pr GROUP BY prev, cur
        |), cc AS (
        |  SELECT prev, count(*) AS cc FROM pr GROUP BY prev
        |), vv AS (
        |  SELECT CAST(count(DISTINCT cur) AS DOUBLE) AS v FROM pr
        |), lp AS (
        |  SELECT p.doc_id,
        |    ln((coalesce(bc.bc, 0) + 1.0) /
        |       (coalesce(cc.cc, 0) + vv.v)) AS lnp
        |  FROM pr p
        |  LEFT JOIN bc USING (prev, cur)
        |  LEFT JOIN cc USING (prev)
        |  CROSS JOIN vv
        |), perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    -sum(lnp) / count(*) AS nll
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, round(nll, 6) AS avg_nll,
        |  round(exp(nll), 4) AS ppl,
        |  CASE WHEN round(exp(nll), 4) <= 29.18 THEN 'head'
        |       WHEN round(exp(nll), 4) <= 29.89 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM perdoc""".stripMargin,
    // duplicated-4-gram coverage: a token position is covered when
    // any 4-gram window containing it occurs in >= 2 distinct docs.
    // 1-based i here vs 0-based in the engine — a pure shift, so the
    // per-doc covered-position COUNT is identical
    "text_ngram_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, i, array_to_string(toks[i:i+3], ' ') AS gram
        |  FROM t, UNNEST(range(1, len(toks) - 2)) u(i)
        |  WHERE len(toks) >= 4
        |), dup AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
        |  WHERE nd >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos
        |  FROM g JOIN dup USING (gram), UNNEST(range(i, i + 4)) v(pos)
        |), cc AS (
        |  SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cc.n_covered, 0) AS BIGINT) AS n_covered,
        |  round(CAST(coalesce(cc.n_covered, 0) AS DOUBLE) / len(t.toks), 6)
        |    AS coverage
        |FROM t LEFT JOIN cc USING (doc_id)""".stripMargin,
    // windowed substring dedup: keeper = first (doc, pos) occurrence
    // per duplicated 4-gram; non-keeper window positions removed;
    // docs with zero surviving tokens vanish (INNER join to kept)
    "text_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, i, array_to_string(toks[i:i+3], ' ') AS gram
        |  FROM t, UNNEST(range(1, len(toks) - 2)) u(i)
        |  WHERE len(toks) >= 4
        |), info AS (
        |  SELECT gram, count(*) AS n_occ FROM g GROUP BY gram
        |), keeper AS (
        |  SELECT gram, doc_id AS kd, i AS ki FROM (
        |    SELECT gram, doc_id, i, row_number() OVER (
        |      PARTITION BY gram ORDER BY doc_id, i) AS rn FROM g)
        |  WHERE rn = 1
        |), removed AS (
        |  SELECT DISTINCT g.doc_id, pos
        |  FROM g JOIN info USING (gram) JOIN keeper USING (gram),
        |    UNNEST(range(i, i + 4)) v(pos)
        |  WHERE info.n_occ >= 2
        |    AND NOT (g.doc_id = keeper.kd AND g.i = keeper.ki)
        |), tok AS (
        |  SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM t, UNNEST(range(1, len(toks) + 1)) u(i)
        |), kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tok
        |  FROM tok ANTI JOIN removed
        |    ON tok.doc_id = removed.doc_id AND tok.pos = removed.pos
        |)
        |SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.pos) AS text,
        |  CAST(len(any_value(t.toks)) AS BIGINT) AS n_tokens,
        |  CAST(len(any_value(t.toks)) - count(*) AS BIGINT) AS n_removed
        |FROM kept k JOIN t ON t.doc_id = k.doc_id
        |GROUP BY k.doc_id""".stripMargin
  )
}

/** Corpus-curation query pack over `documents`: composition stats,
  * stratified sampling, test-set decontamination. */
object CorpusQueries {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_stats" -> ((s, d) => Corpus.stats(docs(s, d))),
    // exactly 10 docs per language, md5-ranked (portable: the oracle
    // reproduces the pick set via the hex-string order of the same
    // 13-char md5 prefix)
    "sample_stratified" -> ((s, d) =>
      Corpus.stratifiedSample(docs(s, d), "lang", k = 10)),
    // held-out split doc_id % 20 == 0 plays the eval set; 5-gram
    // overlap flags leaked training docs
    "decontaminate_ngram" -> ((s, d) =>
      Dedup.decontaminate(docs(s, d), col("doc_id") % 20 === 0, n = 5)),
    // the full curation funnel in one fused scan: quality >= 0.45,
    // predicted-English only, keep-one-per-exact-content
    "corpus_curate" -> ((s, d) =>
      Corpus.curate(docs(s, d), minQuality = 0.45, langs = Seq("en"))),
    // sequence packing: 1024-token training windows over the id-ordered
    // token stream (distributed two-pass prefix sum; the oracle runs
    // the single-window twin)
    "corpus_pack" -> ((s, d) =>
      Corpus.packSequences(docs(s, d), maxTokens = 1024L)),
    // weighted training-mix: 200-doc budget split 50/20/15/10/5 across
    // languages, portable md5-rank picks, bounded-heap per stratum
    "corpus_mix" -> ((s, d) =>
      Corpus.weightedMix(docs(s, d),
        Map("en" -> 0.5, "de" -> 0.2, "zh" -> 0.15, "fr" -> 0.1,
          "es" -> 0.05),
        budget = 200L)),
    // chunk-embed-POOL: fixed token windows, 16-dim embeddings with
    // INT-VALUED cells (hash % 256 - 128 as float), one VectorSum
    // hash aggregate per doc, mean per dim — integer-valued sums make
    // the double arithmetic engine-exact; emitted per-dim as ppm ints
    "corpus_pool" -> ((s, d) => {
      val chunks = Corpus.chunkDocs(docs(s, d), chunkTokens = 40,
          stride = 32)
        .select(col("doc_id"),
          transform(Ingest.portableHashInts(col("chunk_text"), 16),
            h => (pmod(h, lit(256)) - 128).cast("float")).as("emb"))
      Corpus.meanPoolEmbeddings(chunks)
        .select(col("doc_id"), posexplode(col("doc_embedding"))
          .as(Seq("dim", "v")), col("n_chunks"))
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          floor(col("v") * 1e6 + 0.5).cast("long").as("pooled_ppm"),
          col("n_chunks"))
    }),
    // mBERT/XLM-R-style alpha=0.5 temperature mixture: quotas derive
    // from sqrt of OBSERVED stratum sizes (upsampling tail languages)
    // in pure integer arithmetic — quota = 200*isqrt(n_g)/sum isqrt;
    // en's raw 44% share smooths to ~30%
    "corpus_temp_mix" -> ((s, d) =>
      Corpus.temperatureMix(docs(s, d), budget = 200L)),
    // token-budget data selection: best-quality docs until 20k
    // tokens, via the distributed prefix sum over the quality order
    "corpus_select" -> ((s, d) =>
      Corpus.selectByBudget(docs(s, d), tokenBudget = 20000L)),
    // deterministic global training shuffle: seeded md5 permutation of
    // the corpus cut into 8 balanced round-robin shards; one
    // distributed range sort, no window (oracle replays the
    // permutation from the same 52-bit hex rank)
    "corpus_shuffle" -> ((s, d) =>
      Corpus.shuffleShards(docs(s, d), seed = 42L, numShards = 8)),
    // per-domain cap: best 10 docs per source by quality
    // (bounded-heap per domain — no per-domain window sort)
    "corpus_domain_cap" -> ((s, d) =>
      Corpus.domainCap(docs(s, d), maxPerGroup = 10)),
    // fixed token-window chunking (40-token chunks every 32 tokens —
    // 8-token overlap); chunk text pinned by md5 (hashable cell)
    "corpus_chunks" -> ((s, d) =>
      Corpus.chunkDocs(docs(s, d), chunkTokens = 40, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), md5(col("chunk_text")).as("chunk_md5"))),
    // END-TO-END retrieval pipeline: chunk -> portable-embed (16-dim
    // md5 embedder) -> exact chunk-level search, probe docs vs the
    // rest. Every stage deterministic, so the WHOLE pipeline is one
    // full DuckDB oracle — the engine's fused analog of the
    // reference's embed->index->search loop.
    "pipeline_rag" -> ((s, d) => {
      // embed BELOW the split filters: each side hashes only its own
      // chunks (the embedder is the expensive stage — 16 md5/chunk)
      // 1e6 multiplier: chunk ids stay collision-free up to ~32M
      // tokens per doc (1000 would collide at 32k tokens)
      val chunks = Corpus.chunkDocs(docs(s, d), chunkTokens = 40,
          stride = 32)
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("cid"),
          col("doc_id"), col("chunk_text"))
      def embed(df: DataFrame): DataFrame = df.select(col("cid"),
        Ingest.syntheticEmbeddingPortable(col("chunk_text"), dim = 16)
          .as("emb"))
      val probes = embed(chunks.filter(col("doc_id") % 100 === 0))
        .select(col("cid").as("qid"), col("emb").as("q_embedding"))
      val dataSide = embed(chunks.filter(col("doc_id") % 100 =!= 0))
        .select(col("cid").as("vec_id"), col("emb").as("embedding"))
      Knn.exact(dataSide, probes, 5)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist"))
    }),
    // DSIR importance weights (Xie et al. 2023): hashed unigram +
    // bigram features (portable 52-bit md5 prefix mod 1024), target
    // distribution = the 'en' docs, add-one-smoothed per-bucket
    // log-ratios, per-doc weight = sum of its features' lambdas
    "corpus_dsir" -> ((s, d) =>
      Corpus.dsirWeights(docs(s, d), isTarget = col("lang") === "en",
        buckets = 1024)),
    // production twin: xxhash64 bucketing (rows-only by design, the
    // text_winnow_native pattern) — same model shape, ~2x the
    // measured throughput of the md5-portable oracle path
    "corpus_dsir_native" -> ((s, d) =>
      Corpus.dsirWeights(docs(s, d), isTarget = col("lang") === "en",
        buckets = 1024, nativeHash = true)),
    // END-TO-END CURATION FUNNEL: perplexity gate (drop the tail
    // bucket) -> windowed exact-substring dedup over the survivors ->
    // quality-ordered token-budget selection over the DEDUPED text.
    // Every stage deterministic, so the whole three-stage funnel is
    // ONE DuckDB oracle — the curation analog of pipeline_rag.
    "pipeline_curate" -> ((s, d) => {
      val base = docs(s, d)
      val keep = TextAnalysis.lmScore(base, headPpl = 29.95,
          tailPpl = 30.09)
        .where(col("bucket") =!= "tail").select("doc_id")
      val deduped = Dedup.crossDocSpanDedup(
        base.join(keep, "doc_id"), n = 4)
      Corpus.selectByBudget(
        deduped.select(col("doc_id"), col("text")), tokenBudget = 20000L)
    }),
    // HYBRID RETRIEVAL: BM25 lexical top-20 + dense exact top-20
    // (16-dim portable md5 embedder — pipeline_rag's), fused by
    // reciprocal-rank fusion at k_rrf=60. Both input ranks are
    // integers and the fused score is ONE IEEE addition of two exact
    // divisions, so the fusion needs no rounding anywhere.
    "pipeline_hybrid" -> ((s, d) => {
      val base = docs(s, d)
      val probe = col("doc_id") % 97 === 0
      val corpus = base.filter(!probe)
      val qs = base.filter(probe)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      val sparse = Retrieval.bm25TopK(corpus, qs, k = 20)
        .select(col("qid"), col("rank"), col("doc_id"))
      val dense = Knn.exact(
          corpus.select(col("doc_id").as("vec_id"),
            Ingest.syntheticEmbeddingPortable(col("text"), dim = 16)
              .as("embedding")),
          qs.select(col("qid"),
            Ingest.syntheticEmbeddingPortable(col("q_text"), dim = 16)
              .as("q_embedding")),
          20)
        .select(col("qid"), col("rank"), col("neighbor_id").as("doc_id"))
      Retrieval.rrfFuse(sparse, dense, k = 10)
    }),
    // DPR-style contrastive training data: each probe doc's 5-token
    // prefix is the query, the probe doc itself the positive, and
    // the top-5 OTHER BM25 hits the lexical hard negatives (the
    // BM25-mined-negatives recipe of dense-retriever training).
    // top-6 overall always contains the top-5 non-self, so dropping
    // the self row and re-ranking is exact
    "pipeline_dpr" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, d)
      val qs = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      Retrieval.bm25TopK(base, qs, k = 6)
        .filter(col("doc_id") =!= col("qid"))
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rank")))
          .cast("long"))
        .filter(col("neg_rank") <= 5)
        .select(col("qid"), col("qid").as("pos_id"), col("neg_rank"),
          col("doc_id").as("neg_id"), col("score"))
    }),
    // k-center greedy coreset: 10 maximally-spread exemplars from the
    // vec_id % 5 == 0 slice — min-id seed, then farthest-point picks
    // on 6dp-rounded distances (ties to min id), so a recursive-CTE
    // oracle replays the identical selection order
    "corpus_coreset" -> ((s, d) =>
      Corpus.kCenters(
        Tables.load(s, d, "embeddings").filter(col("vec_id") % 5 === 0),
        k = 10)),
    // SIF-style retrieval: idf-weighted pooled doc embeddings
    // (integer-exact BIGINT pooling — order-free sums, floats only
    // in the final normalization) + exact search of the probe docs
    // against the rest
    "pipeline_sif" -> ((s, d) => {
      val pooled = Retrieval.sifEmbed(docs(s, d))
      val probe = col("doc_id") % 97 === 0
      Knn.exact(
        pooled.filter(!probe)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        pooled.filter(probe)
          .select(col("doc_id").as("qid"),
            col("embedding").as("q_embedding")),
        10)
        .select(col("qid"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist"))
    }),
    // lexical-vs-dense AGREEMENT: BM25 top-10 scored against the
    // dense exact top-10 as truth (recall/MRR/NDCG@10) — the
    // diagnostic that motivates hybrid fusion (low agreement = the
    // rankers surface different evidence and RRF has headroom)
    "bm25_rank_metrics" -> ((s, d) => {
      val base = docs(s, d)
      val probe = col("doc_id") % 97 === 0
      val corpus = base.filter(!probe)
      val qs = base.filter(probe)
        .select(col("doc_id").as("qid"),
          concat_ws(" ",
            slice(TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      val found = Retrieval.bm25TopK(corpus, qs, k = 10)
        .select(col("qid"), col("rank"), col("doc_id").as("neighbor_id"))
      val truth = Knn.exact(
        corpus.select(col("doc_id").as("vec_id"),
          Ingest.syntheticEmbeddingPortable(col("text"), dim = 16)
            .as("embedding")),
        qs.select(col("qid"),
          Ingest.syntheticEmbeddingPortable(col("q_text"), dim = 16)
            .as("q_embedding")),
        10)
      Recall.rankMetrics(found, truth, 10)
    }),
    // fastText-style quality classifier: logistic regression over
    // 256 hashed unigram buckets, 40 full-batch GD steps at lr=0.05.
    // Label = the en-marker gate (>= 3 marker occurrences) — a
    // text-derived target the bag-of-words features can actually
    // learn (the synthetic lang COLUMN is independent of the text by
    // construction: near-identical word frequencies per lang).
    // Integer-quantized training (see Classifier scaladoc) makes
    // every step bit-replayable; the oracle unrolls the whole
    // trajectory and this query pins it through every doc's final
    // score. Beats the majority floor by ~8 points on both test corpora.
    "corpus_classifier" -> ((s, d) => {
      val base = docs(s, d)
      val markers = TextAnalysis.langMarkers.toMap.apply("en")
      val isGood = size(filter(
        TextAnalysis.whitespaceTokens(col("text")),
        x => x.isin(markers: _*))) >= 3
      val model = Classifier.trainLogistic(base, isGood,
        buckets = 256, steps = 40, lr = 0.05)
      Classifier.logisticScore(base, model, isGood)
    }),
    // the PRODUCTION training mode: gradient passes over a
    // deterministic 250-doc md5-rank sample (the model has only 256
    // parameters — a bounded sample saturates it), full corpus only
    // SCORED. The oracle replays the identical sample pick + 40-step
    // trajectory + full-corpus scoring, so the whole sampled
    // training loop is hash-pinned end to end.
    "corpus_classifier_sampled" -> ((s, d) => {
      val base = docs(s, d)
      val markers = TextAnalysis.langMarkers.toMap.apply("en")
      val isGood = size(filter(
        TextAnalysis.whitespaceTokens(col("text")),
        x => x.isin(markers: _*))) >= 3
      val model = Classifier.trainLogistic(base, isGood,
        buckets = 256, steps = 40, lr = 0.05,
        sampleBudget = Some(250))
      Classifier.logisticScore(base, model, isGood)
    })
  )

  /** One unrolled GD step for the corpus_classifier oracle: integer
    * logits -> per-doc sigmoid requantized to micro-units -> integer
    * gradients -> half-away-rounded weight update. Mirrors
    * `Classifier` exactly. */
  private def classifierStepSql(r: Int, lr: Double = 0.05): String =
    s"""cz$r AS (
       |  SELECT f.doc_id, f.y, sum(f.x * w.wm) AS zm
       |  FROM cf f JOIN cw$r w USING (bucket)
       |  GROUP BY f.doc_id, f.y
       |), cr$r AS (
       |  SELECT doc_id,
       |    CAST(round(1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE) / 1000000.0)))
       |      * 1000000.0) AS BIGINT) - y * 1000000 AS r
       |  FROM cz$r
       |), cg$r AS (
       |  SELECT f.bucket, sum(f.x * g.r) AS gm
       |  FROM cf f JOIN cr$r g USING (doc_id)
       |  GROUP BY f.bucket
       |), cw${r + 1} AS MATERIALIZED (
       |  SELECT w.bucket,
       |    w.wm - CAST(round(CAST(g.gm AS DOUBLE) * $lr / nn.n)
       |      AS BIGINT) AS wm
       |  FROM cw$r w JOIN cg$r g USING (bucket) CROSS JOIN nn
       |)""".stripMargin

  private val curateMarkersSql = TextAnalysis.langMarkers.map {
    case (lang, ms) => lang -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
  }

  val oracles: Map[String, String] = Map(
    "corpus_curate" -> {
      val en = curateMarkersSql.toMap.apply("en")
      val scores = curateMarkersSql.map { case (lang, arr) =>
        s"CAST(len(list_filter(toks, x -> list_contains($arr, x))) AS BIGINT) AS s_$lang"
      }.mkString(",\n    ")
      val best = curateMarkersSql.map(m => s"s_${m._1}")
        .mkString("greatest(", ", ", ")")
      val pred = curateMarkersSql.map { case (lang, _) =>
        s"WHEN best > 0 AND s_$lang = best THEN '$lang'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH t AS (SELECT doc_id, md5(text) AS text_hash,
         |    string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, text_hash,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x))) AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq,
         |    $scores
         |  FROM t),
         |g AS (SELECT doc_id, text_hash, CAST(n AS BIGINT) AS n_tokens,
         |    round(least(n / 100.0, 1.0) * 0.5 +
         |      least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6) AS quality,
         |    $pred AS lang_pred
         |  FROM (SELECT *, $best AS best FROM s)),
         |kept AS (SELECT * FROM g
         |  WHERE quality >= 0.45 AND lang_pred IN ('en')),
         |keepers AS (SELECT text_hash, min(doc_id) AS doc_id
         |  FROM kept GROUP BY text_hash)
         |SELECT k.doc_id, k.lang_pred, k.n_tokens, k.quality
         |FROM kept k JOIN keepers USING (text_hash, doc_id)""".stripMargin
    },
    // DuckDB's windowed sum(BIGINT) returns HUGEINT (Arrow decimal128)
    // which the driver's type-sensitive hash rejects against Spark's
    // int64 — CAST back to BIGINT (q07_running_sum pattern).
    "corpus_pack" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n, CAST(coalesce(sum(n) OVER (
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) AS ex
        |  FROM t
        |)
        |SELECT doc_id, n AS n_tokens, CAST(ex // 1024 AS BIGINT) AS seq_id,
        |  CAST(ex % 1024 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  round(avg(n_chars), 6) AS avg_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rk
        |  FROM documents) WHERE rk <= 10""".stripMargin,
    "corpus_mix" ->
      """WITH r AS (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rk
        |  FROM documents
        |  WHERE lang IN ('en', 'de', 'zh', 'fr', 'es')
        |)
        |SELECT lang, CAST(rk AS BIGINT) AS pick_rank, doc_id
        |FROM r
        |WHERE rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
        |  WHEN 'zh' THEN 30 WHEN 'fr' THEN 20 WHEN 'es' THEN 10 END""".stripMargin,
    "corpus_pool" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), c AS (
        |  SELECT doc_id, array_to_string(
        |      list_slice(l, i + 1, least(i + 40, len(l))), ' ') AS ctext
        |  FROM t, UNNEST(range(0, greatest(len(l), 1), 32)) u(i)
        |  WHERE i < len(l)
        |), emb AS (
        |  SELECT doc_id, list_transform(range(0, 16), j ->
        |      CAST((CAST(concat('0x',
        |        substr(md5(ctext || ':' || CAST(j AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 2000001) % 256 - 128 AS DOUBLE)) AS e
        |  FROM c
        |), px AS (
        |  SELECT doc_id, generate_subscripts(e, 1) - 1 AS dim,
        |    unnest(e) AS v
        |  FROM emb
        |), pool AS (
        |  SELECT doc_id, dim, sum(v) AS s, count(*) AS n
        |  FROM px GROUP BY doc_id, dim
        |)
        |SELECT doc_id, CAST(dim AS BIGINT) AS dim,
        |  CAST(floor(s / n * 1000000.0 + 0.5) AS BIGINT) AS pooled_ppm,
        |  n AS n_chunks
        |FROM pool""".stripMargin,
    "corpus_temp_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), r AS (
        |  SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)
        |    AS root
        |  FROM c
        |), t AS (
        |  SELECT sum(root) AS total FROM r
        |), q AS (
        |  SELECT lang, (200 * root) // total AS quota FROM r, t
        |), ranked AS (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id)
        |    AS rk
        |  FROM documents
        |)
        |SELECT ranked.lang, CAST(rk AS BIGINT) AS pick_rank, doc_id
        |FROM ranked JOIN q USING (lang)
        |WHERE rk <= quota""".stripMargin,
    "corpus_select" -> {
      val en = curateMarkersSql.toMap.apply("en")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x)))
         |      AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
         |  FROM t
         |), g AS (
         |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |    round(least(n / 100.0, 1.0) * 0.5 +
         |      least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6)
         |      AS quality
         |  FROM s
         |), c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY CAST(quality AS DECIMAL(9,6)) DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tokens_before
         |  FROM g
         |)
         |SELECT doc_id, quality, n_tokens, tokens_before
         |FROM c WHERE tokens_before < 20000""".stripMargin
    },
    "corpus_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13),
        |      doc_id) - 1 AS BIGINT) AS pos
        |  FROM documents
        |)
        |SELECT doc_id, pos, pos % 8 AS shard,
        |  CAST(pos // 8 AS BIGINT) AS pos_in_shard
        |FROM r""".stripMargin,
    "corpus_domain_cap" -> {
      val en = curateMarkersSql.toMap.apply("en")
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, source,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x)))
         |      AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
         |  FROM t
         |), g AS (
         |  SELECT doc_id, source,
         |    round(least(n / 100.0, 1.0) * 0.5 +
         |      least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6)
         |      AS quality
         |  FROM s
         |), r AS (
         |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY CAST(quality AS DECIMAL(9,6)) DESC, doc_id) AS rk
         |  FROM g
         |)
         |SELECT source, CAST(rk AS BIGINT) AS pick_rank, doc_id
         |FROM r WHERE rk <= 10""".stripMargin
    },
    "corpus_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), c AS (
        |  SELECT doc_id, i // 32 AS chunk_idx, i AS chunk_start,
        |    list_slice(l, i + 1, least(i + 40, len(l))) AS ctoks
        |  FROM t, UNNEST(range(0, greatest(len(l), 1), 32)) u(i)
        |  WHERE i < len(l)
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ctoks, ' ')) AS chunk_md5
        |FROM c""".stripMargin,
    "pipeline_rag" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), c AS (
        |  SELECT doc_id, doc_id * 1000000 + i // 32 AS cid,
        |    array_to_string(
        |      list_slice(l, i + 1, least(i + 40, len(l))), ' ') AS ctext
        |  FROM t, UNNEST(range(0, greatest(len(l), 1), 32)) u(i)
        |  WHERE i < len(l)
        |), emb AS (
        |  SELECT cid, doc_id, list_transform(range(0, 16), j ->
        |      CAST(CAST(concat('0x',
        |        substr(md5(ctext || ':' || CAST(j AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 2000001 / 1000000.0 - 1.0 AS REAL)) AS e
        |  FROM c
        |), q AS (
        |  SELECT cid AS qid, e AS qe FROM emb WHERE doc_id % 100 = 0
        |), d AS (
        |  SELECT cid, e FROM emb WHERE doc_id % 100 <> 0
        |), dist AS (
        |  SELECT q.qid, d.cid,
        |    (SELECT sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE))
        |        * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))
        |     FROM (SELECT unnest(q.qe) AS a, unnest(d.e) AS b) z) AS dst
        |  FROM q CROSS JOIN d
        |)
        |SELECT qid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY dst, cid ASC) AS BIGINT) AS rank,
        |  cid AS neighbor_id, round(dst, 6) AS dist
        |FROM dist
        |QUALIFY rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "decontaminate_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4] AS s
        |  FROM tok, UNNEST(range(1, len(l) - 3)) AS t(i)
        |), test_sh AS (
        |  SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0
        |), hits AS (
        |  SELECT sh.doc_id, count(*) AS n_shared
        |  FROM sh JOIN test_sh USING (s)
        |  WHERE sh.doc_id % 20 <> 0 GROUP BY sh.doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(coalesce(h.n_shared, 0) > 0 AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 20 <> 0""".stripMargin,
    // DSIR: same hashed-feature buckets (hex-prefix cast, the
    // knn-style portable 52-bit hash), same add-one log-ratio model
    "corpus_dsir" ->
      """WITH f AS (
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    unnest(string_split(text, ' ')) AS feat
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang = 'en' AS is_target,
        |    l[i] || ' ' || l[i+1] AS feat
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l
        |        FROM documents),
        |    UNNEST(range(1, len(l))) u(i)
        |), fb AS (
        |  SELECT doc_id, is_target,
        |    CAST(concat('0x', substr(md5(feat), 1, 13)) AS BIGINT) % 1024
        |      AS bucket
        |  FROM f
        |), pb AS (
        |  SELECT bucket,
        |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t,
        |    sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS r
        |  FROM fb GROUP BY bucket
        |), tot AS (
        |  SELECT CAST(sum(t) AS DOUBLE) AS tt, CAST(sum(r) AS DOUBLE) AS rr
        |  FROM pb
        |), lam AS (
        |  SELECT bucket,
        |    ln((pb.t + 1.0) / (tot.tt + 1024)) -
        |    ln((pb.r + 1.0) / (tot.rr + 1024)) AS lambda
        |  FROM pb CROSS JOIN tot
        |)
        |SELECT doc_id, count(*) AS n_features,
        |  round(sum(lambda), 6) AS weight
        |FROM fb JOIN lam USING (bucket)
        |GROUP BY doc_id""".stripMargin,
    // three-stage funnel: the LM CTEs (shared with text_perplexity)
    // gate the corpus, the span-dedup chain runs over the survivors,
    // the quality-cumsum selection runs over the DEDUPED text
    "pipeline_curate" -> {
      val en = curateMarkersSql.toMap.apply("en")
      s"""WITH ${TextQueries.perplexityCore}, fdocs AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN perdoc p ON p.doc_id = d.doc_id
         |  WHERE round(exp(p.nll), 4) <= 30.09
         |), sp_t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdocs
         |), sp_g AS (
         |  SELECT doc_id, i, array_to_string(toks[i:i+3], ' ') AS gram
         |  FROM sp_t, UNNEST(range(1, len(toks) - 2)) u(i)
         |  WHERE len(toks) >= 4
         |), sp_info AS (
         |  SELECT gram, count(*) AS n_occ FROM sp_g GROUP BY gram
         |), sp_keeper AS (
         |  SELECT gram, doc_id AS kd, i AS ki FROM (
         |    SELECT gram, doc_id, i, row_number() OVER (
         |      PARTITION BY gram ORDER BY doc_id, i) AS rn FROM sp_g)
         |  WHERE rn = 1
         |), sp_removed AS (
         |  SELECT DISTINCT sp_g.doc_id, pos
         |  FROM sp_g JOIN sp_info USING (gram) JOIN sp_keeper USING (gram),
         |    UNNEST(range(i, i + 4)) v(pos)
         |  WHERE sp_info.n_occ >= 2
         |    AND NOT (sp_g.doc_id = sp_keeper.kd AND sp_g.i = sp_keeper.ki)
         |), sp_tok AS (
         |  SELECT doc_id, i AS pos, toks[i] AS tok
         |  FROM sp_t, UNNEST(range(1, len(toks) + 1)) u(i)
         |), sp_kept AS (
         |  SELECT sp_tok.doc_id, sp_tok.pos, sp_tok.tok
         |  FROM sp_tok ANTI JOIN sp_removed
         |    ON sp_tok.doc_id = sp_removed.doc_id
         |    AND sp_tok.pos = sp_removed.pos
         |), sp AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
         |  FROM sp_kept GROUP BY doc_id
         |), q_t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM sp
         |), q_s AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS n,
         |    CAST(len(list_filter(toks, x -> list_contains($en, x)))
         |      AS DOUBLE) AS n_stop,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq
         |  FROM q_t
         |), q_g AS (
         |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |    round(least(n / 100.0, 1.0) * 0.5 +
         |      least(n_stop / n * 5.0, 1.0) * 0.2 + (n_uniq / n) * 0.3, 6)
         |      AS quality
         |  FROM q_s
         |), q_c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY CAST(quality AS DECIMAL(9,6)) DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tokens_before
         |  FROM q_g
         |)
         |SELECT doc_id, quality, n_tokens, tokens_before
         |FROM q_c WHERE tokens_before < 20000""".stripMargin
    },
    // hybrid fusion: the shared BM25 CTEs over the non-probe corpus
    // + the pipeline_rag md5-embedder SQL for the dense side, RRF'd.
    // The fused score is emitted UNROUNDED — 1/(rank+60) divisions
    // and one addition are bit-identical across engines.
    "pipeline_hybrid" ->
      s"""WITH bm_all AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks
         |  FROM documents
         |), bm_t AS (
         |  SELECT doc_id, toks FROM bm_all WHERE doc_id % 97 <> 0
         |), qdoc AS (
         |  SELECT doc_id AS qid,
         |    array_to_string(list_slice(toks, 1, 5), ' ') AS qtext
         |  FROM bm_all WHERE doc_id % 97 = 0
         |), bm_q AS (
         |  SELECT DISTINCT qid, term FROM (
         |    SELECT qid, unnest(string_split(qtext, ' ')) AS term
         |    FROM qdoc)
         |), ${TextQueries.bm25Core("bm_t")}, sparse AS (
         |  SELECT qid, doc_id, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS r
         |  FROM bm_sc QUALIFY r <= 20
         |), demb AS (
         |  SELECT doc_id, list_transform(range(0, 16), j ->
         |      CAST(CAST(concat('0x',
         |        substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15))
         |        AS BIGINT) % 2000001 / 1000000.0 - 1.0 AS REAL)) AS e
         |  FROM bm_all WHERE doc_id % 97 <> 0
         |), qemb AS (
         |  SELECT qid, list_transform(range(0, 16), j ->
         |      CAST(CAST(concat('0x',
         |        substr(md5(qtext || ':' || CAST(j AS VARCHAR)), 1, 15))
         |        AS BIGINT) % 2000001 / 1000000.0 - 1.0 AS REAL)) AS e
         |  FROM qdoc
         |), dd AS (
         |  SELECT q.qid, d.doc_id,
         |    (SELECT sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE))
         |        * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))
         |     FROM (SELECT unnest(q.e) AS a, unnest(d.e) AS b) z) AS dst
         |  FROM qemb q CROSS JOIN demb d
         |), dense AS (
         |  SELECT qid, doc_id, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, doc_id) AS BIGINT) AS r
         |  FROM dd QUALIFY r <= 20
         |), fuse AS (
         |  SELECT coalesce(s.qid, de.qid) AS qid,
         |    coalesce(s.doc_id, de.doc_id) AS doc_id,
         |    coalesce(1.0 / (s.r + 60), 0.0) +
         |      coalesce(1.0 / (de.r + 60), 0.0) AS rrf
         |  FROM sparse s FULL OUTER JOIN dense de
         |    ON s.qid = de.qid AND s.doc_id = de.doc_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, rrf AS rrf_score
         |FROM fuse
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // integer micro-weight pooling replayed cell by cell, floats
    // only at the final normalization and the zipped-unnest distance
    "pipeline_sif" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS term FROM t
        |), sdf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
        |), nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        |), wtok AS (
        |  SELECT tok.doc_id, u.j,
        |    (CAST(concat('0x', substr(md5(term || ':' ||
        |        CAST(u.j AS VARCHAR)), 1, 15)) AS BIGINT) % 2000001)
        |      * CAST(round(1000000.0 * CAST(nn.n AS DOUBLE) /
        |          CAST(sdf.df AS DOUBLE)) AS BIGINT) AS wv
        |  FROM tok JOIN sdf USING (term) CROSS JOIN nn,
        |    UNNEST(range(0, 16)) u(j)
        |), pool AS (
        |  SELECT doc_id, j, CAST(sum(wv) AS BIGINT) AS p
        |  FROM wtok GROUP BY doc_id, j
        |), ntok AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY doc_id
        |), emb AS (
        |  SELECT pool.doc_id,
        |    list(CAST(CAST(pool.p AS DOUBLE) / 1000000000000.0 /
        |      CAST(ntok.n_tokens AS DOUBLE) AS REAL) ORDER BY pool.j)
        |      AS e
        |  FROM pool JOIN ntok USING (doc_id)
        |  GROUP BY pool.doc_id
        |), q AS (
        |  SELECT doc_id AS qid, e AS qe FROM emb WHERE doc_id % 97 = 0
        |), d AS (
        |  SELECT doc_id, e FROM emb WHERE doc_id % 97 <> 0
        |), dist AS (
        |  SELECT q.qid, d.doc_id,
        |    (SELECT sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE))
        |        * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))
        |     FROM (SELECT unnest(q.qe) AS a, unnest(d.e) AS b) z) AS dst
        |  FROM q CROSS JOIN d
        |)
        |SELECT qid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY dst, doc_id ASC) AS BIGINT) AS rank,
        |  doc_id AS neighbor_id, round(dst, 6) AS dist
        |FROM dist
        |QUALIFY rank <= 10
        |ORDER BY qid, rank""".stripMargin,
    // the hybrid oracle's sparse/dense rankers + the knn_rank_metrics
    // metric tail (recall/MRR/NDCG@10, truth-averaged)
    "bm25_rank_metrics" ->
      s"""WITH bm_all AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks
         |  FROM documents
         |), bm_t AS (
         |  SELECT doc_id, toks FROM bm_all WHERE doc_id % 97 <> 0
         |), qdoc AS (
         |  SELECT doc_id AS qid,
         |    array_to_string(list_slice(toks, 1, 5), ' ') AS qtext
         |  FROM bm_all WHERE doc_id % 97 = 0
         |), bm_q AS (
         |  SELECT DISTINCT qid, term FROM (
         |    SELECT qid, unnest(string_split(qtext, ' ')) AS term
         |    FROM qdoc)
         |), ${TextQueries.bm25Core("bm_t")}, found AS (
         |  SELECT qid, doc_id AS neighbor_id, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS rank
         |  FROM bm_sc QUALIFY rank <= 10
         |), demb AS (
         |  SELECT doc_id, list_transform(range(0, 16), j ->
         |      CAST(CAST(concat('0x',
         |        substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15))
         |        AS BIGINT) % 2000001 / 1000000.0 - 1.0 AS REAL)) AS e
         |  FROM bm_all WHERE doc_id % 97 <> 0
         |), qemb AS (
         |  SELECT qid, list_transform(range(0, 16), j ->
         |      CAST(CAST(concat('0x',
         |        substr(md5(qtext || ':' || CAST(j AS VARCHAR)), 1, 15))
         |        AS BIGINT) % 2000001 / 1000000.0 - 1.0 AS REAL)) AS e
         |  FROM qdoc
         |), dd AS (
         |  SELECT q.qid, d.doc_id,
         |    (SELECT sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE))
         |        * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))
         |     FROM (SELECT unnest(q.e) AS a, unnest(d.e) AS b) z) AS dst
         |  FROM qemb q CROSS JOIN demb d
         |), truth AS (
         |  SELECT qid, doc_id AS neighbor_id FROM (
         |    SELECT qid, doc_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, doc_id) AS trk FROM dd)
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
    // rank among non-self candidates directly — equivalent to the
    // engine's top-6-then-drop-self (top-6 contains the top-5
    // non-self by construction)
    "pipeline_dpr" ->
      s"""WITH bm_t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), bm_q AS (
         |  SELECT DISTINCT qid, term FROM (
         |    SELECT doc_id AS qid, unnest(list_slice(toks, 1, 5)) AS term
         |    FROM bm_t WHERE doc_id % 97 = 0)
         |), ${TextQueries.bm25Core("bm_t")}
         |SELECT qid, qid AS pos_id, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT)
         |    AS neg_rank,
         |  doc_id AS neg_id, score
         |FROM bm_sc
         |WHERE doc_id <> qid
         |QUALIFY neg_rank <= 5
         |ORDER BY qid, neg_rank""".stripMargin,
    // farthest-point greedy replayed as a recursive CTE over the
    // 6dp-rounded pair-distance matrix: at each step append the
    // unselected point with the largest min-distance-to-selected
    // (ties to min id) — the engine's k narrow passes produce the
    // identical order
    "corpus_coreset" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
        |), dm AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    round((SELECT sum((CAST(z.x AS DOUBLE) - CAST(z.y AS DOUBLE))
        |        * (CAST(z.x AS DOUBLE) - CAST(z.y AS DOUBLE)))
        |      FROM (SELECT unnest(a.embedding) AS x,
        |            unnest(b.embedding) AS y) z), 6) AS d
        |  FROM e a CROSS JOIN e b
        |), sel(it, ids) AS (
        |  SELECT 1, [(SELECT min(vec_id) FROM e)]
        |  UNION ALL
        |  SELECT it + 1,
        |    CASE WHEN (
        |      SELECT m.j FROM (
        |        SELECT dm.j, min(dm.d) AS md FROM dm
        |        WHERE list_contains(sel.ids, dm.i)
        |          AND NOT list_contains(sel.ids, dm.j)
        |        GROUP BY dm.j) m
        |      ORDER BY m.md DESC, m.j LIMIT 1) IS NULL THEN ids
        |    ELSE list_append(ids, (
        |      SELECT m.j FROM (
        |        SELECT dm.j, min(dm.d) AS md FROM dm
        |        WHERE list_contains(sel.ids, dm.i)
        |          AND NOT list_contains(sel.ids, dm.j)
        |        GROUP BY dm.j) m
        |      ORDER BY m.md DESC, m.j LIMIT 1)) END
        |  FROM sel WHERE it < 10
        |), last AS (
        |  SELECT ids FROM sel ORDER BY it DESC LIMIT 1
        |)
        |SELECT CAST(g.g + 1 AS BIGINT) AS rank,
        |  CAST(ids[CAST(g.g + 1 AS INTEGER)] AS BIGINT) AS vec_id
        |FROM last, UNNEST(range(0, len(ids))) g(g)
        |ORDER BY rank""".stripMargin,
    // the full 40-step training trajectory unrolled, then every doc
    // scored with the final weights
    "corpus_classifier" -> {
      val nSteps = 40
      val steps = (0 until nSteps).map(classifierStepSql(_))
        .mkString(",\n")
      val en = curateMarkersSql.toMap.apply("en")
      s"""WITH cf AS MATERIALIZED (
         |  SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS x
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(list_filter(string_split(text, ' '),
         |        m -> list_contains($en, m))) >= 3 THEN 1 ELSE 0
         |        END AS y,
         |      CAST(concat('0x', substr(md5(term), 1, 13)) AS BIGINT)
         |        % 256 AS bucket
         |    FROM (SELECT doc_id, text,
         |            unnest(string_split(text, ' ')) AS term
         |          FROM documents))
         |  GROUP BY doc_id, y, bucket
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |), cw0 AS MATERIALIZED (
         |  SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wm FROM cf
         |),
         |$steps,
         |czf AS (
         |  SELECT f.doc_id, f.y, sum(f.x * w.wm) AS zm
         |  FROM cf f JOIN cw$nSteps w USING (bucket)
         |  GROUP BY f.doc_id, f.y
         |), cpf AS (
         |  SELECT doc_id, y,
         |    CAST(round(1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE) / 1000000.0)))
         |      * 1000000.0) AS BIGINT) AS p_micro
         |  FROM czf
         |)
         |SELECT doc_id, p_micro, y,
         |  CAST((p_micro >= 500000) = (y = 1) AS BIGINT) AS correct
         |FROM cpf""".stripMargin
    },
    "corpus_classifier_sampled" -> {
      val nSteps = 40
      val budget = 250
      val steps = (0 until nSteps).map(classifierStepSql(_))
        .mkString(",\n")
      val en = curateMarkersSql.toMap.apply("en")
      // cf (training features) comes from the md5-rank sample; nn is
      // the SAMPLE size, so every unrolled step divides by it exactly
      // as the engine does. Final scoring runs over cfall (the full
      // corpus) with a LEFT join + coalesce: a bucket the sample
      // never saw scores with weight 0, matching the engine's dense
      // zero-default model array.
      s"""WITH samp AS MATERIALIZED (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13),
         |        doc_id) AS rk
         |    FROM documents) WHERE rk <= $budget
         |), cfall AS MATERIALIZED (
         |  SELECT doc_id, y, bucket, CAST(count(*) AS BIGINT) AS x
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(list_filter(string_split(text, ' '),
         |        m -> list_contains($en, m))) >= 3 THEN 1 ELSE 0
         |        END AS y,
         |      CAST(concat('0x', substr(md5(term), 1, 13)) AS BIGINT)
         |        % 256 AS bucket
         |    FROM (SELECT doc_id, text,
         |            unnest(string_split(text, ' ')) AS term
         |          FROM documents))
         |  GROUP BY doc_id, y, bucket
         |), cf AS MATERIALIZED (
         |  SELECT f.* FROM cfall f JOIN samp USING (doc_id)
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM samp
         |), cw0 AS MATERIALIZED (
         |  SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wm FROM cf
         |),
         |$steps,
         |czf AS (
         |  SELECT f.doc_id, f.y, sum(f.x * coalesce(w.wm, 0)) AS zm
         |  FROM cfall f LEFT JOIN cw$nSteps w USING (bucket)
         |  GROUP BY f.doc_id, f.y
         |), cpf AS (
         |  SELECT doc_id, y,
         |    CAST(round(1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE) / 1000000.0)))
         |      * 1000000.0) AS BIGINT) AS p_micro
         |  FROM czf
         |)
         |SELECT doc_id, p_micro, y,
         |  CAST((p_micro >= 500000) = (y = 1) AS BIGINT) AS correct
         |FROM cpf""".stripMargin
    }
  )
}

/** ANN + quantization query pack over `embeddings`. */
object AnnQueries {
  import SparkEntry._

  /** One grid run per (session, dir) — the four grid_* queries are
    * different analytics over the same results table (the reference
    * likewise post-processes one CSV, plot_bench.py:26-38). */
  private val gridCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop the shared grid sweep (Bench calls this between passes so a
    * re-measured grid query re-runs the sweep instead of reading the
    * first pass's cache). */
  def clearGridCache(): Unit = {
    gridCache.values.foreach(_.unpersist(blocking = false))
    gridCache.clear()
  }

  def gridResults(s: SparkSession, d: String): DataFrame =
    gridCache.getOrElseUpdate((s, d), {
      val base = Tables.load(s, d, "embeddings")
      val totalBase = base.filter(col("vec_id") % 50 =!= 0).count()
      // BOTH algo sweeps, harmonized via unionByName — the reference
      // likewise loads the CAGRA and HNSW result CSVs, renames to a
      // common column map and concats (create_plots.ipynb
      // load_benchmark_csvs / DEFAULT_COLMAP, plot_bench.py:26-38):
      // ivf rows carry nprobe, nsw rows carry (m, ef_search)
      // ground truth computed ONCE and shared by both sweeps
      val truth = GridSearch.truthSetsOf(dataDf(s, d), queriesDf(s, d),
        filterLow).cache()
      truth.count()
      // ... and ONE seeded quantizer per npartitions value, shared by
      // both sweeps (bit-identical to per-sweep retraining — the IVF
      // np=8 group and the whole NSW sweep reuse the same train)
      val filtered = dataDf(s, d).filter(filterLow).cache()
      // a failed shared train degrades to per-sweep training, whose
      // per-npartitions Try produces P9 error rows instead of aborting
      val quant = scala.util.Try(
        GridSearch.trainQuantizers(filtered, Seq(8, 16)))
        .getOrElse(Map.empty)
      // OVERLAPPED SWEEPS (r20, guide §2.6): the two algo sweeps are
      // independent given the shared truth/quantizers — run them from
      // two driver threads so the NSW sweep's jobs back-fill the IVF
      // sweep's stragglers (and vice versa). Every deterministic
      // output column (recall, n_candidates, totals) is unchanged;
      // only the human-facing wall-clock columns see scheduler
      // contention, the noise they already carry (rows-only in the
      // oracle by design).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val ivfF = Future(GridSearch.run(s, dataDf(s, d), queriesDf(s, d),
        "low", filterLow, totalBase, precomputedTruth = Some(truth),
        sharedQuantizers = quant))
      val nswF = Future(GridSearch.runNsw(s, dataDf(s, d), queriesDf(s, d),
        "low", filterLow, totalBase, precomputedTruth = Some(truth),
        sharedQuantizers = quant))
      val res = Await.result(ivfF, Duration.Inf)
        .unionByName(Await.result(nswF, Duration.Inf),
          allowMissingColumns = true)
      res.cache()
      res.count()
      truth.unpersist(blocking = false)
      quant.values.foreach(_._2.unpersist(blocking = false))
      filtered.unpersist(blocking = false)
      res
    })

  /** Shared per-(session, dir) ANN inputs: seeded k-means centroids,
    * the exact-oracle ground truth, and the PQ codebook. The four
    * ann_* queries are different index strategies evaluated against
    * the SAME oracle — the reference likewise computes ground truth
    * once per run (utils_grid_search.py:521-583) and trains per
    * quantization, not per parameter combo. Centroids/codebook are
    * local objects (training is eager); only `truth` holds executor
    * storage, dropped by `clearAnnCache`. */
  private final class AnnShared(s: SparkSession, d: String) {
    private def data = dataDf(s, d).filter(filterLow)
    // lazy per field: each ann_* query pays only for the pieces it
    // touches; later pack members reuse them for free
    lazy val centroids: DataFrame =
      AnnIvf.train(data, numCentroids = 16, iterations = 2)
    private var truthRef: Option[DataFrame] = None
    def truth: DataFrame = synchronized {
      truthRef.getOrElse {
        val t = Knn.exact(data, queriesDf(s, d), K).cache()
        t.count()
        truthRef = Some(t)
        t
      }
    }
    lazy val codebook: Pq.Codebook =
      Pq.train(data, m = 8, ksub = 16, iterations = 2)
    def drop(): Unit = synchronized {
      truthRef.foreach(_.unpersist(blocking = false))
      truthRef = None
    }
  }
  private val annCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), AnnShared]

  private def annShared(s: SparkSession, d: String): AnnShared =
    annCache.getOrElseUpdate((s, d), new AnnShared(s, d))

  /** Drop the shared ANN state (Bench calls this between passes). */
  def clearAnnCache(): Unit = {
    annCache.values.foreach(_.drop())
    annCache.clear()
  }

  /** Fixed data-row coarse centroids (vec_id % mod == 7, numbered in
    * vec_id order) — the ONE construction behind every *_fixed /
    * *_persist / *_serve query, so the modulus and tie-break can never
    * desynchronize from their shared SQL oracles. The single-task
    * window is fine: this is the centroid table (O(cells) rows), not
    * the corpus. */
  private def fixedCentroids(df: DataFrame, mod: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
    df.filter(col("vec_id") % mod === 7)
      .select((row_number().over(w) - 1).as("cid"),
        col("embedding").as("centroid"))
  }

  /** Fixed data-row PQ codebook (vec_id % 31 == 3, each seed sliced
    * per subspace) — shared by ann_pq_fixed and ann_ivfpq_fixed for
    * the same reason. */
  private def fixedCodebook(s: SparkSession, df: DataFrame,
      m: Int = 8): Pq.Codebook = {
    import s.implicits._
    val seeds = df.filter(col("vec_id") % 31 === 3)
      .orderBy(col("vec_id"))
      .select(col("embedding")).as[Array[Float]].collect()
    val dsub = seeds(0).length / m
    Pq.Codebook(m, dsub,
      Array.tabulate(m)(sb =>
        seeds.map(_.slice(sb * dsub, (sb + 1) * dsub))))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "grid_search_results" -> ((s, d) => gridResults(s, d)),
    "grid_pareto" -> ((s, d) =>
      // deterministic recall-vs-cost frontier per algo: the cost knob
      // is nprobe for ivf rows and efSearch for nsw rows (each algo's
      // own recall dial, like the reference's per-algo plots); the QPS
      // columns stay human-facing
      Analytics.paretoFrontier(
        gridResults(s, d).select(col("algo"), col("npartitions"),
          coalesce(col("nprobe"), col("ef_search")).as("cost_knob"),
          col("recall"), col("n_candidates")),
        partCols = Seq("algo", "npartitions"),
        costCol = "cost_knob", gainCol = "recall")),
    "grid_summary" -> ((s, d) =>
      Analytics.bestBy(
        gridResults(s, d).select(col("algo"), col("npartitions"),
          coalesce(col("nprobe"), col("ef_search")).as("cost_knob"),
          col("recall")),
        groupCols = Seq("algo", "npartitions"),
        metric = "recall", tieCols = Seq("cost_knob"))
        .select(col("algo"), col("npartitions"), col("best_recall"),
          col("best_row.cost_knob").as("best_cost_knob"))),
    "grid_brackets" -> ((s, d) =>
      Analytics.bracketSummary(gridResults(s, d), "npartitions")),
    // the J7 grid machinery under a FULL oracle: GridSearch.run's
    // shared-scan evaluation (one index scan at max nprobe, per-level
    // top-k + recall + candidate counts from the probe-rank fanout)
    // driven with FIXED data-row centroids injected through the
    // sharedQuantizers hook — every deterministic output column
    // (recall, n_candidates, totals) becomes exactly SQL-reproducible;
    // the wall-clock columns stay out of the projection. recall is
    // emitted as ppm (the engine's own rint(rec*1e6) integer), so the
    // compare hashes an integer, not a rounded double.
    "grid_fixed" -> ((s, d) => {
      val base = Tables.load(s, d, "embeddings")
      val totalBase = base.filter(col("vec_id") % 50 =!= 0).count()
      val filtered = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(filtered, 311).cache()
      val nc = centroids.count().toInt
      val indexed = AnnIvf.index(filtered, centroids).cache()
      indexed.count()
      // run() materializes its result rows eagerly (local toDF), so
      // the shared caches can drop as soon as it returns
      val res = GridSearch.run(s, dataDf(s, d), queriesDf(s, d),
        "low", filterLow, totalBase,
        grid = Seq(GridSearch.Combo(nc, 1), GridSearch.Combo(nc, 2)),
        sharedQuantizers = Map(nc -> ((centroids, indexed, 0.0))))
      centroids.unpersist(); indexed.unpersist()
      res.select(col("algo"),
        col("npartitions").cast("long").as("npartitions"),
        col("nprobe").cast("long").as("nprobe"),
        col("total_vectors"), col("total_queries"),
        // floor(x*1e6 + 0.5) on BOTH engines: no rint-vs-round
        // half-ppm tie hazard (recall is already 6dp-rounded, so the
        // value sits within an ulp of an integer)
        floor(col("recall") * 1e6 + 0.5).cast("long").as("recall_ppm"),
        col("n_candidates"))
    }),
    // P9 under the driver: a grid with one healthy combo and one
    // poisoned combo (npartitions = 0 — the coarse quantizer cannot
    // probe zero cells). The sweep must CONTINUE past the failing
    // build and emit a deterministic error row for it while the
    // healthy combo still produces results — the reference's
    // failing-combo pass-through (cuvs_bench_grid_search_v3.py:
    // 706-722). Only order-deterministic columns are projected (the
    // healthy row's recall depends on seeded k-means, so it is
    // reduced to a produced/failed flag).
    "grid_errors" -> ((s, d) => {
      val base = Tables.load(s, d, "embeddings")
      val totalBase = base.filter(col("vec_id") % 50 =!= 0).count()
      GridSearch.run(s, dataDf(s, d), queriesDf(s, d), "low", filterLow,
          totalBase,
          grid = Seq(GridSearch.Combo(8, 1), GridSearch.Combo(0, 1)))
        .select(col("algo"),
          col("npartitions").cast("long").as("npartitions"),
          col("nprobe").cast("long").as("nprobe"),
          (col("build_time_seconds") < 0).as("failed"),
          // the P9 contract is "failure becomes an error row", not
          // "which exception": a shape assertion keeps the oracle
          // stable across JDK message phrasing and internal refactors
          col("error").isNotNull.as("has_error"))
    }),
    // the FULL IVF-PQ persisted pipeline under an exact oracle — the
    // flagship 100-TB layout end to end: fixed coarse centroids
    // (mod 311), fixed PQ codebooks (mod 31 = 3), the code table
    // written clustered partitionBy(cid) WITH the label column, then
    // served with a query-time filter + partition-pruned probes + ADC
    // LUT scoring. Coarse assignment and PQ codes are pure per-row
    // functions, so the SQL oracle composes the probe pruning of
    // ann_ivf_fixed with the ADC ranking of ann_pq_fixed.
    "ann_ivfpq_fixed" -> ((s, d) => {
      val all = dataDf(s, d)
      val filtered = all.filter(filterLow)
      val centroids = fixedCentroids(filtered, 311)
      val cb = fixedCodebook(s, filtered)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_q").toString
      // raw-code mode EXPLICIT on both sides (residual became the
      // API default in round 12; this entry pins the raw path)
      Pq.writeIvfPqIndex(all, centroids, cb, tmp, extraCols = Seq("label"),
        residual = false)
      Pq.searchPersistedAdc(s, tmp, centroids, cb, queriesDf(s, d), K,
          nprobe = 2, dataFilter = Some(filterLow), residual = false)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // RESIDUAL IVF-PQ under the same composed oracle — the classic
    // IVF-PQ (Jégou et al. 2011; FAISS IndexIVFPQ default): codes are
    // PQ(vec − centroid(cid)) and the serve-time LUT is built from
    // q − centroid(probed cell), per (query, cell). Both residual
    // subtractions are float32 on BOTH engines (Spark zip_with /
    // engine float sub; DuckDB FLOAT − FLOAT), so the encode argmin
    // and ADC sums stay exactly SQL-reproducible. Same serve-time
    // label filter + unfiltered shared index as ann_ivfpq_fixed (cell
    // assignment, residual, and codes are pure per-row functions).
    "ann_ivfpq_residual" -> ((s, d) => {
      val all = dataDf(s, d)
      val filtered = all.filter(filterLow)
      val centroids = fixedCentroids(filtered, 311)
      val cb = fixedCodebook(s, filtered)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfpqr_q").toString
      Pq.writeIvfPqIndex(all, centroids, cb, tmp,
        extraCols = Seq("label"), residual = true)
      Pq.searchPersistedAdc(s, tmp, centroids, cb, queriesDf(s, d), K,
          nprobe = 2, dataFilter = Some(filterLow), residual = true)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    "ann_ivf_topk" -> ((s, d) => {
      val sh = annShared(s, d)
      val data = dataDf(s, d).filter(filterLow)
      AnnIvf.search(AnnIvf.index(data, sh.centroids), sh.centroids,
          queriesDf(s, d), K, nprobe = 4)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // IVF mechanics under a FULL oracle: the coarse centroids are
    // FIXED data rows (vec_id % 311 == 7) instead of k-means output,
    // so cell assignment (argmin, ties to lowest cid), probe pruning
    // (2 nearest cells per query), and the in-cell exact top-k are
    // all reproducible in SQL — the one configuration where the
    // approximate-search machinery is exactly checkable end to end.
    // The engine code path is IDENTICAL to ann_ivf_topk; only the
    // centroid table differs.
    "ann_ivf_fixed" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      AnnIvf.search(AnnIvf.index(data, centroids), centroids,
          queriesDf(s, d), K, nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the RESIDENT flat-IVF serving lowering under the same full
    // oracle: each partition of the indexed relation decoded once
    // into a hash-mixed FlatBlock (parallel primitive arrays, object
    // RDD — blocks, not per-cell units, so probe skew can't create
    // straggler partitions) and probe-scanned in place — bit-identical
    // to searchFast (KnnSpec pins distances); this entry puts the
    // resident tier under the DuckDB oracle too
    "ann_ivf_serve_resident" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val cells = AnnIvf.servableCells(AnnIvf.index(data, centroids))
      try AnnIvf.searchServableCells(cells, centroids, queriesDf(s, d),
          K, nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
        .localCheckpoint()
      finally cells.unpersist()
    }),
    // FILTERED serving from the SAME resident tier: the index decodes
    // once with the label as its resident attribute, and the scan's
    // attrPred skips non-survivors before the distance — pre-filter
    // semantics (identical to searchFast over the filtered relation,
    // KnnSpec) without leaving the decoded tier. Same oracle recipe
    // as serve_auto_strong: hash-equality proves the resident filtered
    // scan IS the pre-filter.
    "ann_ivf_serve_resident_filtered" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val cells = AnnIvf.servableCells(AnnIvf.index(data, centroids),
        attrCol = Some("label"))
      try AnnIvf.searchServableCells(cells, centroids, queriesDf(s, d),
          K, nprobe = 2, attrPred = Some(a => a == 0.0 || a == 1.0))
        .select(col("qid"), col("rank"), col("neighbor_id"))
        .localCheckpoint()
      finally cells.unpersist()
    }),
    // COST-BASED FILTERED SERVING (Serving.serveFiltered): the
    // round-11 dispatch rule measured at 5M — mild filters →
    // graph-overfetch, strong → IVF pre-filter, extreme → exact scan
    // — as one API over ONE shared set of unfiltered artifacts. These
    // three entries drive each branch end to end, with the MEASURED
    // selectivity doing the routing (a require pins which branch ran,
    // so a dispatch regression fails loudly rather than silently
    // passing a different branch's oracle).
    // Strong: filterHigh keeps ~23% of the filterLow base → IVF
    // pre-filter over the shared fixed-centroid index; same oracle
    // recipe as ann_ivf_fixed with the survivor predicate applied.
    "serve_auto_strong" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val art = Serving.Artifacts(AnnIvf.index(base, centroids), centroids)
      // extreme pinned to the fixed 0.02: this entry exists to drive
      // the PREFILTER branch under the oracle; at sf-fixture geometry
      // (2 mod-311 cells at sf0.01 — 2 probes cover both) the
      // cost-based default would honestly route to the equal-result
      // exact scan
      val (strat, res) = Serving.serveFilteredExplained(art,
        queriesDf(s, d), K, filterHigh, nprobe = 2, extreme = 0.02)
      require(strat == Serving.IvfPrefilter, s"dispatched $strat")
      res.select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the LOCAL tier's tombstone consistency under a FULL oracle:
    // ann_nsw_tombstone's exact fixture (side-table on the clustered
    // layout, exhaustive-beam parameters) served through the
    // driver-local replica with the same serve-time mask — the local
    // drain shares drainBeamTopK with the job path, and this entry
    // puts that shared masked drain under the DuckDB survivor oracle.
    "serve_local_tombstone" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val indexed = AnnIvf.index(data, centroids)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_local_tmb").toString
      AnnIvf.writeIndex(indexed, tmp)
      AnnIvf.tombstone(s, tmp,
        data.filter(col("vec_id") % 11 === 4).select(col("vec_id")))
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(indexed, m = 32, efConstruction = 64))
      try {
        val rep = NswGraph.localReplica(idx, centroids)
        NswGraph.searchLocal(rep, queriesDf(s, d), K,
            nprobe = 2, efSearch = 128,
            tombstones = AnnIvf.tombstoneIds(s, tmp))
          .select(col("qid"), col("rank"), col("neighbor_id"))
          .localCheckpoint()
      } finally idx.unpersist()
    }),
    // the LOCAL dispatcher's MILD branch under serve_auto_mild's full
    // oracle: same fixture, the selectivity counted from the flat
    // replica's resident attrs (the local twin of the dispatcher's
    // two column-pruned counts — identical integers, so the exact
    // ceil-div k' the SQL replays), the over-fetch beamed on the
    // local graph replica, survivors kept by the attr lookup.
    "serve_local_mild" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 31)
      val indexed = AnnIvf.index(base, centroids)
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(indexed, m = 32, efConstruction = 64))
      val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
      try {
        val graphRep = NswGraph.localReplica(idx, centroids)
        val flatRep = AnnIvf.localCellReplica(cells, centroids)
        val (strat, res) = Serving.serveFilteredLocalDf(flatRep,
          Some(graphRep), queriesDf(s, d), K, a => a != 4.0,
          nprobe = 2, efSearch = 128)
        require(strat == Serving.GraphOverfetch, s"dispatched $strat")
        res.select(col("qid"), col("rank"), col("neighbor_id"))
          .localCheckpoint()
      } finally { idx.unpersist(); cells.unpersist() }
    }),
    // FULLY LOCAL filtered serving (r14) under serve_auto_strong's
    // oracle: the same fixture served through serveFilteredLocalDf —
    // selectivity counted from the replica's resident attrs, strong
    // branch dispatched, the pre-filter probe-scan run entirely
    // in-process (zero Spark jobs past the query collect). The local
    // branches are row-identical to the distributed dispatcher
    // (ServingSpec); hash-equality here puts the in-process kernel
    // under the DuckDB oracle too.
    "serve_local_filtered" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val cells = AnnIvf.servableCells(AnnIvf.index(base, centroids),
        attrCol = Some("label"))
      try {
        val rep = AnnIvf.localCellReplica(cells, centroids)
        // extreme pinned (branch-driving entry; see serve_auto_strong)
        val (strat, res) = Serving.serveFilteredLocalDf(rep, None,
          queriesDf(s, d), K, a => a == 0.0 || a == 1.0, nprobe = 2,
          extreme = 0.02)
        require(strat == Serving.IvfPrefilterResident,
          s"dispatched $strat")
        res.select(col("qid"), col("rank"), col("neighbor_id"))
      } finally cells.unpersist()
    }),
    // BITSET (id-set) filtered serving (r16): the filter is a
    // TWO-COLUMN predicate — no single-attr twin exists — reduced to
    // its sorted survivor id-set by ONE distributed filter
    // (Serving.survivorIdSet, the reference's own bitset filter form)
    // and served fully in-process through the strong branch, the
    // per-row keep test a binary-search membership check. Needs no
    // attr-built replica. Oracle = the ann_ivf_fixed recipe
    // restricted to the same two-column survivor predicate —
    // hash-equality proves the id-set route IS the pre-filter the
    // distributed dispatcher would evaluate from the Column itself.
    "serve_local_bitset" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val indexed = AnnIvf.index(base, centroids)
      val cells = AnnIvf.servableCells(indexed)
      try {
        val rep = AnnIvf.localCellReplica(cells, centroids)
        val ids = Serving.survivorIdSet(indexed,
          col("label").isin(0, 1) && col("vec_id") % 3 =!= 1)
        // extreme pinned (branch-driving entry; see serve_auto_strong)
        val (strat, res) = Serving.serveFilteredLocalIdSetDf(rep, None,
          queriesDf(s, d), K, ids, nprobe = 2, extreme = 0.02)
        require(strat == Serving.IvfPrefilterResident,
          s"dispatched $strat")
        res.select(col("qid"), col("rank"), col("neighbor_id"))
      } finally cells.unpersist()
    }),
    // MULTI-SHARD serving (r17): the serve_local_bitset fixture's
    // replica SPLIT into 3 cell-partitioned shards (shared centroid
    // matrix) and served through the sharded dispatcher — each shard
    // probes the global cell list, scans only the probed cells it
    // owns, and per-query top-k lists merge by the engine's (dist,
    // id) order. Hash-equality against the SAME single-index oracle
    // proves the merge is exact: sharding is a deployment choice,
    // never a semantics change (ShardedSpec pins all three dispatch
    // branches; this puts the strong branch under DuckDB).
    "serve_sharded" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val indexed = AnnIvf.index(base, centroids)
      val cells = AnnIvf.servableCells(indexed)
      try {
        val shards = Sharded.splitCellReplica(
          AnnIvf.localCellReplica(cells, centroids), 3)
        val ids = Serving.survivorIdSet(indexed,
          col("label").isin(0, 1) && col("vec_id") % 3 =!= 1)
        // extreme pinned (branch-driving entry; see serve_auto_strong)
        val (strat, res) = Sharded.serveFilteredShardedIdSetDf(shards,
          queriesDf(s, d), K, ids, nprobe = 2, extreme = 0.02)
        require(strat == Serving.IvfPrefilterResident,
          s"dispatched $strat")
        res.select(col("qid"), col("rank"), col("neighbor_id"))
      } finally cells.unpersist()
    }),
    // the tombstone mask through the DISPATCHER end to end: the
    // side-table written on the persisted layout is refreshed into the
    // shared serving artifacts (Artifacts.refreshTombstones — zero
    // re-decode, selectivity memo cleared) and every dispatch branch
    // serves the masked relation. Oracle = serve_auto_strong's recipe
    // with the tombstoned ids removed from the survivor set — i.e. the
    // dispatcher's masked serve must hash-equal a search over an index
    // that never held those rows.
    "serve_auto_tombstone" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_serve_tmb").toString
      AnnIvf.writeIndex(AnnIvf.index(base, centroids), tmp)
      AnnIvf.tombstone(s, tmp,
        base.filter(col("vec_id") % 11 === 4).select(col("vec_id")))
      val art = Serving.Artifacts(AnnIvf.index(base, centroids), centroids)
      art.refreshTombstones(s, tmp)
      // extreme pinned to the fixed 0.02: this entry exists to drive
      // the PREFILTER branch under the oracle; at sf-fixture geometry
      // (2 mod-311 cells at sf0.01 — 2 probes cover both) the
      // cost-based default would honestly route to the equal-result
      // exact scan
      val (strat, res) = Serving.serveFilteredExplained(art,
        queriesDf(s, d), K, filterHigh, nprobe = 2, extreme = 0.02)
      require(strat == Serving.IvfPrefilter, s"dispatched $strat")
      res.select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // Extreme: filterMid keeps ~2% → exact scan over the survivors
    // (recall 1.0 by construction); oracle = the exact filtered k-NN.
    "serve_auto_extreme" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 311)
      val art = Serving.Artifacts(AnnIvf.index(base, centroids), centroids)
      val (strat, res) = Serving.serveFilteredExplained(art,
        queriesDf(s, d), K, filterMid, extreme = 0.05)
      require(strat == Serving.ExactScan, s"dispatched $strat")
      res.select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // Mild: label <> 4 keeps ~89% of the base → over-fetch
    // k' = ceil-div(3·k·total, survivors) on the UNFILTERED resident
    // graph, drop non-survivors, re-rank to k. The ann_nsw_fixed
    // no-prune recipe (mod-31 cells ≤ 49 rows, m = 32, efSearch =
    // 128) makes the beam provably exact in-cell, so the whole branch
    // — including the integer k' — is SQL-reproducible.
    "serve_auto_mild" -> ((s, d) => {
      val base = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(base, 31)
      val indexed = AnnIvf.index(base, centroids)
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(indexed, m = 32, efConstruction = 64))
      val art = Serving.Artifacts(indexed, centroids, Some(idx))
      try {
        val (strat, res) = Serving.serveFilteredExplained(art,
          queriesDf(s, d), K, col("label") =!= 4, nprobe = 2,
          efSearch = 128)
        require(strat == Serving.GraphOverfetch, s"dispatched $strat")
        res.select(col("qid"), col("rank"), col("neighbor_id"))
          .localCheckpoint()
      } finally idx.unpersist()
    }),
    // the SHUFFLE-JOIN search lowering under the same FULL oracle as
    // ann_ivf_fixed: identical semantics (fixed mod-311 centroids,
    // 2-nearest probes, exact in-cell top-10), but the query side is
    // never broadcast or collected — probes come from the narrow
    // NearestCells expression and candidates from a sort-merge join on
    // the cell id. This is the lowering for when BOTH sides exceed
    // their budgets (millions of re-embedded queries at 100 TB);
    // hash-equality with ann_ivf_fixed's oracle proves the
    // distributed plan changes nothing but the physical join.
    "ann_ivf_bigq" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      AnnIvf.searchShuffled(AnnIvf.index(data, centroids), centroids,
          queriesDf(s, d), K, nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the cogroup HEAP-KERNEL distributed lowering under the same
    // oracle — searchFast's per-pair cost with both sides shuffled
    // once by cell id, the plan for big-query x big-data (see
    // searchShuffledFast's scaladoc)
    "ann_ivf_bigq_fast" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      AnnIvf.searchShuffledFast(AnnIvf.index(data, centroids), centroids,
          queriesDf(s, d), K, nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the TWO-LEVEL coarse quantizer under a FULL oracle — the
    // ann_ivf_fixed recipe composed through BOTH levels: supers are
    // fixed data rows (vec_id % 149 == 7), subs fixed rows
    // (vec_id % 31 == 7). Assignment is hierarchical (argmin super by
    // (dist, sid), then argmin over only that super's member subs by
    // (dist, cid)) — the row-linear scale path that replaces the flat
    // n×C argmin past ~100M rows. Probe ranking stays flat-exact over
    // the full centroid table (queries are few; data rows are the
    // asymptote), so the probe/top-k half of the oracle is unchanged.
    "ann_ivf2_fixed" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val supers = fixedCentroids(data, 149).withColumnRenamed("cid", "sid")
      val centroids = fixedCentroids(data, 31)
      val indexed = AnnIvf.indexTwoLevel(data, supers, centroids,
        wSuper = 1) // the oracle models the single-nearest-super scan
      AnnIvf.search(indexed, centroids, queriesDf(s, d), K, nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    "ann_ivf_recall" -> ((s, d) => {
      val sh = annShared(s, d)
      val data = dataDf(s, d).filter(filterLow)
      val found = AnnIvf.search(AnnIvf.index(data, sh.centroids),
        sh.centroids, queriesDf(s, d), K, nprobe = 4)
      // self-reporting floor: recall here is bit-deterministic per SF
      // (seeded k-means + deterministic search), so a regression in the
      // IVF path flips `ok` in the recorded CORRECTNESS row even though
      // the value itself has no SQL oracle (sf0.01 observed: 0.62)
      Recall.ofRanked(found, sh.truth)
        .withColumn("ok", col("recall") >= lit(0.55))
    }),
    // PQ compressed-storage search (rows-only: codebooks come from
    // seeded k-means; the ADC==decoded-brute-force identity and recall
    // floors are pinned in PqSpec): one row with ADC and refined
    // recall vs the exact oracle
    "ann_pq_recall" -> ((s, d) => {
      val sh = annShared(s, d)
      val data = dataDf(s, d).filter(filterLow)
      val q = queriesDf(s, d)
      val codes = Pq.encode(data, sh.codebook).cache()
      // ONE ADC scan feeds both metrics (r21 build-reuse within the
      // run): pure ADC top-K is the rank <= K prefix of the K×4
      // shortlist (same (dist, id) total order), and the refined side
      // re-ranks the same shortlist — previously two full ADC passes
      val shortlist = Pq.searchAdc(codes, sh.codebook, q, K * 4).cache()
      val pure = Recall.ofRanked(shortlist.filter(col("rank") <= K),
          sh.truth)
        .select(col("n_queries"), col("recall").as("recall_adc"))
      val refined = Recall.ofRanked(
          Pq.refineShortlist(shortlist, data, q, K),
          sh.truth)
        .select(col("recall").as("recall_refined"))
      // materialize the one-row result, then release both caches
      try pure.crossJoin(refined)
        // floors self-report regressions (sf0.01 observed: 0.31 / 0.58;
        // refined must also beat pure ADC — the re-rank can only help)
        .withColumn("ok", col("recall_adc") >= lit(0.25) &&
          col("recall_refined") >= lit(0.5) &&
          col("recall_refined") >= col("recall_adc"))
        .localCheckpoint()
      finally { shortlist.unpersist(); codes.unpersist() }
    }),
    // fp16-stored corpus (the reference's embedding dtype,
    // README_reviews.md:84): the data side is snapped to the 2^-7
    // grid (every multiple of 1/128 with |v| < 16 is binary16-exact)
    // and round-tripped through the real Fp16 codec before the exact
    // search — the codec is driven end to end, the round trip is
    // provably lossless, and the DuckDB oracle reproduces every
    // distance exactly. True-rounding behavior (non-grid inputs) is
    // pinned separately in Fp16Spec.
    "knn_fp16" -> ((s, d) => {
      val grid = transform(col("embedding"), v =>
        (floor(v.cast("double") * 128.0 + 0.5) / 128.0).cast("float"))
      val dataF16 = dataDf(s, d).filter(filterLow)
        .select(col("vec_id"),
          GraftFunctions.fp16Decode(
            GraftFunctions.fp16Encode(grid)).as("embedding"))
      Knn.exact(dataF16, queriesDf(s, d), K)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // Hamming-metric APPROXIMATE search — the reference's binary-HNSW
    // path (IndexBinaryHNSW over sign-packed vectors,
    // utils_grid_search.py:649-654): NSW graph + IVF probes with the
    // bitwise-hamming fine distance (coarse quantizer stays float
    // k-means, the standard binary-IVF shape). Rows-only: approximate,
    // and hamming's massive distance ties make top-k id sets
    // tie-ordering-dependent (the reference admits ignoring ties,
    // utils_grid_search.py:84); recall floors are pinned in NswSpec.
    "ann_hamming_recall" -> ((s, d) => {
      val sh = annShared(s, d)
      val data = dataDf(s, d).filter(filterLow)
      val q = queriesDf(s, d)
      val truth = Knn.exactHamming(data, q, K)
      val foundNsw = NswGraph.search(data.repartition(4), q, K,
        m = 8, efSearch = 64, metric = "hamming")
      val foundIvf = AnnIvf.search(AnnIvf.index(data, sh.centroids),
        sh.centroids, q, K, nprobe = 4, metric = "hamming")
      Recall.ofRanked(foundNsw, truth)
        .select(col("n_queries"), col("recall").as("recall_nsw"))
        .crossJoin(Recall.ofRanked(foundIvf, truth)
          .select(col("recall").as("recall_ivf")))
        // floors self-report regressions (sf0.01 observed: 1.0 / 0.5)
        .withColumn("ok", col("recall_nsw") >= lit(0.9) &&
          col("recall_ivf") >= lit(0.45))
    }),
    // the binary/Hamming graph path under a FULL oracle — the one
    // metric variant that was rows-only: the ann_nsw_fixed recipe
    // (mod-31 cells <= 49 rows, m = 32, efSearch = 128 >= cell size →
    // the beam provably visits every reachable in-cell node) with the
    // sign-binarized hamming FINE distance threaded through the real
    // graph build + beam search (the reference's IndexBinaryHNSW,
    // utils_grid_search.py:649-654). Coarse assignment and probes stay
    // sqeuclidean (float coarse quantizer over binary fine codes — the
    // standard binary-IVF shape). Hamming's massive distance ties are
    // deterministic here because BOTH engines break (dist, id) ties on
    // the id.
    "ann_hamming_fixed" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val graphs = NswGraph.buildIndex(AnnIvf.index(data, centroids),
        m = 32, efConstruction = 64, metric = "hamming")
      NswGraph.searchIndex(graphs, centroids, queriesDf(s, d), K,
          nprobe = 2, efSearch = 128, metric = "hamming")
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    "ann_nsw_recall" -> ((s, d) => {
      // per-partition NSW graph (HNSW-path analog, J3): recall vs the
      // exact oracle; rows-only (approximate + partitioning-dependent)
      val sh = annShared(s, d)
      val data = dataDf(s, d).filter(filterLow)
      val found = NswGraph.search(data.repartition(4), queriesDf(s, d), K,
        m = 8, efSearch = 64)
      // floor self-reports regressions (sf0.01 observed: 1.0)
      Recall.ofRanked(found, sh.truth)
        .withColumn("ok", col("recall") >= lit(0.9))
    }),
    // the NSW/graph path (J3) under a FULL oracle — the ann_ivf_fixed
    // recipe applied to the graph half: fixed data-row centroids
    // (vec_id % 31 == 7) give cells of <= 49 rows at the verified SFs,
    // so with m = 32 the per-cell graph NEVER prunes (max adjacency
    // 48 <= 2m), stays symmetric and connected, and efSearch = 128 >=
    // cell size forces the beam to visit every reachable node — the
    // graph search provably degrades to EXACT in-cell search,
    // reproducible in SQL. The engine path is the real persistable one
    // (buildIndex -> CellGraph -> searchIndex); only the parameters
    // pin it. NswFixedSpec proves the no-prune/full-traversal bound.
    "ann_nsw_fixed" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val graphs = NswGraph.buildIndex(AnnIvf.index(data, centroids),
        m = 32, efConstruction = 64)
      NswGraph.searchIndex(graphs, centroids, queriesDf(s, d), K,
          nprobe = 2, efSearch = 128)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the RESIDENT serving lowering under the same full oracle as
    // ann_nsw_fixed: the graph index decoded once into per-cell flat
    // kernels (object RDD) and served via the epoch-stamped reusable
    // beam — bit-identical results, no per-call decode (NswSpec pins
    // distance-level equality; this entry puts it under the DuckDB
    // oracle too)
    "ann_nsw_serve" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(AnnIvf.index(data, centroids),
          m = 32, efConstruction = 64))
      try NswGraph.searchServable(idx, centroids, queriesDf(s, d), K,
          nprobe = 2, efSearch = 128)
        .select(col("qid"), col("rank"), col("neighbor_id"))
        .localCheckpoint()
      finally idx.unpersist()
    }),
    // the SMALL-BATCH serving tier under the same full oracle as
    // ann_nsw_serve: the decoded graph collected ONCE into a
    // driver-local replica (NswGraph.localReplica — the in-process
    // shape the reference serves from), queries beamed entirely
    // in-process through the batch-size-aware dispatch
    // (searchServableAuto), zero Spark jobs past the query collect.
    // Removes the measured ~0.5 s per-call job floor that made
    // 100-query batches ~100x off the reference (r13 verdict top
    // item); results are bit-identical to the job path (NswSpec pin;
    // this entry puts the local kernel under the DuckDB oracle too).
    "serve_small_batch" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(AnnIvf.index(data, centroids),
          m = 32, efConstruction = 64))
      try {
        val rep = NswGraph.localReplica(idx, centroids)
        NswGraph.searchServableAuto(idx, Some(rep), centroids,
            queriesDf(s, d), K, nprobe = 2, efSearch = 128)
          .select(col("qid"), col("rank"), col("neighbor_id"))
          .localCheckpoint()
      } finally idx.unpersist()
    }),
    // the GRAPH tier's tombstone mask under a FULL oracle: the
    // side-table written on the base clustered layout is read into
    // the serve-time mask; the beam still walks masked nodes (routing
    // structure) and the RESULT drain filters them, survivors filling
    // the freed ranks (filter-at-serve). At this fixture ef (128) ≥
    // every cell size the beam ranks each probed cell exhaustively,
    // so the masked drain IS the exact top-k over the surviving rows
    // — the same survivor SQL as the IVF tombstone oracles checks the
    // graph path's deletion semantics exactly.
    "ann_nsw_tombstone" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val indexed = AnnIvf.index(data, centroids)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_nsw_tmb").toString
      AnnIvf.writeIndex(indexed, tmp)
      AnnIvf.tombstone(s, tmp,
        data.filter(col("vec_id") % 11 === 4).select(col("vec_id")))
      val idx = NswGraph.servableIndex(
        NswGraph.buildIndex(indexed, m = 32, efConstruction = 64))
      try NswGraph.searchServable(idx, centroids, queriesDf(s, d), K,
          nprobe = 2, efSearch = 128,
          tombstones = AnnIvf.tombstoneIds(s, tmp))
        .select(col("qid"), col("rank"), col("neighbor_id"))
        .localCheckpoint()
      finally idx.unpersist()
    }),
    // the fully distributed graph lowering under the same full oracle
    // as ann_nsw_fixed: probes shuffle by cell id into a cogroup with
    // the per-cell graphs (no query broadcast, nothing query-sized on
    // the driver) — the NSW analog of ann_ivf_bigq_fast
    "ann_nsw_bigq" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val graphs = NswGraph.buildIndex(AnnIvf.index(data, centroids),
        m = 32, efConstruction = 64)
      NswGraph.searchIndexShuffled(graphs, centroids, queriesDf(s, d), K,
          nprobe = 2, efSearch = 128)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the graph-index PERSISTENCE path under the same full oracle as
    // ann_nsw_fixed: per-cell graphs written partitionBy(cid) to a
    // temp dir, reloaded, and beam-searched — the offline-build /
    // online-serve split for the graph index (parquet round trip was
    // spec-only before this entry)
    "ann_nsw_persist" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_gidx_q").toString
      NswGraph.writeGraphIndex(
        NswGraph.buildIndex(AnnIvf.index(data, centroids),
          m = 32, efConstruction = 64), tmp)
      NswGraph.searchIndex(NswGraph.readGraphIndex(s, tmp), centroids,
          queriesDf(s, d), K, nprobe = 2, efSearch = 128)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the persisted, partition-pruned read path under the SAME full
    // oracle as ann_ivf_fixed: writeIndex clusters the index
    // partitionBy(cid) into a temp dir, searchPersisted probes it with
    // a partition-column predicate (planning-time parquet pruning —
    // the actual 100-TB serving layout, plan-pinned in KnnSpec).
    // Identical semantics to ann_ivf_fixed; only the storage differs.
    "ann_ivf_persist" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_idx").toString
      AnnIvf.writeIndex(AnnIvf.index(data, centroids), tmp)
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the fp16-PACKED persisted layout under the SAME full oracle
    // (r18): writeIndexPacked stores the vector column as 2-byte
    // binary16 (the reference's own on-disk precision, `_fp16.npy`,
    // utils_grid_search.py:364-365 — index bytes and replica-build
    // reads halve), searchPersisted(packedVec = true) decodes ABOVE
    // the partition-pruned scan. The data side is snapped to the
    // 2^-7 grid first (knn_fp16's device), so the binary16 roundtrip
    // is provably lossless and the DuckDB oracle reproduces every
    // distance — including the fixed centroids, which are (snapped)
    // data rows. Identical semantics to ann_ivf_fixed; only the
    // storage bytes differ.
    "ann_packed_persist" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
        .withColumn("embedding", GraftFunctions.fp16Grid(col("embedding")))
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_packed_idx").toString
      AnnIvf.writeIndexPacked(AnnIvf.index(data, centroids), tmp)
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2, packedVec = true)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the packed layout's STRAIGHT-TO-PACKED-REPLICA path under the
    // same oracle: servableCellsPacked decodes the binary16 bytes
    // directly into half blocks (fp32 never materializes between
    // disk and replica), localCellReplica regroups them packed, and
    // the pre-filter scan kernel reads them through the fp16 LUT —
    // the serving shape a packed deployment actually runs.
    "ann_packed_replica" -> ((s, d) => {
      import s.implicits._
      val data = dataDf(s, d).filter(filterLow)
        .withColumn("embedding", GraftFunctions.fp16Grid(col("embedding")))
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_packed_rep").toString
      AnnIvf.writeIndexPacked(AnnIvf.index(data, centroids), tmp)
      val cells = AnnIvf.servableCellsPacked(s.read.parquet(tmp))
      try {
        val rep = AnnIvf.localCellReplica(cells, centroids)
        require(rep.half != null, "replica did not decode packed")
        val qArr = queriesDf(s, d)
          .select(col("qid").cast("long"), col("q_embedding"))
          .as[(Long, Array[Float])].collect()
        val rows = AnnIvf.searchLocalCellsQueries(rep, qArr, K, nprobe = 2)
        s.createDataset(rows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
          .select(col("qid"), col("rank"), col("neighbor_id"))
      } finally cells.unpersist()
    }),
    // the TWO-LEVEL PROBE dial under a FULL oracle (r18): serve-time
    // sqrt-C probing — beam the wSuper=2 nearest fixed supers
    // (mod-149 data rows), argmin over ONLY their member cells
    // (mod-31 fixed cells), exact top-k within the probed cells. The
    // whole two-level probe — super beam by (dist, sid), cid->sid
    // member assignment, in-beam cell argmin by (dist, cid) — is
    // replayed in SQL, so the dial's semantics are exactly checkable
    // (its recall/qps tradeoff at scale is BENCH_scale_r18
    // two_level_probe_20m). Assignment stays the flat mod-31 argmin
    // (ann_ivf_fixed's), so only the PROBE differs from that recipe.
    "serve_twolevel_probe" -> ((s, d) => {
      import s.implicits._
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val supers = fixedCentroids(data, 149)
      val cells = AnnIvf.servableCells(AnnIvf.index(data, centroids))
      try {
        val rep = AnnIvf.localCellReplica(cells, centroids)
        val supM = AnnIvf.collectMatrix(
          supers.withColumnRenamed("cid", "sid"), "sid", "centroid")
        val prober = AnnIvf.twoLevelProberLocal(supM,
          rep.centroidMatrix,
          AnnIvf.memberLists(supM, rep.centroidMatrix),
          wSuper = 2, nprobe = 2)
        val qArr = queriesDf(s, d)
          .select(col("qid").cast("long"), col("q_embedding"))
          .as[(Long, Array[Float])].collect()
        val rows = AnnIvf.searchLocalCellsQueries(rep, qArr, K,
          nprobe = 2, proberOverride = prober)
        s.createDataset(rows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
          .select(col("qid"), col("rank"), col("neighbor_id"))
      } finally cells.unpersist()
    }),
    // the SAME two-level probe recipe driven through the DISTRIBUTED
    // persisted path (r19): writeIndex + searchPersisted with the
    // TwoLevelProbe dial — NearestCellsTwoLevel (the expression twin
    // of twoLevelProberLocal, same (dist, id) tie order at both
    // levels) ranks probes inside whole-stage codegen; the probed-
    // cell partition pruning below it is unchanged. Hash-equality
    // with serve_twolevel_probe's SQL pins local and distributed
    // two-level serving to identical semantics.
    "serve_twolevel_persist" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 31)
      val supers = fixedCentroids(data, 149)
      val supM = AnnIvf.collectMatrix(
        supers.withColumnRenamed("cid", "sid"), "sid", "centroid")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_tl_persist").toString
      AnnIvf.writeIndex(AnnIvf.index(data, centroids), tmp)
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2,
          twoLevel = Some(AnnIvf.TwoLevelProbe(supM, wSuper = 2)))
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the full index LIFECYCLE under the oracle: build -> append (one
    // extra file per touched cell) -> compact (back to one file per
    // cell) -> stats. The per-cell rows/id-ranges replay the fixed
    // assignment in SQL; n_files == 1 is the compaction postcondition
    // (writeIndex starts at one file per cell, the append adds a
    // second to touched cells, compact folds them back)
    "ann_ivf_stats" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_st").toString
      AnnIvf.writeIndex(
        AnnIvf.index(data.filter(col("vec_id") % 3 =!= 0), centroids), tmp)
      AnnIvf.appendToIndex(data.filter(col("vec_id") % 3 === 0),
        centroids, tmp)
      AnnIvf.compactIndex(s, tmp)
      AnnIvf.indexStats(s, tmp)
    }),
    // index MAINTENANCE under the full oracle: write the clustered
    // layout, DELETE a planted id set in place (touched-cell rewrite,
    // frozen centroids), then serve — the oracle searches the
    // survivor rows against the ORIGINAL fixed centroid table, so a
    // deletion that leaked a row, dropped a cell wrongly, or
    // disturbed an untouched cell flips the hash
    "ann_ivf_delete" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_del").toString
      AnnIvf.writeIndex(AnnIvf.index(data, centroids), tmp)
      AnnIvf.deleteFromIndex(s, tmp,
        data.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // TOMBSTONE retraction under the same full oracle as the eager
    // delete: the planted id set is only RECORDED in the dot-prefixed
    // side-table (O(batch) — no cell rewritten; the spread-delete
    // path for GDPR feeds touching ~every cell), and the serve-time
    // anti-join masks it below the top-k — hash-equality with the
    // survivor oracle proves tombstone-masked serving == eager delete
    "ann_ivf_tombstone" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_tmb").toString
      AnnIvf.writeIndex(AnnIvf.index(data, centroids), tmp)
      AnnIvf.tombstone(s, tmp,
        data.filter(col("vec_id") % 11 === 4).select(col("vec_id")))
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // TOMBSTONE-AWARE RESIDENT SERVING (r12 verdict's top item): the
    // resident flat tier is an EPOCH SNAPSHOT — it decodes the index
    // once and would keep serving a later-tombstoned id until rebuild.
    // The serve-time mask argument closes that hole: the side-table's
    // sorted id array rides into the resident kernel and is binary-
    // searched per row BEFORE the distance (pre-filter semantics,
    // exactly the persisted paths' anti-join). Hash-equality with the
    // same survivor oracle as ann_ivf_tombstone proves
    // resident-masked == persisted-masked == eager delete.
    "ann_ivf_tombstone_resident" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val centroids = fixedCentroids(data, 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_tmbr").toString
      AnnIvf.writeIndex(AnnIvf.index(data, centroids), tmp)
      val cells = AnnIvf.servableCells(s.read.parquet(tmp))
      try {
        AnnIvf.tombstone(s, tmp,
          data.filter(col("vec_id") % 11 === 4).select(col("vec_id")))
        AnnIvf.searchServableCells(cells, centroids, queriesDf(s, d), K,
            nprobe = 2, tombstones = AnnIvf.tombstoneIds(s, tmp))
          .select(col("qid"), col("rank"), col("neighbor_id"))
          .localCheckpoint()
      } finally cells.unpersist()
    }),
    // query-time FILTERED serving from a SHARED index — the 100-TB
    // form of the reference's core scenario (many rating filters, one
    // corpus): the clustered index holds ALL rows (no label filter
    // baked in), and the label predicate is applied at query time,
    // pushed into the index scan next to the cid partition pruning.
    // Per-row cell assignment is a pure function of the vector, so
    // serve-time filtering returns exactly what an index built over
    // the pre-filtered corpus returns — the same full oracle as
    // ann_ivf_fixed checks it.
    "ann_ivf_serve" -> ((s, d) => {
      val all = dataDf(s, d)
      // centroids are still the filtered mod-311 rows (the oracle's
      // centroid set); the INDEX is over the unfiltered corpus
      val centroids = fixedCentroids(all.filter(filterLow), 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_serve").toString
      AnnIvf.writeIndex(AnnIvf.index(all, centroids), tmp)
      AnnIvf.searchPersisted(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2, dataFilter = Some(filterLow))
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // the full production serving composition at LARGE query volume:
    // persisted clustered layout + probed-cell partition pruning +
    // query-time label filter + the distributed cogroup heap kernel
    // (nothing query-sized on the driver or in a broadcast). Same
    // fixed-centroid oracle as ann_ivf_serve — hash-equality proves
    // the large-query serving plan changes no semantics.
    "ann_ivf_serve_bigq" -> ((s, d) => {
      val all = dataDf(s, d)
      val centroids = fixedCentroids(all.filter(filterLow), 311)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_serve_bq").toString
      AnnIvf.writeIndex(AnnIvf.index(all, centroids), tmp)
      AnnIvf.searchPersistedShuffled(s, tmp, centroids, queriesDf(s, d), K,
          nprobe = 2, dataFilter = Some(filterLow))
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    // PQ encode + ADC under a FULL oracle: codebooks are FIXED data
    // rows (vec_id % 31 == 3, sliced per subspace) instead of k-means
    // output, so the per-subspace argmin codes and the ADC lookup sums
    // are exactly SQL-reproducible. The oracle adds the 8 subspace LUT
    // terms left-to-right — the engine's accumulation order — so fp
    // addition order is identical; ADC ties (shared code arrays) break
    // on vec_id in both engines. Engine path is the real Pq.encode /
    // Pq.searchAdc; ann_pq_recall keeps covering the k-means variant.
    "ann_pq_fixed" -> ((s, d) => {
      val data = dataDf(s, d).filter(filterLow)
      val cb = fixedCodebook(s, data)
      Pq.searchAdc(Pq.encode(data, cb), cb, queriesDf(s, d), K)
        .select(col("qid"), col("rank"), col("neighbor_id"))
    }),
    "quant_train" -> ((s, d) =>
      Quantize.train(Tables.load(s, d, "embeddings"))
        .select(col("dim").cast("long").as("dim"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))),
    "quant_int8" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      // qvec flattened to CSV text: the driver compare hashes cell
      // values and cannot hash array cells; the string pins every
      // element exactly (ints — no float formatting concerns)
      Quantize.apply(vecs.filter(col("vec_id") % 50 === 0),
          Quantize.train(vecs))
        .select(col("vec_id"),
          array_join(transform(col("qvec"), _.cast("string")), ",")
            .as("qvec_csv"))
    }),
    "quant_roundtrip" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      Quantize.roundTripError(vecs.filter(col("vec_id") % 50 === 0),
        Quantize.train(vecs))
    }),
    // the quantized SEARCH path (reference `_scalar.npy` variant,
    // utils_grid_search.py:358-363): filtered exact k-NN over int8
    // vectors, integer distance (no fp ordering flap), same pre-filter
    // semantics and (dist, id) tie-break as the fp32 paths. zip_with +
    // aggregate are codegen'd built-ins — the whole distance stays in
    // WSCG with zero custom code.
    "knn_int8" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
      // bounds feed both quantize calls — cache the 64-row table so
      // the percentile scan runs once
      val bounds = Quantize.train(vecs).cache()
      // int8 values cast once to float: VectorSqDist's fused loop
      // (single codegen'd pass, no intermediate zip_with array per
      // pair). Distances stay EXACT — diffs <= 255, squares and the
      // 64-term sum are integers < 2^53, all exactly representable —
      // so the ordering equals the integer-arithmetic oracle.
      val dataQ = Quantize.apply(
          vecs.filter(col("vec_id") % 50 =!= 0 && filterLow), bounds)
        .select(col("vec_id"), col("qvec").cast("array<float>").as("qv"))
      val queriesQ = Quantize.apply(
          vecs.filter(col("vec_id") % 50 === 0), bounds)
        .select(col("vec_id").as("qid"),
          col("qvec").cast("array<float>").as("qqv"))
      val pairs = dataQ.crossJoin(broadcast(queriesQ))
      val dist = GraftFunctions.sqDist(col("qv"), col("qqv")).cast("double")
      graft.operators.Knn.topKFrom(pairs, K, dist, col("vec_id"), col("qid"))
        .select(col("qid"), col("rank"), col("neighbor_id"))
    })
  )

  private val unnestDims =
    "(SELECT unnest(embedding) AS v, unnest(range(0, len(embedding))) AS dim FROM embeddings)"

  private val sqdistZ =
    "sum((CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)) * (CAST(z.a AS DOUBLE) - CAST(z.b AS DOUBLE)))"

  /** Squared distance between a float32 residual (a − b, computed in
    * FLOAT — DuckDB FLOAT − FLOAT stays single-precision, matching
    * Spark's zip_with on float arrays bit for bit) and a codeword w,
    * accumulated in double like every other distance. */
  private val residDistZ =
    "sum((CAST(CAST(z.a - z.b AS FLOAT) AS DOUBLE) - CAST(z.w AS DOUBLE)) * " +
      "(CAST(CAST(z.a - z.b AS FLOAT) AS DOUBLE) - CAST(z.w AS DOUBLE)))"

  /** The fixed-centroid IVF pipeline in SQL (fixed centroids -> argmin
    * cell assignment -> 2-nearest-cell probes -> exact in-cell top-10),
    * parameterized by the centroid-picking modulus: shared by
    * ann_ivf_fixed and ann_ivf_persist (mod 311 — identical semantics,
    * different storage) and ann_nsw_fixed (mod 31 — cells small enough
    * that the graph search is provably exact, see the query comment).
    * `fine` overrides the FINE distance only (ann_hamming_fixed's
    * sign-mismatch count); coarse assignment and probe selection stay
    * sqeuclidean — the standard binary-IVF shape, mirroring the
    * engine's float coarse quantizer over sign-packed fine vectors. */
  // `survivors` restricts the ASSIGNED/SEARCHED rows without touching
  // the centroid table (ann_ivf_delete: deletion never retrains)
  private lazy val twoLevelProbeSql: String =
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 31 = 7
         |), c1 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS sid,
         |    embedding AS se
         |  FROM d WHERE vec_id % 149 = 7
         |), cs AS (
         |  SELECT c.cid, c1.sid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(c.ce) AS a, unnest(c1.se) AS b) z) AS dst
         |  FROM c CROSS JOIN c1
         |), c2s AS (
         |  SELECT cid, sid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY cid ORDER BY dst, sid) AS rn FROM cs)
         |  WHERE rn = 1
         |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qs AS (
         |  SELECT q.qid, q.qe, c1.sid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c1.se) AS b) z) AS dst
         |  FROM q CROSS JOIN c1
         |), qsup AS (
         |  SELECT qid, sid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, sid) AS rn FROM qs)
         |  WHERE rn <= 2
         |), qc AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q
         |  JOIN qsup ON qsup.qid = q.qid
         |  JOIN c2s ON c2s.sid = qsup.sid
         |  JOIN c ON c.cid = c2s.cid
         |), probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qc)
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.qid, p.qe, a.vec_id, a.embedding
         |  FROM probes p JOIN assign a USING (cid)
         |), dist AS (
         |  SELECT qid, vec_id,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(cand.qe) AS a, unnest(cand.embedding) AS b) z) AS dst
         |  FROM cand
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin

  private def ivfFixedSql(mod: Int, fine: String = sqdistZ,
      survivors: String = "TRUE",
      // data-side embedding expression hook: the packed-layout oracle
      // snaps the stored side to the binary16-exact 2^-7 grid (the
      // knn_fp16 formula — any SQL mirror must use the identical
      // floor(x*128+0.5)/128), which also snaps the fixed centroids
      // (they are data rows of d0)
      dataEmb: String = "embedding"): String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id % 50 = 0
       |), d0 AS (
       |  SELECT vec_id, $dataEmb AS embedding, label FROM embeddings
       |  WHERE vec_id % 50 <> 0 AND label <> 3
       |), c AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |    embedding AS ce
       |  FROM d0 WHERE vec_id % $mod = 7
       |), d AS (
       |  SELECT * FROM d0 WHERE $survivors
       |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.qid, p.qe, a.vec_id, a.embedding
         |  FROM probes p JOIN assign a USING (cid)
         |), dist AS (
         |  SELECT qid, vec_id,
         |    (SELECT $fine
         |     FROM (SELECT unnest(cand.qe) AS a, unnest(cand.embedding) AS b) z) AS dst
         |  FROM cand
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin

  /** serve_auto_mild's full-branch SQL (integer over-fetch k',
    * no-prune beam, survivor filter, re-rank) — shared with the
    * r14 local dispatcher's mild entry, whose counts come from the
    * replica attrs but equal the column-pruned ones integer-for-
    * integer. */
  private lazy val mildBranchSql: String = s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d0 AS (
         |  SELECT vec_id, embedding, label FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d0 WHERE vec_id % 31 = 7
         |), kf AS (
         |  SELECT GREATEST(
         |    (30 * (SELECT COUNT(*) FROM d0)
         |       + (SELECT COUNT(*) FROM d0 WHERE label <> 4) - 1)
         |      // (SELECT COUNT(*) FROM d0 WHERE label <> 4),
         |    10) AS kf
         |), ad AS (
         |  SELECT d0.vec_id, d0.embedding, d0.label, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d0.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d0 CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, label, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.qid, p.qe, a.vec_id, a.embedding, a.label
         |  FROM probes p JOIN assign a USING (cid)
         |), fetched AS (
         |  SELECT qid, vec_id, label,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(cand.qe) AS a, unnest(cand.embedding) AS b) z) AS dst
         |  FROM cand
         |  QUALIFY row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) <= (SELECT kf FROM kf)
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM fetched
         |WHERE label <> 4
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_ivf_fixed" -> ivfFixedSql(311),
    "ann_ivf_serve_resident" -> ivfFixedSql(311),
    // same semantics, distributed physical lowerings — one oracle
    "ann_ivf_bigq" -> ivfFixedSql(311),
    "ann_ivf_bigq_fast" -> ivfFixedSql(311),
    // the two-level quantizer end to end: fixed supers (mod 149) and
    // fixed subs (mod 31); sub→super and row→super argmins by
    // (dist, sid), then the row's cell is the (dist, cid) argmin over
    // ONLY the member subs of its super; flat 2-nearest-cell probes
    // and the exact in-cell top-10 are ivfFixedSql's unchanged tail
    "ann_ivf2_fixed" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 31 = 7
         |), c1 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS sid,
         |    embedding AS se
         |  FROM d WHERE vec_id % 149 = 7
         |), cs AS (
         |  SELECT c.cid, c1.sid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(c.ce) AS a, unnest(c1.se) AS b) z) AS dst
         |  FROM c CROSS JOIN c1
         |), c2s AS (
         |  SELECT cid, sid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY cid ORDER BY dst, sid) AS rn FROM cs)
         |  WHERE rn = 1
         |), rsd AS (
         |  SELECT d.vec_id, c1.sid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c1.se) AS b) z) AS dst
         |  FROM d CROSS JOIN c1
         |), rs AS (
         |  SELECT vec_id, sid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, sid) AS rn FROM rsd)
         |  WHERE rn = 1
         |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d JOIN rs USING (vec_id)
         |  JOIN c2s ON c2s.sid = rs.sid
         |  JOIN c ON c.cid = c2s.cid
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), cand AS (
         |  SELECT p.qid, p.qe, a.vec_id, a.embedding
         |  FROM probes p JOIN assign a USING (cid)
         |), dist AS (
         |  SELECT qid, vec_id,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(cand.qe) AS a, unnest(cand.embedding) AS b) z) AS dst
         |  FROM cand
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "ann_ivf_persist" -> ivfFixedSql(311),
    // the serve-time two-level probe replayed in SQL: flat mod-31
    // assignment (ann_ivf_fixed's), cid->sid member map by (dst, sid),
    // per-query super beam rn <= 2 by (dst, sid), cell argmin rn <= 2
    // by (dst, cid) over ONLY the beamed supers' members, exact
    // in-cell top-10
    "serve_twolevel_persist" -> twoLevelProbeSql,
    "serve_twolevel_probe" -> twoLevelProbeSql,
    // packed binary16 storage: the data side snapped to the 2^-7
    // grid (binary16-exact, lossless roundtrip — knn_fp16's device),
    // then the ann_ivf_fixed recipe verbatim; the snapped d0 also
    // snaps the fixed centroids
    "ann_packed_persist" -> ivfFixedSql(311, dataEmb =
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
        "* 128.0 + 0.5) / 128.0 AS REAL))"),
    "ann_packed_replica" -> ivfFixedSql(311, dataEmb =
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
        "* 128.0 + 0.5) / 128.0 AS REAL))"),
    // survivors only; centroids stay the pre-deletion table
    "ann_ivf_delete" -> ivfFixedSql(311,
      survivors = "vec_id % 7 <> 3"),
    // tombstone masking serves exactly what the eager delete serves
    "ann_ivf_tombstone" -> ivfFixedSql(311,
      survivors = "vec_id % 11 <> 4"),
    // the RESIDENT tier under the same survivor oracle: the serve-time
    // id mask == the persisted anti-join == the eager delete
    "ann_ivf_tombstone_resident" -> ivfFixedSql(311,
      survivors = "vec_id % 11 <> 4"),
    // per-cell rows/id-ranges from the fixed assignment; n_files = 1
    // is the physical compaction postcondition
    "ann_ivf_stats" ->
      s"""WITH d0 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |    AS cid, embedding AS ce
         |  FROM d0 WHERE vec_id % 311 = 7
         |), ad AS (
         |  SELECT d0.vec_id, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d0.embedding) AS a, unnest(c.ce) AS b) z)
         |    AS dst
         |  FROM d0 CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |)
         |SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_rows,
         |  min(vec_id) AS min_id, max(vec_id) AS max_id,
         |  CAST(1 AS BIGINT) AS n_files
         |FROM assign GROUP BY cid""".stripMargin,
    "ann_ivf_serve" -> ivfFixedSql(311),
    "ann_ivf_serve_bigq" -> ivfFixedSql(311),
    // cost-based dispatch, per branch: strong = the ann_ivf_fixed
    // recipe restricted to the survivor predicate; extreme = exact
    // filtered k-NN; mild = the no-prune graph recipe widened to the
    // integer over-fetch k' then filtered + re-ranked
    "serve_auto_strong" -> ivfFixedSql(311,
      survivors = "label IN (0, 1)"),
    // the r14 in-process dispatcher is row-identical to the strong
    // branch (ServingSpec), so it shares the oracle
    "serve_local_filtered" -> ivfFixedSql(311,
      survivors = "label IN (0, 1)"),
    // the id-set route serves the SAME pre-filter the Column
    // predicate defines — two-column survivors, one bitset epoch
    "serve_local_bitset" -> ivfFixedSql(311,
      survivors = "label IN (0, 1) AND vec_id % 3 <> 1"),
    // the 3-shard split serve merges to EXACTLY the single-index
    // recipe's rows — the sharded dispatcher under the same oracle
    "serve_sharded" -> ivfFixedSql(311,
      survivors = "label IN (0, 1) AND vec_id % 3 <> 1"),
    // the local masked drain == the job path's (shared drainBeamTopK)
    "serve_local_tombstone" -> ivfFixedSql(31,
      survivors = "vec_id % 11 <> 4"),
    // dispatcher-masked serve == search over an index without the rows
    "serve_auto_tombstone" -> ivfFixedSql(311,
      survivors = "label IN (0, 1) AND vec_id % 11 <> 4"),
    "ann_ivf_serve_resident_filtered" -> ivfFixedSql(311,
      survivors = "label IN (0, 1)"),
    "serve_auto_extreme" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label = 5 AND vec_id % 11 = 0
         |), dist AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM q CROSS JOIN d
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "serve_auto_mild" -> mildBranchSql,

    "ann_nsw_fixed" -> ivfFixedSql(31),
    "ann_nsw_serve" -> ivfFixedSql(31),
    // the driver-local small-batch serve is bit-identical to
    // ann_nsw_serve's job path (NswSpec), so it shares the oracle
    "serve_small_batch" -> ivfFixedSql(31),
    // graph-tier deletion semantics: masked exhaustive beam == exact
    // top-k over the surviving rows of the probed cells
    "ann_nsw_tombstone" -> ivfFixedSql(31,
      survivors = "vec_id % 11 <> 4"),
    // the local mild branch replays serve_auto_mild's exact integers
    // (counts from the replica attrs == the column-pruned counts)
    "serve_local_mild" -> mildBranchSql,
    "ann_nsw_bigq" -> ivfFixedSql(31),
    "ann_nsw_persist" -> ivfFixedSql(31),
    // same probed cells as ann_nsw_fixed; only the fine distance is
    // the sign-mismatch count (knn_hamming's green distance SQL)
    "ann_hamming_fixed" -> ivfFixedSql(31,
      fine = "sum(CASE WHEN (z.a > 0) <> (z.b > 0) THEN 1 ELSE 0 END)"),
    // P9's contract as literal rows: the healthy combo produced a
    // result row (failed = false, no error), the poisoned combo
    // degraded to an error row carrying the deterministic driver-side
    // failure (empty centroid table -> index -1), and the sweep
    // emitted BOTH — it never aborted
    "grid_errors" ->
      """SELECT * FROM (VALUES
        |  ('ivf', CAST(0 AS BIGINT), CAST(1 AS BIGINT), true, true),
        |  ('ivf', CAST(8 AS BIGINT), CAST(1 AS BIGINT), false, false)
        |) t(algo, npartitions, nprobe, failed, has_error)""".stripMargin,
    // the full IVF-PQ pipeline in SQL: fixed coarse centroids ->
    // argmin cells -> 2-nearest-cell probes; fixed codebook rows ->
    // per-subspace argmin codes -> per-query LUT -> ADC sum in the
    // engine's left-to-right subspace order -> exact top-10 over the
    // FILTERED rows of the probed cells only
    "ann_ivfpq_fixed" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 311 = 7
         |), cb AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 31 = 3
         |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), subs AS (
         |  SELECT CAST(i AS INTEGER) AS sub FROM UNNEST(range(0, 8)) t(i)
         |), cand AS (
         |  SELECT p.qid, p.qe, a.vec_id, a.embedding
         |  FROM probes p JOIN assign a USING (cid)
         |), enc AS (
         |  SELECT a.vec_id, s.sub, cb.code,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(a.embedding[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS b) z) AS dst
         |  FROM (SELECT DISTINCT vec_id, embedding FROM cand) a
         |  CROSS JOIN subs s CROSS JOIN cb
         |), codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dst, code) AS rn FROM enc)
         |  WHERE rn = 1
         |), lut AS (
         |  SELECT q.qid, s.sub, cb.code,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS b) z) AS ldst
         |  FROM q CROSS JOIN subs s CROSS JOIN cb
         |), contrib AS (
         |  SELECT ca.qid, ca.vec_id, co.sub, l.ldst
         |  FROM cand ca
         |  JOIN codes co ON co.vec_id = ca.vec_id
         |  JOIN lut l ON l.qid = ca.qid AND l.sub = co.sub
         |    AND l.code = co.code
         |), adc AS (
         |  SELECT qid, vec_id,
         |    sum(CASE WHEN sub = 0 THEN ldst END)
         |    + sum(CASE WHEN sub = 1 THEN ldst END)
         |    + sum(CASE WHEN sub = 2 THEN ldst END)
         |    + sum(CASE WHEN sub = 3 THEN ldst END)
         |    + sum(CASE WHEN sub = 4 THEN ldst END)
         |    + sum(CASE WHEN sub = 5 THEN ldst END)
         |    + sum(CASE WHEN sub = 6 THEN ldst END)
         |    + sum(CASE WHEN sub = 7 THEN ldst END) AS dst
         |  FROM contrib GROUP BY qid, vec_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM adc
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // the RESIDUAL IVF-PQ pipeline in SQL: identical probe pruning,
    // but codes argmin over (vec − assigned centroid) vs codewords and
    // the LUT per (query, probed cell) over (q − probed centroid) vs
    // codewords — both residuals in float32 on both engines
    "ann_ivfpq_residual" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 311 = 7
         |), cb AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 31 = 3
         |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid, c.ce,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid, ce FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid, c.ce,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid, ce FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), subs AS (
         |  SELECT CAST(i AS INTEGER) AS sub FROM UNNEST(range(0, 8)) t(i)
         |), cand AS (
         |  SELECT p.qid, p.cid, a.vec_id
         |  FROM probes p JOIN assign a USING (cid)
         |), enc AS (
         |  SELECT a.vec_id, s.sub, cb.code,
         |    (SELECT $residDistZ
         |     FROM (SELECT unnest(a.embedding[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(a.ce[s.sub*8+1 : s.sub*8+8]) AS b,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS w) z) AS dst
         |  FROM (SELECT vec_id, embedding, ce FROM assign
         |        WHERE vec_id IN (SELECT vec_id FROM cand)) a
         |  CROSS JOIN subs s CROSS JOIN cb
         |), codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dst, code) AS rn FROM enc)
         |  WHERE rn = 1
         |), lut AS (
         |  SELECT p.qid, p.cid, s.sub, cb.code,
         |    (SELECT $residDistZ
         |     FROM (SELECT unnest(p.qe[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(p.ce[s.sub*8+1 : s.sub*8+8]) AS b,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS w) z) AS ldst
         |  FROM probes p CROSS JOIN subs s CROSS JOIN cb
         |), contrib AS (
         |  SELECT ca.qid, ca.vec_id, co.sub, l.ldst
         |  FROM cand ca
         |  JOIN codes co ON co.vec_id = ca.vec_id
         |  JOIN lut l ON l.qid = ca.qid AND l.cid = ca.cid
         |    AND l.sub = co.sub AND l.code = co.code
         |), adc AS (
         |  SELECT qid, vec_id,
         |    sum(CASE WHEN sub = 0 THEN ldst END)
         |    + sum(CASE WHEN sub = 1 THEN ldst END)
         |    + sum(CASE WHEN sub = 2 THEN ldst END)
         |    + sum(CASE WHEN sub = 3 THEN ldst END)
         |    + sum(CASE WHEN sub = 4 THEN ldst END)
         |    + sum(CASE WHEN sub = 5 THEN ldst END)
         |    + sum(CASE WHEN sub = 6 THEN ldst END)
         |    + sum(CASE WHEN sub = 7 THEN ldst END) AS dst
         |  FROM contrib GROUP BY qid, vec_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM adc
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // the grid sweep's deterministic columns in SQL: fixed centroids
    // -> argmin assignment -> probe ranks -> per-level candidates ->
    // per-level top-10 -> recall vs the exact oracle, plus candidate
    // counts and table totals
    "grid_fixed" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), c AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 311 = 7
         |), ad AS (
         |  SELECT d.vec_id, d.embedding, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM d CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dst, cid) AS rn FROM ad)
         |  WHERE rn = 1
         |), qd AS (
         |  SELECT q.qid, q.qe, c.cid,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(c.ce) AS b) z) AS dst
         |  FROM q CROSS JOIN c
         |), probes AS (
         |  SELECT qid, qe, cid, rn AS r FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, cid) AS rn FROM qd)
         |  WHERE rn <= 2
         |), levels AS (
         |  SELECT CAST(1 AS BIGINT) AS np UNION ALL SELECT CAST(2 AS BIGINT)
         |), cand AS (
         |  SELECT l.np, p.qid, p.qe, a.vec_id, a.embedding
         |  FROM probes p JOIN assign a USING (cid)
         |  JOIN levels l ON p.r <= l.np
         |), dist AS (
         |  SELECT np, qid, vec_id,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(cand.qe) AS a, unnest(cand.embedding) AS b) z) AS dst
         |  FROM cand
         |), found AS (
         |  SELECT np, qid, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY np, qid ORDER BY dst, vec_id) AS rk FROM dist)
         |  WHERE rk <= 10
         |), tdist AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe) AS a, unnest(d.embedding) AS b) z) AS dst
         |  FROM q CROSS JOIN d
         |), truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY qid ORDER BY dst, vec_id) AS rk FROM tdist)
         |  WHERE rk <= 10
         |), hits AS (
         |  SELECT f.np, f.qid, count(t.vec_id) AS h
         |  FROM found f LEFT JOIN truth t
         |    ON f.qid = t.qid AND f.vec_id = t.vec_id
         |  GROUP BY 1, 2
         |), gt AS (
         |  SELECT qid, count(*) AS g FROM truth GROUP BY qid
         |), rec AS (
         |  SELECT np,
         |    CAST(floor(CAST(sum(h.h) AS DOUBLE) / sum(g.g) * 1000000
         |      + 0.5) AS BIGINT) AS recall_ppm
         |  FROM hits h JOIN gt g USING (qid) GROUP BY np
         |), nc AS (
         |  SELECT np, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM dist GROUP BY np
         |)
         |SELECT 'ivf' AS algo,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS npartitions,
         |  r.np AS nprobe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS total_vectors,
         |  (SELECT CAST(count(*) AS BIGINT) FROM q) AS total_queries,
         |  r.recall_ppm, nc.n_candidates
         |FROM rec r JOIN nc USING (np)""".stripMargin,
    // the full PQ pipeline in SQL: fixed codebook rows -> per-subspace
    // argmin codes -> per-query LUT -> ADC sum in the engine's
    // left-to-right subspace order -> exact top-10 over all candidates
    "ann_pq_fixed" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), d AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), cb AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         |    embedding AS ce
         |  FROM d WHERE vec_id % 31 = 3
         |), subs AS (
         |  SELECT CAST(i AS INTEGER) AS sub FROM UNNEST(range(0, 8)) t(i)
         |), enc AS (
         |  SELECT d.vec_id, s.sub, cb.code,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(d.embedding[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS b) z) AS dst
         |  FROM d CROSS JOIN subs s CROSS JOIN cb
         |), codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY dst, code) AS rn FROM enc)
         |  WHERE rn = 1
         |), lut AS (
         |  SELECT q.qid, s.sub, cb.code,
         |    (SELECT $sqdistZ
         |     FROM (SELECT unnest(q.qe[s.sub*8+1 : s.sub*8+8]) AS a,
         |           unnest(cb.ce[s.sub*8+1 : s.sub*8+8]) AS b) z) AS ldst
         |  FROM q CROSS JOIN subs s CROSS JOIN cb
         |), contrib AS (
         |  SELECT l.qid, c.vec_id, c.sub, l.ldst
         |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
         |), adc AS (
         |  SELECT qid, vec_id,
         |    sum(CASE WHEN sub = 0 THEN ldst END)
         |    + sum(CASE WHEN sub = 1 THEN ldst END)
         |    + sum(CASE WHEN sub = 2 THEN ldst END)
         |    + sum(CASE WHEN sub = 3 THEN ldst END)
         |    + sum(CASE WHEN sub = 4 THEN ldst END)
         |    + sum(CASE WHEN sub = 5 THEN ldst END)
         |    + sum(CASE WHEN sub = 6 THEN ldst END)
         |    + sum(CASE WHEN sub = 7 THEN ldst END) AS dst
         |  FROM contrib GROUP BY qid, vec_id
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM adc
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "quant_train" ->
      s"""SELECT CAST(dim AS BIGINT) AS dim,
         |  round(quantile_cont(CAST(v AS DOUBLE), 0.005), 6) AS lo,
         |  round(quantile_cont(CAST(v AS DOUBLE), 0.995), 6) AS hi
         |FROM $unnestDims GROUP BY dim""".stripMargin,
    "quant_int8" ->
      s"""WITH b AS (
         |  SELECT dim, quantile_cont(CAST(v AS DOUBLE), 0.005) AS lo,
         |    quantile_cont(CAST(v AS DOUBLE), 0.995) AS hi
         |  FROM $unnestDims GROUP BY dim
         |), e AS (
         |  SELECT vec_id, unnest(embedding) AS v,
         |    unnest(range(0, len(embedding))) AS dim
         |  FROM embeddings WHERE vec_id % 50 = 0
         |)
         |SELECT e.vec_id, array_to_string(list(
         |    greatest(-128, least(127, CAST(floor(
         |      (CAST(e.v AS DOUBLE) - b.lo) / (b.hi - b.lo) * 255.0 - 128.0
         |      + 0.5) AS INTEGER)))
         |    ORDER BY e.dim), ',') AS qvec_csv
         |FROM e JOIN b ON e.dim = b.dim
         |GROUP BY e.vec_id""".stripMargin,
    "quant_roundtrip" ->
      s"""WITH b AS (
         |  SELECT dim, quantile_cont(CAST(v AS DOUBLE), 0.005) AS lo,
         |    quantile_cont(CAST(v AS DOUBLE), 0.995) AS hi
         |  FROM $unnestDims GROUP BY dim
         |), e AS (
         |  SELECT vec_id, unnest(embedding) AS v,
         |    unnest(range(0, len(embedding))) AS dim
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), err AS (
         |  SELECT e.vec_id, e.dim,
         |    abs(CAST(e.v AS DOUBLE) -
         |      ((CAST(greatest(-128, least(127, CAST(floor(
         |          (CAST(e.v AS DOUBLE) - b.lo) / (b.hi - b.lo) * 255.0
         |          - 128.0 + 0.5) AS INTEGER))) AS DOUBLE) + 128.0)
         |        / 255.0 * (b.hi - b.lo) + b.lo)) AS ae
         |  FROM e JOIN b ON e.dim = b.dim
         |)
         |SELECT vec_id, round(sum(ae ORDER BY dim) / count(*), 6) AS mae
         |FROM err GROUP BY vec_id""".stripMargin,
    "knn_int8" ->
      s"""WITH b AS (
         |  SELECT dim, quantile_cont(CAST(v AS DOUBLE), 0.005) AS lo,
         |    quantile_cont(CAST(v AS DOUBLE), 0.995) AS hi
         |  FROM $unnestDims GROUP BY dim
         |), e AS (
         |  SELECT vec_id, label, unnest(embedding) AS v,
         |    unnest(range(0, len(embedding))) AS dim
         |  FROM embeddings
         |), qz AS (
         |  SELECT e.vec_id, e.label, list(
         |      greatest(-128, least(127, CAST(floor(
         |        (CAST(e.v AS DOUBLE) - b.lo) / (b.hi - b.lo) * 255.0 - 128.0
         |        + 0.5) AS INTEGER)))
         |      ORDER BY e.dim) AS qvec
         |  FROM e JOIN b ON e.dim = b.dim
         |  GROUP BY e.vec_id, e.label
         |), d AS (
         |  SELECT vec_id, qvec FROM qz
         |  WHERE vec_id % 50 <> 0 AND label <> 3
         |), q AS (
         |  SELECT vec_id AS qid, qvec AS qq FROM qz WHERE vec_id % 50 = 0
         |), dist AS (
         |  SELECT q.qid, d.vec_id,
         |    (SELECT sum(CAST((z.a - z.b) * (z.a - z.b) AS BIGINT))
         |     FROM (SELECT unnest(q.qq) AS a, unnest(d.qvec) AS b) z) AS dst
         |  FROM q CROSS JOIN d
         |)
         |SELECT qid, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         |FROM dist
         |QUALIFY rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // fp16-exact grid: the quantized floats round-trip losslessly
    // through the binary16 codec, so knn over the quantized data side
    // is fully deterministic and oracle-checkable
    "knn_fp16" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id % 50 = 0
        |), d AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |      CAST(CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) / 128.0
        |        AS REAL) AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id % 50 <> 0 AND label <> 3
        |), dist AS (
        |  SELECT q.qid, d.vec_id,
        |    (SELECT sum((CAST(z.a AS DOUBLE) - z.b) * (CAST(z.a AS DOUBLE) - z.b))
        |     FROM (SELECT unnest(q.qe) AS a, unnest(d.e) AS b) z) AS dst
        |  FROM q CROSS JOIN d
        |)
        |SELECT qid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY dst, vec_id ASC) AS BIGINT) AS rank,
        |  vec_id AS neighbor_id
        |FROM dist
        |QUALIFY rank <= 10
        |ORDER BY qid, rank""".stripMargin
    // ann_ivf_*: approximate index behavior — verified against the
    // exact oracle via the recall metric in ScalaTest; rows-only here.
  )
}

/** Structured Streaming query pack — the §2.9 operators driven END TO
  * END under the driver's DuckDB oracle (previously spec-only): each
  * query runs a real streaming query (file source → stateful operator
  * → memory sink), drains it, and returns the sink table. The driver
  * testdata is ONE parquet file per table, so the file source delivers
  * exactly one micro-batch and the streaming semantics (within-batch
  * min-doc_id keeper, within-batch event sort) coincide with the batch
  * twins' — which is what makes a deterministic SQL oracle possible. */
object StreamQueries {
  import graft.streaming.StreamingOps

  private val nameSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def sinkName(prefix: String): String =
    s"${prefix}_${nameSeq.incrementAndGet()}"

  /** Run a streaming Dataset to a memory sink, drain, return rows.
    * The sink's temp view is dropped before returning (its rows are
    * copied into a local DataFrame) so repeated invocations — bench
    * warmup + passes — don't accumulate result sets in driver memory
    * for the life of the session. */
  private def drained(out: org.apache.spark.sql.Dataset[_],
      prefix: String): DataFrame = {
    val name = sinkName(prefix)
    val q = out.writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val spark = out.sparkSession
    val t = spark.table(name)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    spark.catalog.dropTempView(name)
    local
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // streaming curation funnel (quality gate + language gate +
    // keep-one-per-content in keyed state): single-batch output equals
    // the batch Corpus.curate exactly, so corpus_curate's oracle
    // applies verbatim
    "stream_curate" -> ((s, d) => {
      val docs = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      drained(StreamingOps.streamingCurate(docs, 0.45, Seq("en")),
        "stream_curate")
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("quality"))
    }),
    // curation-at-ingest perplexity scoring: the LM trains batch-side
    // (frozen model, full vocab kept at this SF), then scores the doc
    // STREAM statelessly (map-literal lookup, append mode, no
    // watermark) — same output and bucket rule as text_perplexity, so
    // the full batch oracle checks the drained stream
    "stream_score" -> ((s, d) => {
      val static = Tables.load(s, d, "documents")
      val model = graft.operators.TextAnalysis.trainLm(
        static, maxVocab = 1000000)
      val docs = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      // stateless per-row scorer (map-literal lookup, append mode) —
      // sub-split spread is row-placement only, identity at scale
      // (r21, the stream_bm25 pattern)
      drained(graft.operators.TextAnalysis.lmScoreFrozen(
        Spread.cpu(docs, static), model,
        headPpl = 29.95, tailPpl = 30.09), "stream_score")
    }),
    // streaming BM25 against standing queries (retrieval-at-ingest:
    // route/alert arriving docs): frozen stats trained on the static
    // corpus, scoring purely expression-level (model = literal
    // struct array) — stateless, watermark-free; the drained stream
    // reproduces the batch scorer's candidate relation exactly, so
    // the batch BM25 SQL (scores, no top-k cut) is the oracle
    "stream_bm25" -> ((s, d) => {
      val static = Tables.load(s, d, "documents")
      val qs = static.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(
            TextAnalysis.whitespaceTokens(col("text")), 1, 5))
            .as("q_text"))
      val model = Retrieval.trainBm25Frozen(static, qs)
      val docs = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      // stateless scorer -> sub-split spread is row-placement only
      // (guarded by the batch twin's size; identity at scale)
      drained(Retrieval.bm25ScoreFrozen(
        Spread.cpu(docs, static), model), "stream_bm25")
    }),
    // streaming exact dedup in keyed state (one boolean per distinct
    // content hash): single-batch output is each hash's min-doc_id
    // keeper — the batch Dedup.exact keeper rule — so the oracle is
    // dedup_exact's group-by reduced to (keeper, hash)
    "stream_dedup" -> ((s, d) => {
      val docs = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      drained(StreamingOps.streamingExactDedup(docs), "stream_dedup")
        .select(col("doc_id"), col("text_hash"))
    }),
    // streaming gap-based sessionization in keyed state: emits each
    // COMPLETED session once (the per-user final session stays open in
    // state), so the oracle is the batch sessionization minus every
    // user's last session
    "stream_sessions" -> ((s, d) => {
      val ev = StreamingOps.readEventStream(s, d)
      drained(StreamingOps.streamingSessionize(ev, gapSec = 21600L),
        "stream_sessions")
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_us"), col("end_us"))
    })
  )

  val oracles: Map[String, String] = Map(
    "stream_curate" -> CorpusQueries.oracles("corpus_curate"),
    "stream_score" -> TextQueries.oracles("text_perplexity"),
    // the un-cut BM25 candidate relation (every query-doc pair with a
    // shared term, 6dp-rounded score) — top-k would need cross-batch
    // state; routing-at-ingest consumes raw scores
    "stream_bm25" ->
      s"""WITH bm_t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), bm_q AS (
         |  SELECT DISTINCT qid, term FROM (
         |    SELECT doc_id AS qid, unnest(list_slice(toks, 1, 5)) AS term
         |    FROM bm_t WHERE doc_id % 97 = 0)
         |), ${TextQueries.bm25Core("bm_t")}
         |SELECT qid, doc_id, score FROM bm_sc""".stripMargin,
    "stream_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), l AS (
        |  SELECT *, lag(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM e
        |), f AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |      OR ts_us - prev > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), s AS (
        |  SELECT *, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f
        |), g AS (
        |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |    count(*) AS n_events, min(ts_us) AS start_us,
        |    max(ts_us) AS end_us
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, session_idx, n_events, start_us, end_us
        |FROM g
        |QUALIFY session_idx < max(session_idx)
        |  OVER (PARTITION BY user_id)""".stripMargin
  )
}

/** Ingestion query pack over `documents` (reviews-analog). */
object IngestQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_pipeline" -> ((s, d) =>
      Ingest.pipeline(Tables.load(s, d, "documents"),
          minTokens = 20, maxRows = 400)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(col("embedding")).cast("long").as("dim"))),
    // S7 under the driver: the YAML config source end to end — parse a
    // filter_config/params_config-shaped document, expand the param
    // grid (J7's cartesian), apply the parsed range filter to a real
    // table; the combo list and the kept-count are both SQL-checkable
    "config_grid" -> ((s, d) => {
      import s.implicits._
      val yaml =
        """filters:
          |  narrow:
          |    ranges:
          |      - [0, 2]
          |      - [5, 7]
          |grid:
          |  npartitions: [8, 16]
          |  nprobe: [1, 4]
          |""".stripMargin
      val root = graft.sources.ConfigSource.parse(yaml)
      val combos = graft.sources.ConfigSource.paramGrid(root)
      val filt = graft.sources.ConfigSource.rangeFilters(root).head
      val kept = Tables.load(s, d, "embeddings")
        .filter(filt.predicate(col("label").cast("double")))
        .count()
      combos.map(m => (m("npartitions").toLong, m("nprobe").toLong, kept))
        .toDF("npartitions", "nprobe", "n_kept")
    }),
    // S6 under the driver: the CSV results sink (the reference's
    // output format, utils_grid_search.py results CSVs) round-tripped
    // — write with header, read back with an explicit schema, pin
    // against the parquet source
    "csv_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_csv_q").toString
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read
        .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .option("header", "true").csv(tmp)
    }),
    // P2 under the driver: the category-membership gate of the ingest
    // flow (exec_embed.py's category list) + per-kept-category totals
    "ingest_categories" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .filter(col("lang").isin("en", "de", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),
    // S1+S2 under the driver: the documents table round-trips through
    // the reference's primary input format (one JSON object per line,
    // category encoded in the path — download_dataset/exec_embed.py:
    // 54-70): written as per-category JSONL directories, read back
    // with an EXPLICIT schema + path-derived category
    // (input_file_name regexp, the S2 glob-scan path), pinned against
    // the parquet source by per-row content digest.
    "jsonl_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_jsonl_q").toString
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"),
          col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").json(tmp)
      s.read
        .schema("doc_id LONG, text STRING, source STRING, n_chars LONG")
        .json(s"$tmp/lang=*")
        .withColumn("category",
          regexp_extract(input_file_name(), "lang=([^/]+)/", 1))
        .select(col("doc_id"), col("category"), col("source"),
          col("n_chars"), md5(col("text")).as("text_md5"))
    }),
    // ORC sink + source round trip: the second columnar format Spark
    // ships natively (predicate pushdown + column pruning work the
    // same as parquet) — written partitioned by lang, read back with
    // an explicit schema + path-derived category, content-digest
    // pinned against the parquet source like jsonl_roundtrip
    "orc_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_orc_q").toString
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"),
          col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").orc(tmp)
      s.read
        .schema("doc_id LONG, text STRING, source STRING, n_chars LONG")
        .orc(s"$tmp/lang=*")
        .withColumn("category",
          regexp_extract(input_file_name(), "lang=([^/]+)/", 1))
        .select(col("doc_id"), col("category"), col("source"),
          col("n_chars"), md5(col("text")).as("text_md5"))
    }),
    "ingest_shards" -> ((s, d) =>
      Ingest.shardIds(
        Ingest.minTokenFilter(Tables.load(s, d, "documents"), 20), 100)
        .select(col("doc_id"), col("shard"))),
    "multimodal_features" -> ((s, d) => {
      // binary-payload plumbing with a stubbed decoder; the metadata
      // columns are oracle-checked, the fake feature values are
      // engine-internal and asserted in ScalaTest (array cells are not
      // hashable by the driver compare, so they stay out of the dump)
      graft.sources.Multimodal.extractFeatures(
        graft.sources.Multimodal.mediaTable(Tables.load(s, d, "documents")))
        .select(col("doc_id"), col("media_type"),
          col("payload_len").cast("long").as("payload_len"),
          size(col("features")).cast("long").as("n_features"))
    }),
    // S4: typed-binary (.fbin) sink + source round trip — write the
    // embeddings as 4 header+matrix shards, read them back; ids become
    // consecutive positions in global vec_id order (the reference's
    // row-id-as-identity made explicit). Vectors are pinned by exact
    // per-row scalars (first/min/max elements) — float32 values the
    // oracle reproduces bit-for-bit from the source table.
    "fbin_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_fbin_q").toString
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.sources.FbinIO.write(vecs, tmp, dim = 64, numShards = 4)
      graft.sources.FbinIO.read(s, tmp)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e_first"),
          round(array_min(col("embedding")).cast("double"), 6).as("e_min"),
          round(array_max(col("embedding")).cast("double"), 6).as("e_max"))
    }),
    // .hbin (float16) round trip: vectors are first snapped to the
    // 2^-7 grid (every multiple of 1/128 with |v| < 16 is exactly
    // representable in binary16), so the fp16 encode/decode is
    // LOSSLESS and the oracle reproduces the exact floats — a true
    // end-to-end oracle over the half-precision codec + file format.
    "hbin_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hbin_q").toString
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), v =>
            (floor(v.cast("double") * 128.0 + 0.5) / 128.0).cast("float"))
            .as("embedding"))
      graft.sources.FbinIO.write(vecs, tmp, dim = 64, numShards = 4,
        dtype = graft.sources.FbinIO.F16)
      graft.sources.FbinIO.read(s, tmp)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("e_first"),
          round(array_min(col("embedding")).cast("double"), 6).as("e_min"),
          round(array_max(col("embedding")).cast("double"), 6).as("e_max"))
    }),
    // .ibin (int32) round trip — integral dtypes surface as ARRAY<INT>
    "ibin_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ibin_q").toString
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), v =>
            floor(v.cast("double") * 1000.0).cast("int")).as("embedding"))
      graft.sources.FbinIO.write(vecs, tmp, dim = 64, numShards = 4,
        dtype = graft.sources.FbinIO.I32)
      graft.sources.FbinIO.read(s, tmp)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("long").as("e_first"),
          array_min(col("embedding")).cast("long").as("e_min"),
          array_max(col("embedding")).cast("long").as("e_max"))
    }),
    // .u8bin (uint8, values 0..255) round trip
    "u8bin_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_u8_q").toString
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), v =>
            pmod(floor(v.cast("double") * 1000.0), lit(256)).cast("int"))
            .as("embedding"))
      graft.sources.FbinIO.write(vecs, tmp, dim = 64, numShards = 4,
        dtype = graft.sources.FbinIO.U8)
      graft.sources.FbinIO.read(s, tmp)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("long").as("e_first"),
          array_min(col("embedding")).cast("long").as("e_min"),
          array_max(col("embedding")).cast("long").as("e_max"))
    }),
    // .i8bin (int8, values -128..127) round trip — the dtype of the
    // reference's scalar-quantized corpora
    "i8bin_roundtrip" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_i8_q").toString
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), v =>
            (pmod(floor(v.cast("double") * 1000.0), lit(256)) - 128)
              .cast("int")).as("embedding"))
      graft.sources.FbinIO.write(vecs, tmp, dim = 64, numShards = 4,
        dtype = graft.sources.FbinIO.I8)
      graft.sources.FbinIO.read(s, tmp)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("long").as("e_first"),
          array_min(col("embedding")).cast("long").as("e_min"),
          array_max(col("embedding")).cast("long").as("e_max"))
    }),
    "ingest_embedded" -> ((s, d) => {
      // portable md5-based synthetic embedder (S8 slot): the digest
      // pins the integer hash pre-image of every dimension, and
      // e_first pins the float scaling — both reproduced exactly by
      // the SQL oracle. The native xxhash embedder stays covered by
      // ingest_pipeline + PipelineSpec determinism tests.
      Ingest.pipeline(Tables.load(s, d, "documents"),
          minTokens = 20, maxRows = 400,
          embedder = Ingest.syntheticEmbeddingPortable)
        .select(col("doc_id"),
          size(col("embedding")).cast("long").as("dim"),
          md5(concat_ws(",", transform(
            Ingest.portableHashInts(col("text")), _.cast("string"))))
            .as("vec_digest"),
          round(element_at(col("embedding"), 1).cast("double"), 6)
            .as("e_first"))
    })
  )

  val oracles: Map[String, String] = Map(
    "config_grid" ->
      """WITH k AS (
        |  SELECT count(*) AS n_kept FROM embeddings
        |  WHERE (label >= 0 AND label < 2) OR (label >= 5 AND label < 7)
        |), c AS (
        |  SELECT * FROM (VALUES (8, 1), (8, 4), (16, 1), (16, 4))
        |    t(npartitions, nprobe)
        |)
        |SELECT CAST(npartitions AS BIGINT) AS npartitions,
        |  CAST(nprobe AS BIGINT) AS nprobe, k.n_kept
        |FROM c CROSS JOIN k""".stripMargin,
    "csv_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    "ingest_categories" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'de', 'fr')
        |GROUP BY lang""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT doc_id, lang AS category, source, n_chars,
        |  md5(text) AS text_md5 FROM documents""".stripMargin,
    "orc_roundtrip" ->
      """SELECT doc_id, lang AS category, source, n_chars,
        |  md5(text) AS text_md5 FROM documents""".stripMargin,
    "ingest_pipeline" ->
      """WITH f AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents WHERE len(string_split(text, ' ')) >= 20
        |), capped AS (
        |  SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM f
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(64 AS BIGINT) AS dim
        |FROM capped WHERE rn <= 400""".stripMargin,
    "ingest_shards" ->
      """WITH f AS (
        |  SELECT doc_id FROM documents
        |  WHERE len(string_split(text, ' ')) >= 20
        |)
        |SELECT doc_id,
        |  CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 100)
        |    AS BIGINT) AS shard
        |FROM f""".stripMargin,
    "fbin_roundtrip" ->
      """SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
        |    AS vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e_first,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS e_min,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS e_max
        |FROM embeddings""".stripMargin,
    "hbin_roundtrip" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |      CAST(CAST(floor(CAST(x AS DOUBLE) * 128.0 + 0.5) / 128.0
        |        AS REAL) AS DOUBLE)) AS e
        |  FROM embeddings
        |)
        |SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
        |    AS vec_id,
        |  CAST(len(e) AS BIGINT) AS dim,
        |  round(e[1], 6) AS e_first,
        |  round(list_min(e), 6) AS e_min,
        |  round(list_max(e), 6) AS e_max
        |FROM q""".stripMargin,
    "ibin_roundtrip" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS e
        |  FROM embeddings
        |)
        |SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
        |    AS vec_id,
        |  CAST(len(e) AS BIGINT) AS dim,
        |  e[1] AS e_first, list_min(e) AS e_min, list_max(e) AS e_max
        |FROM q""".stripMargin,
    "u8bin_roundtrip" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |      ((CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) % 256)
        |        + 256) % 256) AS e
        |  FROM embeddings
        |)
        |SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
        |    AS vec_id,
        |  CAST(len(e) AS BIGINT) AS dim,
        |  e[1] AS e_first, list_min(e) AS e_min, list_max(e) AS e_max
        |FROM q""".stripMargin,
    "i8bin_roundtrip" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |      ((CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) % 256)
        |        + 256) % 256 - 128) AS e
        |  FROM embeddings
        |)
        |SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
        |    AS vec_id,
        |  CAST(len(e) AS BIGINT) AS dim,
        |  e[1] AS e_first, list_min(e) AS e_min, list_max(e) AS e_max
        |FROM q""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
        |  CAST(8 AS BIGINT) AS n_features
        |FROM documents""".stripMargin,
    // portable embedder: per-dim md5-prefix ints mod 2000001, scaled
    // (h/1e6 - 1) to float32 — mirrors Ingest.syntheticEmbeddingPortable
    "ingest_embedded" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 20
        |), capped AS (
        |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM f
        |), sel AS (
        |  SELECT doc_id, text FROM capped WHERE rn <= 400
        |), h AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |      CAST(concat('0x',
        |        substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 2000001) AS hs
        |  FROM sel
        |)
        |SELECT doc_id, CAST(64 AS BIGINT) AS dim,
        |  md5(array_to_string(hs, ',')) AS vec_digest,
        |  round(CAST(CAST(hs[1] / 1000000.0 - 1.0 AS REAL) AS DOUBLE), 6)
        |    AS e_first
        |FROM h""".stripMargin
  )
}
