package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Corpus-level operators for training-data pipelines: stratified
  * sampling and per-stratum statistics. (The reference samples
  * uniformly for its train/val split, cuvs_bench_grid_search_v3.py:
  * 771-779; a data-curation pipeline additionally needs PER-STRATUM
  * exact-count sampling — e.g. "50k docs per language" — and corpus
  * composition reports.)
  */
object Corpus {

  /** The portable 52-bit ranking hash as a double — the fused
    * Md5PrefixLong form of
    * `conv(substring(md5(c), 1, 13), 16, 10).cast("double")`:
    * bit-identical values (13 hex chars = the digest's leading 52
    * bits, exact in a double), one digest reuse instead of the
    * per-row getInstance + hex/conv string churn (r20). */
  private def md5Rank52(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    GraftFunctions.md5Prefix(c, 13).cast("double")

  /** Exactly min(k, stratum size) rows per stratum, deterministic and
    * portable: rows are ranked inside each stratum by the first 13 hex
    * chars of md5(id) (52 bits — exactly representable in a double, so
    * numeric order == hex-string order and a SQL oracle reproduces the
    * pick set bit-for-bit), ties broken by id.
    *
    * Scale design (100 TB): NO per-stratum window sort — a window
    * would hash-partition whole strata onto single tasks and die on a
    * skewed language mix. Instead the bounded-heap top-k aggregate
    * (TopKAgg) keeps k candidates per stratum PER PARTITION map-side
    * and merges heaps at reduce: shuffle volume is strata × k rows,
    * independent of corpus size.
    */
  def stratifiedSample(docs: DataFrame, groupCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val rank = md5Rank52(col(idCol).cast("string"))
    docs.select(col(groupCol), col(idCol).as("id"), rank.as("rk"))
      .groupBy(col(groupCol))
      .agg(GraftFunctions.topK(k, col("rk"), col("id")).as("picks"))
      .select(col(groupCol), explode(col("picks.id")).as(idCol))
  }

  /** WEIGHTED TRAINING-MIX sampling: draw a deterministic sample whose
    * per-stratum sizes follow a target weight vector (the "data
    * mixture" step of a pre-training pipeline — e.g. 50% en, 20% de…
    * out of a fixed document budget). Quota per stratum =
    * floor(budget × weight), capped by stratum size; rows are picked
    * by the same portable 52-bit md5 rank as `stratifiedSample`, so
    * the pick set is reproducible in any engine.
    *
    * Scale design (100 TB): identical to `stratifiedSample` — a
    * bounded-heap top-k aggregate per stratum (k = max quota) keeps
    * candidates map-side, so shuffle volume is strata × maxQuota rows
    * regardless of corpus size; the variable per-stratum quota is then
    * applied as a broadcast-joined filter on the (tiny) exploded pick
    * list. NO per-stratum window sort anywhere.
    * Output: (groupCol, pick_rank, id) with pick_rank 1-based. */
  def weightedMix(docs: DataFrame, weights: Map[String, Double],
      budget: Long, groupCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0))
    val spark = docs.sparkSession
    import spark.implicits._
    // floor of the EXACT product: (budget * wt).toLong truncates the
    // double product, which undercounts when the exact product is an
    // integer but the double lands just below it (10 x 0.7 = 6.999…)
    val quotas = weights.map { case (g, wt) =>
      (g, (BigDecimal(budget) * BigDecimal(wt))
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong)
    }
    // the heap size is an Int — fail loudly on oversize budgets rather
    // than silently truncating a >2^31 quota
    require(quotas.values.max <= Int.MaxValue,
      s"max stratum quota ${quotas.values.max} exceeds Int.MaxValue")
    val kMax = quotas.values.max.toInt
    require(kMax > 0, "budget x max weight must reach at least one row")
    val quotaDf = broadcast(quotas.toSeq.toDF(groupCol, "_quota"))
    val rank = md5Rank52(col(idCol).cast("string"))
    docs.filter(col(groupCol).isin(weights.keys.toSeq: _*))
      .select(col(groupCol), col(idCol).as("id"), rank.as("rk"))
      .groupBy(col(groupCol))
      .agg(GraftFunctions.topK(kMax, col("rk"), col("id")).as("picks"))
      .select(col(groupCol), posexplode(col("picks.id")).as(Seq("pos", "id")))
      .join(quotaDf, groupCol)
      .filter(col("pos") < col("_quota"))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("pick_rank"),
        col("id").as(idCol))
  }

  /** MEAN-POOLING of chunk embeddings into one document embedding —
    * the aggregation step of a chunk-embed-pool retrieval pipeline
    * (embed fixed windows, represent the document by their mean).
    *
    * Scale design (100 TB): ONE hash aggregate through the imperative
    * `VectorSum` (map-side partial element-wise sums — one dim-length
    * double buffer per (doc × partition) shuffles, never n×dim
    * exploded rows), then a per-row divide. The mean stays double
    * (float32 inputs are exact in double; the divide is one rounding)
    * — cast down at the consumer if fp32 storage is wanted.
    * Output: (idCol, doc_embedding array<double>, n_chunks). */
  def meanPoolEmbeddings(chunks: DataFrame, idCol: String = "doc_id",
      vecCol: String = "emb"): DataFrame =
    chunks.groupBy(col(idCol))
      .agg(GraftFunctions.vecSum(col(vecCol)).as("_sum"),
        count(lit(1)).as("n_chunks"))
      .select(col(idCol),
        transform(col("_sum"), s => s / col("n_chunks"))
          .as("doc_embedding"),
        col("n_chunks"))

  /** TEMPERATURE-WEIGHTED multilingual mixture (the mBERT/XLM-R
    * α = 0.5 exponential-smoothing sampler): per-stratum quotas
    * proportional to the SQUARE ROOT of observed stratum sizes —
    * upsampling tail languages relative to their raw share — drawn
    * from a fixed document budget. Unlike `weightedMix` (explicit
    * target weights), the weights here derive from the data itself.
    *
    * Exactness: quota_g = budget × isqrt(n_g) / Σ isqrt(n_j) in PURE
    * INTEGER arithmetic (isqrt = floor(sqrt), exact in IEEE double
    * for n < 2^50 and identical in any engine), so the quota vector —
    * and with the portable md5 rank, the pick set — is bit-for-bit
    * SQL-reproducible. Picks are ranked by the same 52-bit md5 prefix
    * as `stratifiedSample`.
    *
    * Scale design (100 TB): stratum counts are one map-side-combined
    * aggregate (strata rows to the driver); picks use the bounded-heap
    * top-k per stratum — shuffle = strata × maxQuota rows, never
    * corpus-sized; quota filtering is a broadcast join on the tiny
    * exploded pick list. Output: (groupCol, pick_rank, id). */
  def temperatureMix(docs: DataFrame, budget: Long,
      groupCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val roots = counts.map { case (g, n) =>
      (g, math.sqrt(n.toDouble).toLong) // isqrt: exact for n < 2^50
    }
    val totalRoot = roots.map(_._2).sum
    require(totalRoot > 0, "empty corpus")
    val quotas = roots.map { case (g, r) => (g, budget * r / totalRoot) }
      .filter(_._2 > 0)
    require(quotas.nonEmpty, "budget too small for any stratum")
    require(quotas.map(_._2).max <= Int.MaxValue,
      s"max stratum quota exceeds Int.MaxValue")
    val kMax = quotas.map(_._2).max.toInt
    val quotaDf = broadcast(quotas.toSeq.toDF(groupCol, "_quota"))
    val rank = md5Rank52(col(idCol).cast("string"))
    docs.filter(col(groupCol).isin(quotas.map(_._1).toSeq: _*))
      .select(col(groupCol), col(idCol).as("id"), rank.as("rk"))
      .groupBy(col(groupCol))
      .agg(GraftFunctions.topK(kMax, col("rk"), col("id")).as("picks"))
      .select(col(groupCol), posexplode(col("picks.id")).as(Seq("pos", "id")))
      .join(quotaDf, groupCol)
      .filter(col("pos") < col("_quota"))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("pick_rank"),
        col("id").as(idCol))
  }

  /** CONTRASTIVE NEGATIVE SAMPLING for embedding-training data prep:
    * for each query row, `m` deterministic negatives drawn from a
    * fixed candidate pool, excluding candidates that share the query's
    * label (the "different class" negative policy). Ranking is the
    * portable 52-bit md5(qid:id) hash, so every query gets its own
    * pseudo-random negative order and a SQL oracle reproduces the
    * exact pick set.
    *
    * Scale design (100 TB): per-query ranking over the FULL corpus
    * would be q × n — instead the classic two-stage: (1) a global
    * `poolSize` candidate pool via hash-ranked TakeOrderedAndProject
    * (per-partition heaps, poolSize rows to the driver), (2) the
    * small pool broadcasts and each query ranks only pool rows. The
    * per-query window group is bounded by poolSize, never by corpus
    * size. Output: (qid, neg_rank, neg_id, neg_label). */
  def contrastiveNegatives(items: DataFrame, queries: DataFrame,
      m: Int, poolSize: Int,
      idCol: String = "vec_id", labelCol: String = "label",
      qidCol: String = "qid", qlabelCol: String = "q_label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m > 0 && poolSize >= m)
    val pool = items
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("lbl"))
      .orderBy(md5(concat(col("id").cast("string"), lit(":pool"))),
        col("id"))
      .limit(poolSize)
    val rank = md5Rank52(concat(col(qidCol).cast("string"),
      lit(":"), col("id").cast("string")))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("rk"), col("id"))
    queries.select(col(qidCol).cast("long").as(qidCol),
        col(qlabelCol).cast("long").as(qlabelCol))
      .crossJoin(broadcast(pool))
      .filter(col("lbl") =!= col(qlabelCol))
      .select(col(qidCol), col("id"), col("lbl"), rank.as("rk"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= m)
      .select(col(qidCol), col("neg_rank"), col("id").as("neg_id"),
        col("lbl").as("neg_label"))
  }

  /** DOCUMENT CHUNKING for embedding pipelines: split each document
    * into fixed token windows (`chunkTokens` wide, every `stride`
    * tokens — stride < chunkTokens gives overlapping chunks), the
    * unit of work for embedding generation / RAG indexing over long
    * documents. Output one row per chunk: (doc_id, chunk_idx,
    * chunk_start, n_chunk_tokens, chunk_text); the final chunk may be
    * shorter.
    *
    * Scale design (100 TB): expression-only — tokenize once, generate
    * window starts with `sequence`, `posexplode`, slice per window.
    * Zero shuffle, stays inside whole-stage codegen, and the 1→N
    * explosion is bounded by document length. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && stride > 0)
    // Spread.cpu (r20): chunking and every downstream per-chunk stage
    // (embedding hashes in corpus_pool / pipeline_rag) are narrow over
    // this scan — sub-split input would serialize them on one core
    Spread.cpu(docs)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .filter(col("start") < size(col("toks"))) // n=0 -> no chunks
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("chunk_start"),
        slice(col("toks"), col("start") + 1, lit(chunkTokens)).as("ctoks"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(col("ctoks")).cast("long").as("n_chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
  }

  /** Corpus composition per (lang, source): doc count, whitespace
    * token total, char statistics. One map-side-combined hash
    * aggregate — linear, no joins. */
  def stats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
      round(avg(col("n_chars")), 6).as("avg_chars"),
      max(col("n_chars")).as("max_chars"))

  /** SEQUENCE PACKING for pre-training batches: concatenate the corpus
    * in doc_id order into fixed token-budget windows and report, per
    * document, which training sequence it lands in and at what token
    * offset (contiguous packing — a document may straddle a window
    * boundary, exactly like the token stream fed to an LLM trainer).
    * Returns (doc_id, n_tokens, seq_id, seq_offset) where
    * seq_id = exclusive-prefix-tokens / maxTokens and seq_offset =
    * exclusive-prefix-tokens % maxTokens.
    *
    * Scale design (100 TB): the global token prefix sum does NOT use
    * a single-task window. Range-partition by id (distributed sort),
    * then the classic two-pass distributed scan: pass 1 reduces each
    * partition to ONE total (P longs to the driver), pass 2 adds the
    * broadcast exclusive partition offsets to a local running sum —
    * O(n/P) per task, no stage ever sees the whole corpus. The
    * window-function twin (sum OVER (ORDER BY id)) is what the SQL
    * oracle runs and what CorpusSpec pins equality against. */
  def packSequences(docs: DataFrame, maxTokens: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxTokens > 0)
    val sorted = docs
      .select(col(idCol).cast("long").as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)]
    withExclusivePrefix[(Long, Long)](sorted.rdd, _._2)
      .map { case ((id, n), start) =>
        (id, n, start / maxTokens, start % maxTokens)
      }
      .toDF("doc_id", "n_tokens", "seq_id", "seq_offset")
  }

  /** DATA SELECTION UNDER A TOKEN BUDGET: keep the highest-quality
    * documents until the corpus reaches `tokenBudget` whitespace
    * tokens — the "select the best N billion tokens" step of a
    * pre-training data pipeline. A document is kept iff the token sum
    * of all strictly-better documents (quality desc, doc_id asc) is
    * still below the budget, so the crossing document is included and
    * the kept set is a prefix of the quality ordering.
    *
    * Scale design (100 TB): same distributed two-pass prefix sum as
    * `packSequences`, but over the QUALITY ordering — range-partition
    * by (-quality, doc_id) (distributed sort), reduce each partition
    * to one token total, broadcast the exclusive partition offsets,
    * local running sum. No single-task window anywhere; quality is
    * rounded to 6dp so the ordering (and therefore the kept set) is
    * engine-exact. Output: (doc_id, quality, n_tokens, tokens_before).
    */
  def selectByBudget(docs: DataFrame, tokenBudget: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(tokenBudget > 0)
    val (nTokens, quality) = TextAnalysis.qualityCols(col("toks"))
    val sorted = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), quality.as("q"), nTokens.as("n"))
      // sort key is the DECIMAL(9,6) image of the 6dp-rounded quality,
      // not the raw double: both engines order the cumsum by the exact
      // decimal, so a last-ulp double divergence can never reorder
      // near-ties and shift tokens_before
      .repartitionByRange(col("q").cast("decimal(9,6)").desc, col("doc_id"))
      .sortWithinPartitions(col("q").cast("decimal(9,6)").desc, col("doc_id"))
      .as[(Long, Double, Long)]
    withExclusivePrefix[(Long, Double, Long)](sorted.rdd, _._3)
      // prefixes are monotone, so takeWhile short-circuits: a
      // partition whose offset already exceeds the budget stops after
      // one row instead of deserializing everything for zero output
      .mapPartitions(_.takeWhile(_._2 < tokenBudget))
      .map { case ((id, q, n), before) => (id, q, n, before) }
      .toDF("doc_id", "quality", "n_tokens", "tokens_before")
  }

  /** EXACT DISTRIBUTED QUANTILES over a numeric column — the cutoff
    * trainer for `TextAnalysis.lmScore` (CCNet computes its
    * head/middle/tail perplexity cutoffs as percentiles over a scored
    * corpus) and an exact, scale-safe alternative to Spark's
    * `percentile` aggregate, which buffers EVERY value in one
    * aggregation state (fine per small group, fatal for a global
    * quantile at corpus scale — the boundary `Quantize`'s scaladoc
    * documents). Linear interpolation between the two neighboring
    * order statistics, identical to `percentile` / DuckDB
    * quantile_cont.
    *
    * Scale design (100 TB): range-repartition + within-partition sort
    * (no global single-task sort), ONE count pass for the partition
    * offsets (P longs to the driver), then ONE gather pass that reads
    * ONLY the partitions containing a wanted global rank and emits
    * <= 2×|qs| rows — the selectByBudget prefix-sum skeleton applied
    * to order statistics. The sorted relation is persisted across the
    * two passes and released before returning. Output: (q, value
    * rounded 6dp), one row per requested quantile. */
  def exactQuantiles(df: DataFrame, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    val sorted = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .repartitionByRange(col("v"))
      .sortWithinPartitions(col("v"))
      .as[Double].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partTotals = sorted.mapPartitionsWithIndex { case (pid, it) =>
        var s = 0L; it.foreach(_ => s += 1); Iterator((pid, s))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = partTotals.scanLeft(0L)(_ + _)
      val n = offsets.last
      require(n > 0, "exactQuantiles: empty input")
      val wanted = qs.flatMap { q =>
        val pos = q * (n - 1)
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }.toSet
      val bcOff = sorted.sparkContext.broadcast(offsets)
      val bcWanted = sorted.sparkContext.broadcast(wanted)
      val picked = sorted.mapPartitionsWithIndex { case (pid, it) =>
        val lo = bcOff.value(pid); val hi = bcOff.value(pid + 1)
        if (!bcWanted.value.exists(r => r >= lo && r < hi)) Iterator.empty
        else {
          var r = lo
          it.flatMap { v =>
            val out =
              if (bcWanted.value.contains(r)) Iterator((r, v))
              else Iterator.empty
            r += 1
            out
          }
        }
      }.collect().toMap
      qs.map { q =>
        val pos = q * (n - 1)
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val v = picked(lo) + (pos - lo) * (picked(hi) - picked(lo))
        (q, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.toDF("q", "value")
    } finally sorted.unpersist(blocking = false)
  }

  /** The shared two-pass distributed prefix sum: pass 1 reduces each
    * partition of an already-range-sorted RDD to one weight total
    * (P longs to the driver), pass 2 adds the broadcast exclusive
    * partition offsets to a local running sum. O(n/P) per task, no
    * single-task window — the scale pattern behind `packSequences`
    * and `selectByBudget`. Emits (row, exclusive-prefix-weight). */
  private def withExclusivePrefix[T: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T],
      weight: T => Long): org.apache.spark.rdd.RDD[(T, Long)] = {
    val partTotals = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var s = 0L; it.foreach(s += weight(_)); Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val bcOff = rdd.sparkContext.broadcast(offsets)
    rdd.mapPartitionsWithIndex { case (pid, it) =>
      var ex = bcOff.value(pid)
      it.map { t => val before = ex; ex += weight(t); (t, before) }
    }
  }

  /** DETERMINISTIC GLOBAL SHUFFLE for training-order preparation:
    * give every document a seeded pseudo-random global position and
    * cut the permuted order into `numShards` balanced round-robin
    * shards — the "shuffle the corpus before writing training shards"
    * step of a pre-training pipeline (the reference shuffles only its
    * train/val split, cuvs_bench_grid_search_v3.py:771-779; a corpus
    * writer needs the full permutation). Rank = first 13 hex chars of
    * md5(seed:id) (52 bits — exactly representable in a double, so
    * numeric order == hex-string order and a SQL oracle reproduces
    * the permutation bit-for-bit), ties by id.
    *
    * Scale design (100 TB): the permutation IS one distributed range
    * sort — range-partition by (rank, id) + zipWithIndex (the
    * `Ingest.globalRowNumber` pattern: per-partition counts, local
    * offsets). shard = pos % numShards derives from the position, so
    * shard sizes balance to within one row with NO second shuffle and
    * a `partitionBy("shard")` writer gets one interleaved slice per
    * shard. No window, no single-task stage anywhere.
    * Output: (doc_id, pos, shard, pos_in_shard), pos 0-based. */
  def shuffleShards(docs: DataFrame, seed: Long, numShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(numShards > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val rank = md5Rank52(concat(lit(s"$seed:"),
      col(idCol).cast("string")))
    val sorted = docs
      .select(col(idCol).cast("long").as("id"), rank.as("rk"))
      .repartitionByRange(col("rk"), col("id"))
      .sortWithinPartitions(col("rk"), col("id"))
      .as[(Long, Double)]
    sorted.rdd.zipWithIndex
      .map { case ((id, _), pos) =>
        (id, pos, pos % numShards, pos / numShards)
      }
      .toDF(idCol, "pos", "shard", "pos_in_shard")
  }

  /** PER-DOMAIN DOCUMENT CAP: keep at most `maxPerGroup` documents
    * per source/domain, picking the highest-quality ones (quality
    * desc, doc_id asc) — the "no single host may dominate the mix"
    * curation gate of web-crawl pipelines.
    *
    * Scale design (100 TB): NO per-domain window sort — a skewed
    * domain (half the crawl is one host) would land whole on one
    * task. The bounded-heap top-k aggregate keeps `maxPerGroup`
    * candidates per domain PER PARTITION map-side; shuffle volume is
    * domains × cap rows regardless of corpus size. The heap orders by
    * the NEGATED 6dp-rounded quality (it keeps smallest), ties by
    * doc_id; the decimal rounding makes the double ordering — and so
    * the kept set — engine-exact (the `selectByBudget` trick).
    * Output: (groupCol, pick_rank, doc_id), pick_rank 1-based in
    * quality-desc order. */
  def domainCap(docs: DataFrame, maxPerGroup: Int,
      groupCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxPerGroup > 0)
    val (_, quality) = TextAnalysis.qualityCols(col("toks"))
    docs
      .select(col(groupCol), col(idCol).cast("long").as("id"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("toks"))
      .select(col(groupCol), col("id"), (-quality).as("negq"))
      .groupBy(col(groupCol))
      .agg(GraftFunctions.topK(maxPerGroup, col("negq"), col("id"))
        .as("picks"))
      .select(col(groupCol), posexplode(col("picks.id"))
        .as(Seq("pos", "id")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("pick_rank"),
        col("id").as(idCol))
  }

  /** End-to-end CURATION pipeline, fused: quality score + language ID
    * + exact-content dedup in one pass, the canonical pre-training
    * data funnel (score → gate → keep-one-per-content). Returns the
    * curated corpus: one row per kept doc — (doc_id, lang_pred,
    * n_tokens, quality), where kept = quality ≥ minQuality AND
    * predicted language ∈ langs AND doc_id is the minimum id of its
    * exact-content (md5) group among survivors.
    *
    * Scale design (100 TB): ONE scan of the corpus computes tokens,
    * both scores, and the content hash; the quality/language gates
    * filter BEFORE any shuffle; and keep-one-per-content is a single
    * map-side-combined `min_by` aggregate carrying the keeper's row —
    * NOT a groupBy + join back to the scored table, which would
    * evaluate (and scan) the whole funnel twice. The only shuffled
    * state is the survivors' (text_hash, keeper-row) pairs. Compare:
    * running the qualityScore / languageId / exact-dedup operators
    * separately scans the corpus three times and joins full score
    * tables — this fused form is why the column-level helpers exist.
    * Pinned in PlanPropertiesSpec: exactly one FileScan, gates below
    * the exchange. */
  def curate(docs: DataFrame, minQuality: Double, langs: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (nTokens, quality) = TextAnalysis.qualityCols(col("toks"))
    val (langPred, _) = TextAnalysis.langIdCols(col("toks"))
    docs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("text_hash"), nTokens.as("n_tokens"),
        quality.as("quality"), langPred.as("lang_pred"))
      .filter(col("quality") >= minQuality &&
        col("lang_pred").isin(langs: _*))
      .groupBy(col("text_hash"))
      .agg(min_by(
        struct(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("quality")), col("doc_id")).as("kr"))
      .select(col("kr.doc_id").as("doc_id"),
        col("kr.lang_pred").as("lang_pred"),
        col("kr.n_tokens").as("n_tokens"),
        col("kr.quality").as("quality"))
  }

  /** DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-n-gram feature profile looks
    * like a TARGET distribution (e.g. curated/wiki-like docs) vs the
    * RAW pool. Features are unigrams + bigrams hashed into `buckets`
    * slots with the portable 52-bit md5 prefix; per-bucket add-one-
    * smoothed log-ratios lambda_b = ln((t_b+1)/(T+B)) -
    * ln((r_b+1)/(R+B)) are learned from the split given by
    * `isTarget`, and each doc's weight is sum over its feature
    * occurrences of lambda_bucket. High weight = target-like; the
    * selection step is then a plain top-k / threshold over the
    * weight (composable with `selectByBudget` / `stratifiedSample`).
    *
    * Scale design (100 TB): the feature relation is one row per
    * token + one per adjacent pair (expression-only n-gram
    * construction: unigram/bigram arrays built from a PROJECTED token
    * column with zip_with — never `transform` + `element_at` over an
    * inline split, which CollapseProject would duplicate into a
    * per-element re-split), and it is NEVER materialized: the model
    * pass streams it into a `buckets`-group map-side-combined count
    * aggregate (collected — EXACTLY `buckets` (t, r) pairs, like a
    * centroid table), and the scoring pass streams it again through
    * the broadcast lambda join into a per-doc aggregate whose
    * partials stay bounded (each doc's features live in one
    * partition). Two scans by design — an earlier one-scan variant
    * snapshotted the (doc, bucket) counts via localCheckpoint, but
    * ~120 features over 1024 buckets barely collide, so the snapshot
    * is feature-stream-sized and starved execution memory at 10M
    * docs. Hash collisions are part of the method (hashed importance
    * weights), not an error. Output: (doc_id, n_features, weight
    * rounded 6dp). */
  def dsirWeights(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int = 1024, idCol: String = "doc_id",
      textCol: String = "text", nativeHash: Boolean = false): DataFrame = {
    require(buckets > 0)
    val t = col("t")
    val bigrams = zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    // feature -> bucket: portable 52-bit md5 prefix by default (the
    // SQL oracle replays it — fused Md5PrefixLong, bit-identical to
    // the conv/substring chain it replaced); nativeHash=true swaps in
    // xxhash64 — the production path (hashed importance weights don't
    // care WHICH uniform hash buckets them)
    val bucketOf = (f: org.apache.spark.sql.Column) =>
      if (nativeHash) pmod(xxhash64(f), lit(buckets.toLong))
      else GraftFunctions.md5Prefix(f, 13) % buckets
    // Spread.cpu: the feature hash is the dominant per-row cost and a
    // sub-split corpus scan would serialize BOTH streamed passes on
    // one core (r20 profile: taskTime ≈ wall). Each doc's features
    // stay within its row's partition, so per-doc sums are unchanged.
    val feats = Spread.cpu(docs)
      .select(col(idCol).as("doc_id"), isTarget.as("is_target"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("is_target"),
        explode(concat(t, bigrams)).as("feat"))
      .select(col("doc_id"), col("is_target"),
        bucketOf(col("feat")).as("bucket"))
    // model pass: one streamed scan into `buckets` map-side-combined
    // groups, collected to the driver (driver-sized by the parameter)
    val perBucket = feats.groupBy("bucket")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("t"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("r"))
      .collect()
    val tt = perBucket.map(_.getLong(1)).sum.toDouble
    val rr = perBucket.map(_.getLong(2)).sum.toDouble
    val lambdaRows = perBucket.map { row =>
      (row.getLong(0),
        math.log((row.getLong(1) + 1.0) / (tt + buckets)) -
          math.log((row.getLong(2) + 1.0) / (rr + buckets)))
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val lambdas = lambdaRows.toSeq.toDF("bucket", "lambda")
    // scoring pass: the second streamed scan — broadcast lambda join,
    // per-doc aggregate (partials bounded: a doc's features all come
    // from its one source row, so each doc folds within one task)
    feats.join(broadcast(lambdas), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        round(sum(col("lambda")), 6).as("weight"))
  }

  /** PER-GROUP exact quantiles — `exactQuantiles` stratified (the
    * per-language CCNet cutoff trainer: one ppl threshold per lang,
    * not one global): exact order statistics WITHIN each group with
    * percentile/quantile_cont interpolation, still without any
    * value-buffering aggregate.
    *
    * Scale design (100 TB): ONE range sort by (group, value) — group
    * skew is handled by the range partitioner splitting a big group
    * across partitions, never one-task-per-group like a window sort.
    * Pass 1 reduces each partition to its per-group counts (P×G
    * pairs to the driver, G = #groups, bounded); pass 2 reads only
    * the partitions holding a wanted (group, rank) and emits
    * <= 2×|qs| rows per group. Interpolation happens on the driver
    * over those picked values.
    * Output: (groupCol, q, value rounded 6dp). */
  def groupedExactQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    val sorted = df
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
      .repartitionByRange(col("g"), col("v"))
      .sortWithinPartitions(col("g"), col("v"))
      .as[(String, Double)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-(partition, group) counts, in partition order
      val counts = sorted.mapPartitionsWithIndex { case (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (g, _) => m(g) = m.getOrElse(g, 0L) + 1L }
        m.iterator.map { case (g, c) => (pid, g, c) }.toList.iterator
      }.collect()
      // per group: total and, per partition, the group's rank offset
      val byGroup = counts.groupBy(_._2)
      val groupTotals = byGroup.map { case (g, cs) => g -> cs.map(_._3).sum }
      // wanted global-within-group ranks per group
      val wanted: Map[String, Set[Long]] = groupTotals.map { case (g, n) =>
        require(n > 0)
        g -> qs.flatMap { q =>
          val pos = q * (n - 1)
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
        }.toSet
      }
      // per (partition, group): the group's exclusive rank offset at
      // that partition's start
      val offsets: Map[(Int, String), Long] = byGroup.iterator.flatMap {
        case (g, cs) =>
          var acc = 0L
          cs.sortBy(_._1).map { case (pid, _, c) =>
            val o = ((pid, g), acc); acc += c; o
          }
      }.toMap
      val bcOff = sorted.sparkContext.broadcast(offsets)
      val bcWanted = sorted.sparkContext.broadcast(wanted)
      val picked = sorted.mapPartitionsWithIndex { case (pid, it) =>
        val off = bcOff.value; val want = bcWanted.value
        var g: String = null
        var r = 0L
        var inPlay = false
        var ws: Set[Long] = Set.empty
        it.flatMap { case (grp, v) =>
          if (grp != g) {
            g = grp
            r = off((pid, g))
            ws = want(g)
            // skip partitions holding none of this group's wanted
            // ranks (cheap per-group test, not per-row)
            inPlay = ws.exists(_ >= r)
          }
          val out = if (inPlay && ws.contains(r)) Iterator(((g, r), v))
            else Iterator.empty
          r += 1
          out
        }
      }.collect().toMap
      groupTotals.toSeq.sorted.flatMap { case (g, n) =>
        qs.map { q =>
          val pos = q * (n - 1)
          val lo = math.floor(pos).toLong
          val hi = math.ceil(pos).toLong
          val v = picked((g, lo)) + (pos - lo) * (picked((g, hi)) - picked((g, lo)))
          (g, q, BigDecimal(v).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF(groupCol, "q", "value")
    } finally sorted.unpersist(blocking = false)
  }

  /** K-CENTER GREEDY (farthest-point traversal, Gonzalez 1985)
    * coreset selection: pick the min-id row as the seed, then `k - 1`
    * times pick the row FARTHEST from the already-selected set (max
    * over rows of min over centers, ties to min id) — the classic
    * 2-approximation to the k-center cover and the standard
    * diversity-sampling step for training-data coresets (maximally
    * spread exemplars, the complement of SemDeDup's near-dup
    * collapse).
    *
    * Determinism/portability: each pair distance is rounded to 6dp
    * BEFORE the running min (so the per-row min-to-selected is a min
    * of rounded values), and the argmax breaks ties on id — an
    * engine replaying the same greedy (e.g. a recursive-CTE oracle)
    * reproduces the identical selection order.
    *
    * Scale design (100 TB): the running min-distance is ONE double
    * per row, updated by a narrow map against the single newest
    * center (broadcast as a literal); each pick is
    * TakeOrderedAndProject(1) — per-partition 1-row heaps, one row to
    * the driver, never a global sort. Total cost k narrow passes,
    * zero shuffles. State is re-persisted each round and the prior
    * round unpersisted, so lineage and memory stay O(1) per round.
    * Output: (rank 1..k, idCol) in selection order.
    */
  def kCenters(data: DataFrame, k: Int, metric: String = "sqeuclidean",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"kCenters: k must be positive, got $k")
    val spark = data.sparkSession
    import spark.implicits._
    val base = data.select(col(idCol).cast("long").as("_id"),
      col(vecCol).as("_v"))
    // COST-BASED LOCAL REPLAY (r20): the distributed greedy issues
    // ~4 driver round trips per pick (argmax collect + re-persist +
    // count + unpersist) — at sf0.1 that was 37 jobs around 0.13 s of
    // task work. Coreset slices are usually bounded (the operator
    // picks k exemplars); when the slice fits
    // `graft.coreset.localRowBudget` rows it is collected once and
    // the identical greedy replays on the driver: same seed (min id),
    // same 6dp-rounded running-min distances (`Knn.scalarDistance`
    // is the expressions' shared kernel, `BigDecimal` HALF_UP is
    // round()'s own rounding), same (max dist, min id) argmax — so
    // the selection order is bit-identical (pinned in CorpusSpec).
    // Past the budget the distributed loop runs as before.
    val localRowBudget = spark.conf
      .get("graft.coreset.localRowBudget", "200000").toLong
    if (base.count() <= localRowBudget) {
      val rows = base.as[(Long, Array[Float])].collect().sortBy(_._1)
      if (rows.isEmpty) return Seq.empty[(Long, Long)].toDF("rank", idCol)
      def round6(v: Double): Double =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val md = new Array[Double](rows.length)
      val sel = new Array[Boolean](rows.length)
      var i = 0
      while (i < rows.length) {
        md(i) = round6(Knn.scalarDistance(metric, rows(i)._2, rows(0)._2))
        i += 1
      }
      sel(0) = true // seed = min id (rows are id-ascending)
      var selected = List(rows(0)._1)
      var picks = 1
      while (picks < k && picks < rows.length) {
        var best = -1
        i = 0
        while (i < rows.length) {
          // strict >: ascending-id iteration keeps the lowest id on a
          // distance tie — the orderBy(_md desc, _id) pick rule
          if (!sel(i) && (best < 0 || md(i) > md(best))) best = i
          i += 1
        }
        sel(best) = true
        selected = rows(best)._1 :: selected
        picks += 1
        if (picks < k) {
          i = 0
          while (i < rows.length) {
            if (!sel(i)) {
              val d = round6(
                Knn.scalarDistance(metric, rows(i)._2, rows(best)._2))
              if (d < md(i)) md(i) = d
            }
            i += 1
          }
        }
      }
      return selected.reverse.zipWithIndex
        .map { case (id, r) => (r + 1L, id) }
        .toDF("rank", idCol)
    }
    val seedRow = base.orderBy(col("_id")).limit(1)
      .as[(Long, Array[Float])].collect()
    if (seedRow.isEmpty) return Seq.empty[(Long, Long)]
      .toDF("rank", idCol)
    var selected = List(seedRow.head)
    // running min of ROUNDED distances to the selected set, plus a
    // _sel flag marking already-picked rows — a growing isin(list)
    // filter would re-compare every row against all k picks each
    // round (O(k²·n/P) total, and an expression tree that grows per
    // round); the flag keeps every pass O(n) independent of k
    var state = base
      .withColumn("_md", round(Knn.distance(metric, col("_v"),
        typedlit(seedRow.head._2.toSeq)), 6))
      .withColumn("_sel", col("_id") === seedRow.head._1)
      .persist()
    var picks = 1 // the seed (k >= 1 enforced on entry)
    try {
      while (picks < k) {
        val next = state
          .filter(!col("_sel"))
          .orderBy(col("_md").desc, col("_id"))
          .limit(1)
          .select(col("_id"), col("_v")).as[(Long, Array[Float])]
          .collect()
        if (next.isEmpty) { picks = k } // fewer than k rows: stop
        else {
          selected = next.head :: selected
          picks += 1
          if (picks < k) {
            val prev = state
            state = state
              .withColumn("_md",
                least(col("_md"), round(Knn.distance(metric, col("_v"),
                  typedlit(next.head._2.toSeq)), 6)))
              .withColumn("_sel",
                col("_sel") || col("_id") === next.head._1)
              .persist()
            // materialize before dropping the parent from cache
            state.count()
            prev.unpersist()
          }
        }
      }
    } finally state.unpersist()
    selected.reverse.zipWithIndex
      .map { case ((id, _), i) => (i + 1L, id) }
      .toDF("rank", idCol)
  }
}
