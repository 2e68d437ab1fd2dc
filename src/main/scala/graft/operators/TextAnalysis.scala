package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language ID, content fingerprinting. All
  * expression-level (codegen'd, no UDFs), linear scans — they
  * trivially scale: no shuffle except the final aggregation a caller
  * adds.
  */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, single other
    * non-space symbols — a portable approximation of byte-pair
    * pre-tokenization that both Spark and the SQL oracle can run. */
  val tokenPattern = "[A-Za-z]+|[0-9]+"

  def whitespaceTokens(text: Column): Column = split(text, " ")

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Deterministic, SQL-mirrorable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "is", "not"),
    "es" -> Seq("el", "la", "y", "es", "no"),
    "fr" -> Seq("le", "la", "et", "est", "pas"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  /** Per-doc token statistics. */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = whitespaceTokens(col(textCol))
    docs.select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(tokenPattern), lit(0)))
        .cast("long").as("n_re_tokens"),
      length(col(textCol)).cast("long").as("n_chars_computed"))
  }

  /** Quality-score columns (n_tokens, quality) over a token-array
    * column — the single definition shared by `qualityScore` and the
    * fused curation pipeline (`Corpus.curate`). Quality in [0,1]:
    * length saturation + stopword presence + lexical diversity, same
    * arithmetic order as the SQL oracle so the doubles match
    * bit-for-bit before rounding. Repeated subexpressions (size) are
    * deduplicated by whole-stage-codegen CSE. */
  def qualityCols(toks: Column): (Column, Column) = {
    val en = langMarkers.toMap.apply("en")
    val n = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(en: _*))).cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    (n.cast("long"),
      round(
        least(n / 100.0, lit(1.0)) * 0.5 +
          least(nStop / n * 5.0, lit(1.0)) * 0.2 +
          (nUniq / n) * 0.3, 6))
  }

  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (nTokens, quality) = qualityCols(col("toks"))
    docs.select(col(idCol).as("doc_id"),
        whitespaceTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), nTokens.as("n_tokens"), quality.as("quality"))
  }

  /** Language-ID columns (lang_pred, marker_hits) over a token-array
    * column: marker-stopword hit counts per language, argmax with
    * alphabetical tie-break; 'und' (undetermined) when no marker hits.
    * Shared by `languageId` and `Corpus.curate`. */
  def langIdCols(toks: Column): (Column, Column) = {
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*)))
    }
    // argmax over the per-lang scores; langMarkers is alphabetical so
    // the first max wins ties deterministically
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight keeps the FIRST (alphabetically smallest) matching lang
    (scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(best > 0 && s === best, lit(lang)).otherwise(acc)
    }, best.cast("long"))
  }

  def languageId(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (langPred, hits) = langIdCols(col("toks"))
    docs.select(col(idCol).as("doc_id"),
        whitespaceTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), langPred.as("lang_pred"),
        hits.as("marker_hits"))
  }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set (portable across engines, unlike seeded xxhash). */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      md5(array_join(array_sort(array_distinct(whitespaceTokens(col(textCol)))),
        " ")).as("fingerprint"))

  /** Winnowing-style rolling fingerprint: hash every k-token window,
    * keep the minimum hash per sliding band of w windows (document
    * sketch for local similarity). Expression-only implementation. */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowWith(docs, k, w, idCol, textCol, g => xxhash64(g))

  /** Winnow with the engine-portable 60-bit md5-prefix window hash
    * (identical bits in any engine — a SQL oracle reproduces the full
    * sketch; the xxhash64 variant above is the cheaper native path). */
  def winnowPortable(docs: DataFrame, k: Int = 4, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowWith(docs, k, w, idCol, textCol,
      g => graft.GraftFunctions.md5Prefix(g, 15))

  /** Repetition quality signals (the Gopher-rules repetition family):
    * per document, the fraction of token occurrences claimed by the
    * single most frequent unigram / bigram, and the fraction of
    * trigram occurrences whose trigram occurs more than once.
    * Heavily-repeated boilerplate (keyword stuffing, nav bars, looped
    * generations) scores high and gets filtered before training.
    *
    * Scale design: all occurrences of one document live in ONE input
    * row, so the whole computation is the single-pass native
    * `RepetitionStats` expression — a linear scan with NO gram
    * explosion and NO shuffle (the earlier declarative lowering
    * shuffled ~3n (doc, k, gram) rows through three hash aggregates
    * and spent ~15 s where this spends ~0.2 s; the SQL oracle keeps
    * the declarative formulation, so equivalence stays pinned).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.GraftFunctions.repetition(col(textCol)).as("rs"))
      .select(col("doc_id"),
        col("rs.n_tokens").as("n_tokens"),
        round(col("rs.top_unigram_frac"), 6).as("top_unigram_frac"),
        round(col("rs.top_bigram_frac"), 6).as("top_bigram_frac"),
        round(col("rs.dup_trigram_frac"), 6).as("dup_trigram_frac"))

  /** TF-IDF top terms per document — the standard relevance weighting
    * for corpus analysis (salient-term extraction, topic auditing of a
    * training mix). The idf factor is the PLAIN RATIO N/df, not
    * log(N/df): tf * (N/df) is three correctly-rounded IEEE double
    * operations on integers, identical in every engine, whereas `ln`
    * is libm-dependent and can flap a rank on a near-tie. Ranking uses
    * (score desc, term asc) so ties are deterministic.
    *
    * Scale design (100 TB): document frequencies come from ONE hash
    * aggregate over the full corpus (map-side combined); the per-doc
    * term counts are computed only for `docFilter` survivors, so the
    * expensive explode side is pre-pruned; the tf-df equi-join
    * shuffles by term (both sides already aggregated — rows, not
    * occurrences). The per-doc top-k window partitions by doc_id,
    * whose group size is bounded by document length, not corpus size.
    */
  def tfIdfTopTerms(docs: DataFrame, topK: Int,
      docFilter: Column = lit(true),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        docFilter.as("_keep"))
    val tf = terms.filter(col("_keep"))
      .select(col("doc_id"),
        explode(whitespaceTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms
      .select(explode(array_distinct(whitespaceTokens(col("text"))))
        .as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // N folded into the plan as a broadcast 1-row aggregate — an eager
    // docs.count() here would launch a separate corpus-scan job at
    // DataFrame-construction time, before (and in addition to) the
    // real query
    val nDocs = docs.agg(count(lit(1)).cast("double").as("_n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * (col("_n") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), round(col("score"), 6).as("score"))
  }

  /** Corpus-wide VOCABULARY heavy hitters: the k most frequent tokens
    * with occurrence and document counts (the first step of vocab /
    * tokenizer construction and of stopword discovery over a training
    * corpus).
    *
    * Scale design (100 TB): occurrences reduce through TWO map-side-
    * combined hash aggregates — (term, doc) partial counts, then per-
    * term totals (sum + count covers both statistics in one pass, no
    * count-distinct shuffle) — and the global top-k is orderBy+limit,
    * which Catalyst plans as TakeOrderedAndProject (per-partition
    * bounded heaps, k rows to the driver, never a global sort). The
    * final rank window runs over k rows only. */
  def vocabTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(col(idCol).as("doc_id"),
        explode(whitespaceTokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("term"))
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("term"))
      .limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("term"))).cast("long"))
      .select(col("rank"), col("term"), col("n_occ"), col("n_docs"))
  }

  /** OOV / UNK-RATE profiling — tokenizer-coverage analysis: build
    * the top-`vocabSize` corpus vocabulary (occurrence-desc, token
    * tie-break — `vocabTopK`'s ordering) and report each document's
    * fraction of token OCCURRENCES falling outside it: the UNK rate a
    * closed-vocab tokenizer of that size would hit. High-OOV docs are
    * noise/other-language candidates; the corpus-level mean drives
    * the vocab-size decision.
    *
    * Scale design (100 TB): counts are one map-side-combined
    * aggregate; the top-N cut is TakeOrderedAndProject (per-partition
    * heaps, N rows to the driver); the vocab then BROADCASTS into the
    * per-doc membership count — the corpus-sized token relation never
    * shuffles. One more per-doc aggregate closes it.
    * Output: (idCol, n_tokens, n_oov, oov_rate rounded 6dp). */
  def oovRate(docs: DataFrame, vocabSize: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0)
    val toks = docs.select(col(idCol),
      explode(whitespaceTokens(col(textCol))).as("term"))
    val vocab = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"))
    toks.join(broadcast(vocab).withColumn("_in", lit(1)),
        Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }

  /** PII REDACTION — the scrubbing pass every published pretraining
    * pipeline runs before training: emails, IPv4 addresses, and long
    * digit runs (phone/account numbers) are replaced with typed
    * placeholder tokens. Purely expression-level (three chained
    * regexp_replace + three regexp_extract_all counts): zero shuffle,
    * whole-stage codegen, linear scan at any corpus size. Patterns
    * stay in the RE2-compatible subset so the DuckDB oracle replays
    * them exactly. Counts are per stage on the progressively redacted
    * text (an email's digits are not double-counted as a number; an
    * IP's octets never reach the digit-run rule — octets are <= 3
    * digits anyway). Output: (idCol, textCol redacted, n_emails,
    * n_ips, n_numbers). */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minDigits: Int = 7): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val num = s"[0-9]{$minDigits,}"
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, email, "<EMAIL>")
    val t2 = regexp_replace(t1, ip, "<IP>")
    val t3 = regexp_replace(t2, num, "<NUMBER>")
    docs.select(col(idCol), t3.as(textCol),
      size(regexp_extract_all(t0, lit(email), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t1, lit(ip), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(t2, lit(num), lit(0)))
        .cast("long").as("n_numbers"))
  }

  /** WITHIN-DOCUMENT first-occurrence dedup at `sep` granularity —
    * the C4/CCNet "drop repeated lines inside a page" cleanup, run at
    * token granularity over the synthetic corpus (its docs have no
    * newlines). Keeps the FIRST occurrence of every unit, preserves
    * order, reassembles with the same separator. Purely
    * expression-level (split → array_distinct, which retains first
    * occurrences, → array_join): zero shuffle, whole-stage codegen,
    * per-row state bounded by the document — the linear-scan shape a
    * 100-TB pass needs. Complements `Dedup.boilerplateRemove`, which
    * drops units frequent ACROSS documents and needs a corpus
    * aggregate; this one is intra-document only.
    * Output: (idCol, textCol deduped, n_removed). */
  def dedupUnits(docs: DataFrame, sep: String = " ",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val uniq = array_distinct(toks)
    docs.select(col(idCol), array_join(uniq, sep).as(textCol),
      (size(toks) - size(uniq)).cast("long").as("n_removed"))
  }

  /** CCNet-STYLE PERPLEXITY FILTER — score every document by the
    * average negative log-likelihood under a unigram add-one-smoothed
    * language model trained on the corpus itself, then bucket into
    * head / middle / tail by perplexity cutoffs (CCNet, Wenzek et al.
    * 2020: the cutoffs are precomputed percentiles — here they are
    * explicit parameters, the shape the production workflow uses once
    * the percentile pass has run). p(w) = (c(w)+1)/(N+V); lower
    * perplexity = more "in-distribution" = head.
    *
    * Scale design (100 TB): LM training is ONE map-side-combined
    * count aggregate; the (N, V) totals are a single row crossJoined
    * back (broadcast by construction); scoring joins the token
    * relation to the count table on the term — an equi-join
    * hash-partitioned on the term (the vocabulary of a web corpus is
    * NOT broadcast-safe), then one per-doc aggregate. No window, no
    * driver collect. Buckets compare the ROUNDED perplexity so the
    * boundary is engine-portable. Output: (doc_id, n_tokens,
    * avg_nll 6dp, ppl 4dp, bucket). */
  def lmScore(docs: DataFrame, headPpl: Double, tailPpl: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(headPpl <= tailPpl)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(whitespaceTokens(col(textCol))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("v_size"))
    val scored = toks
      .join(counts, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("n_total") + col("v_size")).cast("double")).as("lnp"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(col("lnp")) / count(lit(1)).cast("double")).as("nll"))
    val ppl = round(exp(col("nll")), 4)
    perDoc.select(col("doc_id"), col("n_tokens"),
      round(col("nll"), 6).as("avg_nll"), ppl.as("ppl"),
      when(ppl <= headPpl, "head").when(ppl <= tailPpl, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** BIGRAM add-one LM perplexity — the context-aware step from
    * `lmScore`'s unigram model toward CCNet's n-gram KenLM filter:
    * p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V),
    * with a <s> start context per document (c(<s>) = nDocs) and V =
    * the unigram vocabulary size. Repetitive/templated text scores
    * much lower ppl than under the unigram model (context captures
    * the repetition), which is exactly why CCNet filters on n-gram
    * perplexity.
    *
    * Scale design (100 TB): the (prev, cur) pair stream is built
    * EXPRESSION-ONLY (zip_with against the shifted token array — no
    * window, no per-doc sort, zero extra shuffle); bigram and
    * context counts are two map-side-combined aggregates; scoring
    * joins are keyed on (prev, cur)/(prev) — a web-scale vocabulary
    * is NOT broadcast-safe, same design as `lmScore`. Buckets
    * compare the ROUNDED ppl (engine-portable boundary).
    * Output: (idCol, n_tokens, avg_nll 6dp, ppl 4dp, bucket). */
  def lmScoreBigram(docs: DataFrame, headPpl: Double, tailPpl: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(headPpl <= tailPpl)
    val toks = whitespaceTokens(col(textCol))
    val pairs = docs.select(col(idCol).as("doc_id"),
        explode(zip_with(
          concat(array(lit("<s>")), slice(toks, lit(1),
            greatest(size(toks) - 1, lit(0)))),
          toks,
          (p, c) => struct(p.as("prev"), c.as("cur")))).as("pc"))
      .select(col("doc_id"), col("pc.prev").as("prev"),
        col("pc.cur").as("cur"))
    val bc = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("bc"))
    val cc = pairs.groupBy("prev").agg(count(lit(1)).as("cc"))
    // V from the cur side: every token occurrence appears as cur
    // exactly once (prev misses each doc's final token)
    val vSize = pairs.agg(countDistinct(col("cur")).as("_v"))
    val scored = pairs
      .join(bc, Seq("prev", "cur"), "left")
      .join(cc, Seq("prev"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("doc_id"),
        log((coalesce(col("bc"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cc"), lit(0L)) + col("_v")).cast("double"))
          .as("lnp"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(col("lnp")) / count(lit(1)).cast("double")).as("nll"))
    val ppl = round(exp(col("nll")), 4)
    perDoc.select(col("doc_id").as(idCol), col("n_tokens"),
      round(col("nll"), 6).as("avg_nll"), ppl.as("ppl"),
      when(ppl <= headPpl, "head").when(ppl <= tailPpl, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** MIN-K% PROB membership/contamination diagnostic (Shi et al.
    * 2023, "Detecting Pretraining Data from Large Language Models"):
    * per document, the mean of the lowest ceil(kPct·n) token
    * log-probabilities under the corpus unigram LM. Documents the
    * model finds suspiciously UNsurprising even at their least-likely
    * tokens (high min-k score) are membership candidates; the
    * canonical leak check run with a real LM's logprobs — here over
    * the same add-one unigram model as `lmScore`, which keeps the
    * whole diagnostic SQL-reproducible.
    *
    * Determinism/portability: each token's lnp converts to exact
    * INTEGER MICRO-NATS (round(lnp·10⁶), both engines round the
    * identical IEEE product half-away-from-zero) BEFORE the per-doc
    * sort and cut — everything downstream is integer arithmetic, so
    * there is no rounding boundary anywhere. (A rounded MEAN of
    * already-rounded values is a midpoint trap: a mean of eight 6dp
    * values lands on x.xxxxxx5 exactly, where engines' rounding of
    * the binary double legitimately disagrees — hit on real data,
    * hence the integer formulation.) The score is
    * min_k_sum_micro / (10⁶ · n_lowest) if a float is wanted.
    *
    * Scale design (100 TB): same shapes as `lmScore` — one count
    * aggregate, one term-keyed join (web-scale vocab is not
    * broadcast-safe), then ONE per-doc aggregate whose collect_list
    * is bounded by document length, never corpus size.
    * Output: (idCol, n_tokens, n_lowest, min_k_sum_micro). */
  def minKProb(docs: DataFrame, kPct: Double = 0.2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(kPct > 0.0 && kPct <= 1.0,
      s"minKProb: kPct must be in (0, 1], got $kPct")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(whitespaceTokens(col(textCol))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("v_size"))
    val scored = toks
      .join(counts, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("n_total") + col("v_size")).cast("double")) * 1e6)
          .cast("long").as("lnp_micro"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(col("lnp_micro"))).as("_ls"))
      .withColumn("_k",
        ceil(col("n_tokens") * lit(kPct)).cast("int"))
      .select(col("doc_id").as(idCol), col("n_tokens"),
        col("_k").cast("long").as("n_lowest"),
        aggregate(slice(col("_ls"), lit(1), col("_k")), lit(0L),
          (acc, x) => acc + x).as("min_k_sum_micro"))
  }

  /** Frozen unigram LM — the SERVING form of `lmScore`'s model: the
    * top-`maxVocab` terms' counts plus the training totals (N, V).
    * Terms outside the kept vocabulary score the smoothed floor
    * 1/(N+V), exactly how a deployed closed-vocab filter treats OOV.
    * With maxVocab >= the training vocabulary the scores are
    * identical to `lmScore`'s. */
  case class LmModel(counts: Map[String, Long], nTotal: Long, vSize: Long)

  /** Train the frozen LM from a static corpus: one count aggregate +
    * a TakeOrderedAndProject top-`maxVocab` cut (count desc, term
    * asc) — the `vocabTopK` shape; the model is driver-sized by the
    * parameter. */
  def trainLm(docs: DataFrame, maxVocab: Int,
      textCol: String = "text"): LmModel = {
    val counts = termCounts(docs, textCol)
    val t = counts.agg(sum(col("n_occ")), count(lit(1))).head()
    val top = counts.orderBy(col("n_occ").desc, col("term"))
      .limit(maxVocab).collect()
    LmModel(top.map(r => r.getString(0) -> r.getLong(1)).toMap,
      t.getLong(0), t.getLong(1))
  }

  /** Score documents against a FROZEN LM — purely expression-level
    * (the model rides along as a map literal, the counterpart of the
    * collected centroid matrices), so it is stateless and
    * STREAMING-SAFE: no aggregation, no watermark, append mode — the
    * curation-at-ingest scorer a crawl pipeline runs on arrival.
    * Same output shape and bucket rule as `lmScore`; the nll fold is
    * sequential over the token array (vs the batch aggregate's
    * arbitrary order — the 6dp/4dp rounding absorbs the last-ulp
    * difference, as everywhere else). */
  def lmScoreFrozen(docs: DataFrame, model: LmModel,
      headPpl: Double, tailPpl: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(headPpl <= tailPpl)
    val cmap = typedLit(model.counts)
    val denom = lit((model.nTotal + model.vSize).toDouble)
    val toks = whitespaceTokens(col(textCol))
    val nll = (-aggregate(toks, lit(0.0), (acc, t) =>
      acc + log((coalesce(element_at(cmap, t), lit(0L)) + lit(1.0)) /
        denom))) / size(toks).cast("double")
    // null-text docs vanish from lmScore (explode drops them) — match
    // that here or the frozen==batch parity breaks on such corpora
    val scored = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_tokens"), nll.as("nll"))
    val ppl = round(exp(col("nll")), 4)
    scored.select(col("doc_id"), col("n_tokens"),
      round(col("nll"), 6).as("avg_nll"), ppl.as("ppl"),
      when(ppl <= headPpl, "head").when(ppl <= tailPpl, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** One corpus-wide term-count aggregate — the SINGLE definition of
    * the (count desc, term asc) vocabulary ordering that `trainVocab`
    * and `trainLm` cut from (and that `vocabTopK`/`oovRate`'s SQL
    * oracles replay — keep the tie-break in lockstep). */
  private def termCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(whitespaceTokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_occ"))

  /** Closed-vocabulary trainer for `encodeTokens`: term -> id map
    * from the top-`vocabSize` corpus tokens (occurrence desc, term
    * asc — the `vocabTopK`/`oovRate` cut), ids starting at
    * `firstId` so 0 stays free for UNK. Driver-sized by parameter. */
  def trainVocab(docs: DataFrame, vocabSize: Int, firstId: Int = 1,
      textCol: String = "text"): Map[String, Int] = {
    require(vocabSize > 0)
    termCounts(docs, textCol)
      .orderBy(col("n_occ").desc, col("term"))
      .limit(vocabSize)
      .collect().zipWithIndex
      .map { case (r, i) => r.getString(0) -> (firstId + i) }.toMap
  }

  /** TOKEN ENCODING — the closed-vocab tokenization step that turns
    * text into the integer id sequences training actually consumes
    * (the step between `tokenStats`/`vocabTopK` and
    * `Corpus.packSequences`): every token maps to its vocabulary id,
    * out-of-vocabulary tokens to `unkId`. Purely expression-level
    * (the vocabulary rides along as a map literal, bounded by the
    * vocab-size parameter like `LmModel`) — stateless, zero shuffle,
    * streaming-safe. Output: (idCol, ids ARRAY<INT>, n_tokens,
    * n_unk). */
  def encodeTokens(docs: DataFrame, vocab: Map[String, Int],
      unkId: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(!vocab.valuesIterator.contains(unkId),
      "unkId collides with a vocabulary id")
    val vmap = typedLit(vocab)
    val toks = whitespaceTokens(col(textCol))
    val ids = transform(toks,
      t => coalesce(element_at(vmap, t), lit(unkId)))
    docs.select(col(idCol).as("doc_id"), ids.as("ids"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(ids, i => i === unkId)).cast("long").as("n_unk"))
  }

  /** CROSS-DOCUMENT duplicated-n-gram coverage — the "fraction of
    * tokens inside an n-gram that also occurs in another document"
    * signal (the cross-doc complement of `repetitionStats`'
    * within-doc duplicated-trigram fraction; the per-doc diagnostic
    * behind exact-substring-dedup decisions a la Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better").
    * A token position counts as covered when ANY n-gram window
    * containing it also appears in >= `minDocs` distinct documents.
    *
    * Scale design (100 TB): the gram relation (one row per token
    * position, fixed-width 104-bit md5 fingerprint as the shuffle
    * key) is shuffled by gram ONCE into a grouped occurrence list —
    * the same candidate-stage shape as `Dedup.crossDocSpanDedup`,
    * instead of a groupBy + self-join that would compute and shuffle
    * the grams twice; the distinct-doc gate evaluates on the grouped
    * list, coverage expands ONLY duplicated-gram windows (n rows
    * each), and the per-doc covered count folds through one bounded
    * collect_set per document (<= doc length). Nothing is quadratic;
    * nothing broadcasts a corpus-derived relation.
    * Output: (doc_id, n_tokens, n_covered, coverage rounded 6dp). */
  def crossDocNgramCoverage(docs: DataFrame, n: Int, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && minDocs >= 2)
    // Spread.cpu + fused Md5PrefixStr (r20): see crossDocSpanDedup —
    // same gram relation, same placement independence
    val base = Spread.cpu(docs).select(col(idCol).as("doc_id"),
      whitespaceTokens(col(textCol)).as("toks"))
    // one row per n-gram start position i (0-based)
    val grams = base
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - n),
          i => graft.GraftFunctions.md5PrefixStr(
            array_join(slice(col("toks"), i + 1, lit(n)), " "), 26))))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("gram"))
    val covered = grams
      .groupBy(col("gram"))
      .agg(collect_list(struct(col("doc_id"), col("i"))).as("occs"))
      .where(size(array_distinct(
        transform(col("occs"), o => o("doc_id")))) >= minDocs)
      .select(explode(col("occs")).as("o"))
      .select(col("o")("doc_id").as("doc_id"),
        explode(sequence(col("o")("i"), col("o")("i") + (n - 1)))
          .as("pos"))
      .groupBy("doc_id")
      .agg(size(collect_set(col("pos"))).cast("long").as("n_covered"))
    base.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("coverage"))
  }

  /** COUNT-MIN SKETCH over token occurrences (Cormode & Muthukrishnan
    * 2005): `d` hash rows × `w` buckets of counters; every occurrence
    * increments one bucket per row, and a term's estimate is the MIN
    * of its `d` counters — an upper bound on the true count that is
    * tight for heavy hitters. This is the bounded-memory alternative
    * to the exact `vocabTopK` groupBy when the vocabulary itself
    * explodes (web-scale n-gram or URL frequency profiling): counter
    * state is d×w regardless of vocabulary size, and sketches MERGE
    * by cell-wise addition, so per-shard sketches roll up without
    * ever shuffling terms.
    *
    * Scale design (100 TB): the sketch is ONE map-side-combined hash
    * aggregate on (row, bucket) — the key space is d×w (thousands),
    * so partial aggregation collapses each partition to at most d×w
    * rows before the (tiny) shuffle; the corpus-sized occurrence
    * relation never moves. Buckets hash with the portable 52-bit md5
    * prefix (the DSIR/knn ranking hash), so an oracle reproduces
    * every cell.
    * Output: (r, bucket, c) — the sketch relation. */
  def cmsSketch(docs: DataFrame, depth: Int = 4, width: Int = 512,
      textCol: String = "text"): DataFrame = {
    require(depth > 0 && width > 0,
      s"cmsSketch: depth/width must be positive, got $depth/$width")
    docs.select(explode(whitespaceTokens(col(textCol))).as("term"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"),
        col("term"))
      .select(col("r"), cmsBucket(col("r"), col("term"), width).as("bucket"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-estimate lookup against a `cmsSketch` relation for a
    * (small) candidate-term table: estimate = min over the d rows of
    * the term's counter, 0 when a bucket was never touched. The
    * sketch (d×w rows) BROADCASTS into the candidate join — nothing
    * corpus-sized is involved. Output: (term, cms_count). */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, depth: Int = 4,
      width: Int = 512, termCol: String = "term"): DataFrame =
    terms.select(col(termCol).as("term"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", cmsBucket(col("r"), col("term"), width))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_count"))

  /** Portable CMS bucket hash: 52-bit md5 prefix of "r:term" mod
    * width (the DSIR feature-bucket recipe, row-salted; fused
    * Md5PrefixLong — same bits as the conv/substring chain). */
  private def cmsBucket(r: Column, term: Column, width: Int): Column =
    graft.GraftFunctions.md5Prefix(
      concat(r.cast("string"), lit(":"), term), 13) % width

  private def winnowWith(docs: DataFrame, k: Int, w: Int,
      idCol: String, textCol: String,
      hashFn: Column => Column): DataFrame = {
    val grams = Dedup.shinglesOf(col(textCol), k) // distinct k-gram strings
    val hashes = transform(grams, hashFn)
    val nBands = floor((size(hashes) + w - 1) / lit(w.toDouble)).cast("int")
    docs.select(col(idCol).as("doc_id"), hashes.as("h"), nBands.as("nb"))
      .select(col("doc_id"),
        when(col("nb") > 0,
          array_distinct(transform(sequence(lit(0), col("nb") - 1),
            b => array_min(slice(col("h"), b * w + 1, lit(w))))))
          .otherwise(array().cast("array<long>")).as("sketch"))
  }
}
