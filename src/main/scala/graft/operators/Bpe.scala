package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016): learn
  * `numMerges` byte-pair merges by repeatedly merging the most
  * frequent adjacent symbol pair across the corpus — the tokenizer-
  * construction step upstream of `TextAnalysis.trainVocab`/
  * `encodeTokens` (which assume a finished vocabulary).
  *
  * Scale design (100 TB): the classic trainer optimization IS the
  * distributed design — after ONE corpus scan the working state is
  * the distinct-WORD frequency relation (vocabulary-sized, not
  * corpus-sized), exploded to (word, wcount, pos, sym) symbol rows.
  * Every merge round is then: one window pass partitioned by word
  * (group size bounded by word length — skew-immune), one map-side-
  * combined pair-count aggregate, and a 1-row TakeOrderedAndProject
  * argmax to the driver. All counts are integers and the tie-break
  * is binary string order, so the whole training run is exactly
  * reproducible by an engine replaying the same rounds (the driver
  * oracle unrolls them as SQL CTEs).
  *
  * Merge application is DECLARATIVE: for l != r, every (l, r)
  * adjacency merges (overlap is impossible — a tail has sym r != l
  * and so can never also be a head); for l == r, greedy
  * left-to-right merging of a run of length m takes pairs at even
  * offsets, so heads/tails fall out of a run-id + offset-parity
  * window — no sequential scan anywhere.
  */
object Bpe {

  /** Train `numMerges` merges over the whitespace words of `docs`.
    * Output: (round 1-based, left_sym, right_sym, pair_count) in
    * learning order. Stops early if no adjacent pair remains.
    *
    * DRIVER-LOCAL REPLAY UNDER BUDGET (r21, guide §5 — the
    * classifier/kCenters pattern): the merge loop's working state is
    * the distinct-WORD symbol relation (vocabulary-sized by design,
    * never corpus-sized), but each round still paid 3-4 driver round
    * trips (window pass + pair-count aggregate + argmax collect +
    * localCheckpoint) — at sf0.1 numMerges=8 that is ~25 jobs of
    * near-pure fixed latency over a few thousand vocab rows. When the
    * total symbol count fits `graft.bpe.localTrainBudget` (default 4M
    * symbol rows ≈ tens of MB — the same bounded-driver-work contract
    * as the classifier's localTrainBudget), the (word, wcount) vocab
    * is collected ONCE — the same bounded collect decides the gate —
    * and the rounds replay on the driver:
    * integer pair counts summed per adjacency, argmax by (count desc,
    * left asc, right asc) under UTF8 BINARY byte order (exactly
    * Spark's string ordering), greedy left-to-right merge application
    * (provably the declarative head/tail window semantics — see
    * object doc). Bit-identical by the all-integer contract; pinned
    * local == distributed in BpeSpec. Past the budget — the 100 TB
    * vocabulary — the distributed loop runs unchanged. */
  def trainBpe(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    require(numMerges > 0, s"trainBpe: numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(TextAnalysis.whitespaceTokens(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
    val budget = spark.conf.get("graft.bpe.localTrainBudget",
      "4000000").toLong
    // one vocab collect decides the mode AND feeds the local replay:
    // total symbol rows = Σ |word| (code points) over the distinct
    // non-empty vocabulary. Every such word has >= 1 symbol, so
    // budget + 1 rows already prove the sum is over budget — the
    // collect stops there (empty words add no symbol)
    val cap = math.max(0L, math.min(budget, Int.MaxValue - 2L) + 1L).toInt
    val vocab = words
      .filter(length(col("word")) > 0)
      .select(col("word"), col("wcount").cast("long"))
      .limit(cap).as[(String, Long)].collect()
    val symRows = vocab.iterator
      .map { case (w, _) => w.codePointCount(0, w.length).toLong }.sum
    val merges: Seq[(Int, String, String, Long)] =
      if (vocab.length < cap && symRows <= budget)
        trainBpeLocal(vocab, numMerges)
      else trainBpeDistributed(words, numMerges)
    merges.toDF("round", "left_sym", "right_sym", "pair_count")
      .select(col("round").cast("long"), col("left_sym"),
        col("right_sym"), col("pair_count"))
  }

  private def trainBpeDistributed(words: DataFrame,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var state = initialSymbols(words).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= numMerges && !exhausted) {
      val top = bestPair(state)
      top match {
        case None => exhausted = true
        case Some((l, r, c)) =>
          merges += ((round, l, r, c))
          val prev = state
          state = applyMerge(state, l, r).localCheckpoint()
          prev.unpersist()
          round += 1
      }
    }
    state.unpersist()
    merges.result()
  }

  /** UTF8 binary byte order — exactly Spark's UTF8String comparison
    * (unsigned byte-wise over the UTF-8 encoding), which the
    * distributed `orderBy(col("l"), col("r"))` tie-break uses. Java
    * String.compareTo (UTF-16 code units) differs for supplementary
    * code points, so the replay must not use it. */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    // delegate to Spark's own comparator (unsigned byte-wise over the
    // UTF-8 encoding) rather than hand-rolling it — the tie-break must
    // track whatever Spark's string sort order is, by construction
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
  }

  /** Driver-local replay of the merge loop: same integer pair counts,
    * same argmax tie-break (count desc, left asc, right asc in UTF8
    * byte order), same greedy-left-to-right application the
    * declarative window formulation lowers to. Words split into CODE
    * POINTS (substr/length on UTF8String are code-point-based). */
  private def trainBpeLocal(words: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var cur: Array[(Array[String], Long)] = words.map { case (w, c) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), c)
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      cur.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.merge(k, c, (x, y) => x + y)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val k = e.getKey; val v = e.getValue
          if (best == null || v > best._2 ||
            (v == best._2 && (utf8Lt(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
            best = (k, v)
        }
        val ((l, r), c) = best
        merges += ((round, l, r, c))
        // greedy left-to-right merge — the declarative head/tail
        // window semantics exactly (see object doc)
        cur = cur.map { case (syms, wc) =>
          // skip words without the adjacency — most words, most
          // rounds; returning the existing reference avoids rebuilding
          // every symbol array per round
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            if (syms(i) == l && syms(i + 1) == r) has = true
            i += 1
          }
          if (!has) (syms, wc)
          else {
            val out = Array.newBuilder[String]
            i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), wc)
          }
        }
        round += 1
      }
    }
    merges.result()
  }

  /** (word, wcount) -> one row per character position. Empty words
    * contribute no symbols (sequence(1, 0) would otherwise yield
    * [1, 0] — Spark auto-steps DOWN when start > stop — and
    * manufacture two phantom "" symbols per empty word). */
  private def initialSymbols(words: DataFrame): DataFrame =
    words
      .filter(length(col("word")) > 0)
      .select(col("word"), col("wcount"),
        explode(sequence(lit(1L), length(col("word")).cast("long")))
          .as("pos"))
      .withColumn("sym", col("word").substr(col("pos").cast("int"), lit(1)))

  /** Most frequent adjacent pair (count desc, left asc, right asc),
    * or None when no adjacency remains. */
  private def bestPair(state: DataFrame): Option[(String, String, Long)] = {
    val w = Window.partitionBy("word").orderBy("pos")
    state
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum("wcount").as("c"))
      .orderBy(col("c").desc, col("l"), col("r"))
      .limit(1)
      .collect()
      .headOption.map(row => (row.getString(0), row.getString(1),
        row.getLong(2)))
  }

  /** One declarative merge application (see object doc for the
    * non-overlap argument). `keyCols` identify a word instance (the
    * window partition); `carry` names extra columns to keep. */
  private[operators] def applyMerge(state: DataFrame, l: String, r: String,
      keyCols: Seq[String] = Seq("word"),
      carry: Seq[String] = Seq("wcount")): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy("pos")
    val keep = (keyCols ++ carry ++ Seq("pos")).map(col)
    val p = state
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .withColumn("prv", lag(col("sym"), 1).over(w))
    if (l != r) {
      // null-safe prv comparison: a word-INITIAL symbol equal to r
      // has prv = NULL, and `prv === l` would make the whole
      // predicate NULL -> filter() silently drops the row (deletes
      // the word's first symbol)
      p.filter(!(col("sym") === r && (col("prv") <=> l)))
        .withColumn("sym",
          when(col("sym") === l && col("nxt") === r, lit(l + r))
            .otherwise(col("sym")))
        .select(keep :+ col("sym"): _*)
    } else {
      // run-id increments at every row that is not a continuation of
      // an l-run; offset parity inside the run decides head vs tail
      val runId = sum(when(col("sym") =!= l || col("prv").isNull ||
          col("prv") =!= l, 1L).otherwise(0L)).over(w)
      val off = row_number().over(
        Window.partitionBy(keyCols.map(col) :+ col("run_id"): _*)
          .orderBy(col("pos")))
      p.withColumn("run_id", runId)
        .withColumn("off",
          when(col("sym") === l, off - 1).otherwise(lit(null)))
        .filter(!(col("sym") === l && col("off") % 2 === 1))
        .withColumn("sym",
          when(col("sym") === l && col("nxt") === l && col("off") % 2 === 0,
            lit(l + r)).otherwise(col("sym")))
        .select(keep :+ col("sym"): _*)
    }
  }
}
