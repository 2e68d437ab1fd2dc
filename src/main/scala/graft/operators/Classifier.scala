package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear quality classifier over hashed bag-of-words features — the
  * fastText-style filter production curation pipelines train to keep
  * "looks like good text" documents (GPT-3/CCNet-style quality
  * classification), here as logistic regression trained with
  * full-batch gradient descent ON the cluster.
  *
  * EXACT-REPLAY TRAINING (the minKProb lesson applied to a whole
  * training loop): every accumulated quantity is an INTEGER.
  *  - features x are raw token-occurrence counts per md5 bucket
  *    (integers);
  *  - weights live in micro-units (w_micro: BIGINT);
  *  - the logit z = Σ x·w_micro is an integer sum — exact in ANY
  *    aggregation order, so the corpus-wide aggregate needs no
  *    ordering discipline;
  *  - the sigmoid (the only float step) is per-document, computed on
  *    the identical double z_micro/10⁶ on every engine, and its
  *    output re-quantizes immediately (p_micro = round(p·10⁶));
  *  - residuals r = p_micro − y·10⁶ and gradients Σ x·r are again
  *    exact integer sums;
  *  - the weight update Δ = round(gradient·lr/n) is one double
  *    product/divide on identical operands, rounded half-away on
  *    both engines.
  * Consequence: T steps of distributed training are bit-reproducible
  * and a SQL oracle replays them as T unrolled CTE chains.
  *
  * Scale design (100 TB): the per-doc token-bucket array is built
  * ONCE by a narrow projection (no aggregate — token multiplicity
  * carries the per-bucket counts through both the logit and the
  * gradient) and snapshotted via localCheckpoint for reuse across
  * steps. Each step is then: an expression-only map-literal fold
  * (the logit), a narrow sigmoid/residual projection, and a per-
  * bucket aggregate (the gradient) whose key space is `buckets` —
  * partials collapse map-side, B rows to the driver. The model
  * itself is driver-sized by the `buckets` parameter at every point.
  * Overflow bound: |Σ x·r| < n·L·10⁶ (L = doc length), within int64
  * up to ~10¹² token occurrences per step — shard the gradient
  * aggregate into per-partition partials beyond that.
  */
object Classifier {

  /** bucket hash shared with the SQL oracle: 52-bit md5 prefix mod
    * `buckets` (the DSIR feature recipe; fused Md5PrefixLong — same
    * bits as the conv/substring chain the oracle replays). */
  private def bucketOf(term: Column, buckets: Int): Column =
    graft.GraftFunctions.md5Prefix(term, 13) % buckets

  /** Train `steps` full-batch GD steps from w = 0. Returns the model
    * as bucket -> w_micro (driver-sized: at most `buckets` entries).
    *
    * `sampleBudget`: when set, the GRADIENT PASSES run over a
    * deterministic md5-rank sample of that many docs (lowest 13-hex-
    * char md5(id) prefix, ties to id — the `stratifiedSample` rank,
    * so a SQL oracle replays the identical pick set) instead of the
    * whole corpus; n becomes the sample size. This is how production
    * fastText-style quality filters actually train: the model has
    * `buckets` parameters, so a bounded sample saturates it, and the
    * full corpus is only ever SCORED (one pass) — without it, T
    * steps cost 2·T corpus-sized passes (80 at the pack's 40 steps),
    * which no 100-TB pipeline would pay for a 256-weight model. */
  def trainLogistic(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int = 256,
      steps: Int = 3,
      lr: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      sampleBudget: Option[Int] = None): Map[Long, Long] = {
    require(steps > 0 && buckets > 0)
    require(sampleBudget.forall(_ > 0), "sampleBudget must be positive")
    val trainDocs = sampleBudget match {
      case Some(s) =>
        // TakeOrderedAndProject gathers the s winners; re-spread them
        // so the per-step passes keep cluster parallelism
        docs.orderBy(substring(md5(col(idCol).cast("string")), 1, 13),
            col(idCol))
          .limit(s)
          .repartition(col(idCol))
      case None => docs
    }
    // snapshot ONE ROW PER DOC with the raw token-bucket array
    // inline — a pure NARROW projection (no aggregate anywhere:
    // z = Σ_tokens w[bucket] and grad_b = Σ_tokens r carry the
    // per-bucket counts implicitly through token multiplicity).
    // Every step is then two narrow passes over it (expression-only
    // logit fold — integer sums need no ordering — then explode +
    // the map-side-combined B-row gradient aggregate). No per-step
    // join, no per-step sort, no corpus-sized shuffle ever.
    val featsDf = featureArrays(trainDocs, isTarget, buckets, idCol, textCol)
    // DRIVER-LOCAL REPLAY for the sampled mode (r20): with a sample
    // budget the training set is bounded by contract (the scaladoc's
    // own argument — a `buckets`-parameter model saturates on a
    // bounded sample), yet the distributed loop still paid
    // 2 jobs × `steps` driver round trips (~80 jobs for the pack's 40
    // steps — measured as ~85% of corpus_classifier_sampled's wall at
    // sf0.1, almost all fixed per-job latency). When the sample's
    // total feature volume fits `graft.classifier.localTrainBudget`
    // (tokens; the connectedComponents localEdgeBudget pattern), the
    // (y, buckets[]) rows are collected ONCE and the T steps replay on
    // the driver. Bit-identical by the integer-training contract:
    // logits and gradients are order-free integer sums, the sigmoid
    // runs on the identical double, and both round sites replicate
    // round()'s BigDecimal HALF_UP — so local and distributed steps
    // produce the same model (pinned in ClassifierSpec). Past the
    // budget (or unsampled) the distributed loop runs as before.
    val localBudget = docs.sparkSession.conf
      .get("graft.classifier.localTrainBudget", "4000000").toLong
    val localRows: Option[Array[(Long, Array[Long])]] =
      if (sampleBudget.isEmpty) None
      else {
        val spark = docs.sparkSession
        import spark.implicits._
        val vol = featsDf.agg(sum(size(col("bs")).cast("long"))).head()
        if (!vol.isNullAt(0) && vol.getLong(0) <= localBudget)
          Some(featsDf.select(col("y"), col("bs"))
            .as[(Long, Array[Long])].collect())
        else None
      }
    val n = trainDocs.count()
    def updated(w: Map[Long, Long], grads: Map[Long, Long]): Map[Long, Long] =
      w ++ grads.map { case (b, gm) =>
        // HALF_UP (away from zero) like both engines' round():
        // gm/(2n) lands on exact .5 midpoints for real data, where
        // scala math.round (toward +inf) would diverge
        b -> (w.getOrElse(b, 0L) -
          BigDecimal(gm.toDouble * lr / n)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
    localRows match {
      case Some(rows) =>
        var w = Map.empty[Long, Long]
        for (_ <- 1 to steps) {
          val grads = scala.collection.mutable.LongMap.empty[Long]
          rows.foreach { case (y, bs) =>
            var z = 0L
            var i = 0
            while (i < bs.length) { z += w.getOrElse(bs(i), 0L); i += 1 }
            // the one float step — same operand order as pMicro's
            // expression, rounded with round()'s exact BigDecimal
            val p = BigDecimal(1.0 /
                (1.0 + math.exp(-(z.toDouble / 1000000.0))) * 1000000.0)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            val r = p - y * 1000000L
            i = 0
            while (i < bs.length) {
              val b = bs(i)
              grads(b) = grads.getOrElse(b, 0L) + r
              i += 1
            }
          }
          w = updated(w, grads.toMap)
        }
        w
      case None =>
        val feats = featsDf.localCheckpoint()
        try {
          var w = Map.empty[Long, Long]
          for (_ <- 1 to steps) {
            w = updated(w, gradients(feats, w, buckets))
          }
          w
        } finally feats.unpersist()
    }
  }

  /** Score with a trained model: per-doc (idCol, p_micro, y,
    * correct) where correct = (p_micro >= 500000) == (y == 1). */
  def logisticScore(
      docs: DataFrame,
      model: Map[Long, Long],
      isTarget: Column,
      buckets: Int = 256,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val feats = featureArrays(docs, isTarget, buckets, idCol, textCol)
    logits(feats, model, buckets)
      .select(col("doc_id").as(idCol),
        pMicro(col("z_micro")).as("p_micro"), col("y"),
        ((pMicro(col("z_micro")) >= 500000L) === (col("y") === 1L))
          .cast("long").as("correct"))
  }

  /** (doc_id, y, bs ARRAY<BIGINT>): one row per doc holding its raw
    * token-bucket sequence — a narrow projection, zero aggregates.
    * NULL-text docs are excluded (they have no feature rows in the
    * SQL-oracle formulation and would otherwise score NULL rows). */
  private def featureArrays(docs: DataFrame, isTarget: Column,
      buckets: Int, idCol: String, textCol: String): DataFrame =
    // Spread.cpu: the per-token bucket hash dominates; a sub-split
    // scan would run it on one core (r20). Narrow per-doc arrays —
    // placement cannot affect any downstream integer sum.
    Spread.cpu(docs.where(col(textCol).isNotNull))
      .select(col(idCol).cast("long").as("doc_id"),
        isTarget.cast("long").as("y"),
        transform(TextAnalysis.whitespaceTokens(col(textCol)),
          t => bucketOf(t, buckets)).as("bs"))

  /** Integer logits: z_micro = Σ_tokens w_micro[bucket] via an
    * expression-only fold — token multiplicity IS the per-bucket
    * count; exact in any order, no join. The model rides along as a
    * DENSE ARRAY literal indexed by bucket (a MAP literal would be
    * an O(B) linear scan per token lookup — measured 10× slower at
    * B = 1024). */
  private def logits(feats: DataFrame, w: Map[Long, Long],
      buckets: Int): DataFrame = {
    val dense = Array.tabulate(buckets)(b => w.getOrElse(b.toLong, 0L))
    val wlit = typedlit(dense.toSeq)
    feats.withColumn("z_micro",
      aggregate(col("bs"), lit(0L), (acc, b) =>
        acc + element_at(wlit, b.cast("int") + 1)))
  }

  /** The one float step: p_micro = round(σ(z_micro/10⁶)·10⁶). */
  private def pMicro(zMicro: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-(zMicro.cast("double") / 1000000.0)))
      * 1000000.0).cast("long")

  /** One step's integer gradients: bucket -> Σ_tokens (p_micro −
    * y·10⁶) — multiplicity again supplies the count factor. Two
    * narrow passes over the per-doc snapshot + one B-row map-side-
    * combined aggregate; driver-sized result. */
  private def gradients(feats: DataFrame, w: Map[Long, Long],
      buckets: Int): Map[Long, Long] = {
    logits(feats, w, buckets)
      .select((pMicro(col("z_micro")) - col("y") * 1000000L).as("r"),
        explode(col("bs")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("r")).as("gm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }
}
