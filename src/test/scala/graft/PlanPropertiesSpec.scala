package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Dedup, Knn}

/** Physical-plan property pins — the "would this survive 100x data"
  * assertions. Each test locks in a plan property that is load-bearing
  * at scale; if a refactor regresses it (a lost pushdown, a surprise
  * cartesian, an extra shuffle), the suite fails even though results
  * stay correct.
  */
class PlanPropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  private def physical(df: DataFrame): String = {
    // default maxMetadataStringLength=100 truncates PushedFilters /
    // ReadSchema mid-token; raise it so assertions see the full lists
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    df.queryExecution.executedPlan.toString
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  /** Exchanges excluding the r20 Spread.cpu round-robin: that exchange
    * exists ONLY when the scanned input is smaller than one split
    * (always true for the test fixtures) and moves a sub-split-sized
    * relation to restore parallelism — the scale-load-bearing pins
    * below are about DATA shuffles (hash/range), which must not grow. */
  private def dataExchanges(plan: String): Int =
    count(plan, "Exchange") - count(plan, "Exchange RoundRobinPartitioning")

  test("q02: filters and column pruning reach the parquet scan") {
    val plan = physical(
      SparkEntry.queries("q02_filter_pushdown")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
    // projection needs 6 of 11 lineitem columns; the scan must not
    // read the others
    assert(!plan.contains("l_returnflag"), "scan reads unneeded column")
    assert(!plan.contains("l_suppkey"), "scan reads unneeded column")
  }

  test("q03: small dimension tables broadcast, never shuffled") {
    val plan = physical(SparkEntry.queries("q03_join_revenue")(spark, sf))
    assert(count(plan, "BroadcastHashJoin") >= 2, plan)
  }

  test("q13: global top-N plans as TakeOrderedAndProject, not full sort") {
    val plan = physical(SparkEntry.queries("q13_top_orders")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("exact knn: exactly one shuffle (the q-by-q top-k merge)") {
    val df = Knn.exact(SparkEntry.dataDf(spark, sf),
      SparkEntry.queriesDf(spark, sf), 10)
    val plan = physical(df)
    assert(dataExchanges(plan) == 1,
      s"expected 1 data exchange (partial top-k merge), got plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ivf assignment and index are narrow: zero shuffles") {
    val data = SparkEntry.dataDf(spark, sf)
    val centroids = AnnIvf.train(data, 8, iterations = 1)
    val plan = physical(AnnIvf.index(data, centroids))
    assert(!plan.contains("Exchange"),
      s"index build must not shuffle the data side:\n$plan")
  }

  test("minhash-LSH candidate join is an equi join, never a cartesian") {
    val plan = physical(
      Dedup.minhashLsh(Tables.load(spark, sf, "documents"),
        shingleN = 3, threshold = 0.5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bm25 shuffled lowering: term-keyed sort-merge scoring join, " +
      "nothing query-sized broadcast") {
    val docs = Tables.load(spark, sf, "documents")
    val qs = docs.filter(col("doc_id") % 19 === 0)
      .select(col("doc_id").as("qid"),
        col("text").as("q_text"))
    val plan = physical(graft.operators.Retrieval
      .bm25TopKShuffled(docs, qs, k = 5))
    // the scoring join must be the pinned SMJ (AQE-splittable under
    // viral-term skew), never a broadcast of the query-term relation
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only broadcasts allowed are the 1-row stats frame and
    // (possibly) the vocab-sized df relation — never enough to carry
    // a million-query table; the qterms side must reach the join
    // through an Exchange, which SMJ guarantees structurally
  }

  test("knn_plan_node: query-side filter is pushed below KnnJoin") {
    val df = graft.plans.KnnJoin.run(
      SparkEntry.dataDf(spark, sf), SparkEntry.queriesDf(spark, sf), 10)
      .filter(col("qid") >= 100)
    val optimized = df.queryExecution.optimizedPlan
    // after PushQueryFilterThroughKnn the top node is the KnnJoin
    // itself (or a project) — no Filter remains above it
    val topIsFilter = optimized match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter => true
      case _ => false
    }
    assert(!topIsFilter, s"filter not pushed:\n$optimized")
    assert(optimized.collect {
      case kj: graft.plans.KnnJoin => kj
    }.nonEmpty, s"KnnJoin node lost in optimization:\n$optimized")
  }

  test("hamming IVF search: equi/broadcast joins only, no cartesian") {
    val data = SparkEntry.dataDf(spark, sf)
    val centroids = AnnIvf.train(data, 8, iterations = 1)
    val plan = physical(AnnIvf.search(AnnIvf.index(data, centroids),
      centroids, SparkEntry.queriesDf(spark, sf), 10, nprobe = 2,
      metric = "hamming"))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sanity-check query: text joins broadcast, no shuffled join") {
    val plan = physical(
      SparkEntry.queries("knn_sanity_texts")(spark, sf))
    assert(count(plan, "BroadcastHashJoin") >= 2,
      s"text side-car joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("portable simhash: one codegen'd hash aggregate, no imperative agg") {
    val plan = physical(
      Dedup.simhashPortable(Tables.load(spark, sf, "documents")))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate"),
      s"portable simhash must not use the imperative aggregate path:\n$plan")
  }

  test("curate: ONE corpus scan; gates filter before the dedup shuffle") {
    val plan = physical(graft.operators.Corpus.curate(
      Tables.load(spark, sf, "documents"), minQuality = 0.45,
      langs = Seq("en")))
    // the fused funnel must not rescan documents per stage (the
    // composed-operators formulation scans it three times)
    assert(count(plan, "documents.parquet") == 1,
      s"curate scans the corpus more than once:\n$plan")
    // quality/lang filter sits below the exchange: the Filter keeps
    // the quality predicate and some exchange appears above it
    val filterIdx = plan.indexOf("Filter")
    val exchangeIdx = plan.indexOf("Exchange")
    assert(filterIdx >= 0 && exchangeIdx >= 0 && exchangeIdx < filterIdx,
      s"gates must filter before the dedup shuffle:\n$plan")
  }

  test("asof join: one exchange + one sort, no range join") {
    val e = Tables.load(spark, sf, "events")
      .withColumn("ts_us", unix_micros($"ts"))
    val plan = physical(graft.operators.AsOf.join(
      e.filter($"event_type" === "purchase"),
      e.filter($"event_type" === "view")
        .select($"user_id", $"ts_us", $"event_id".as("vid")),
      "user_id", "ts_us", payload = Seq("vid"),
      leftKeep = Seq("event_id"), rightTieCol = "vid"))
    assert(count(plan, "Exchange") == 1,
      s"asof must shuffle exactly once (by key):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sessionize: lag + running count share one exchange and sort") {
    val plan = physical(graft.operators.Sessions.sessionize(
      Tables.load(spark, sf, "events"), 21600L))
    assert(count(plan, "Exchange") == 1, plan)
    assert(count(plan, "Sort") == 1,
      s"both windows must reuse the same sort:\n$plan")
  }

  test("chunkDocs: expression-only, zero data shuffles") {
    val plan = physical(graft.operators.Corpus.chunkDocs(
      Tables.load(spark, sf, "documents"), 40, 32))
    assert(dataExchanges(plan) == 0, plan)
  }

  test("dedupUnits: expression-only, zero shuffles") {
    val plan = physical(graft.operators.TextAnalysis.dedupUnits(
      Tables.load(spark, sf, "documents")))
    assert(count(plan, "Exchange") == 0, plan)
  }

  test("domainCap: one exchange, and it carries heap buffers not rows") {
    val plan = physical(graft.operators.Corpus.domainCap(
      Tables.load(spark, sf, "documents"), maxPerGroup = 10))
    // map-side partial_graft_topk before the single source-keyed
    // exchange: shuffle volume is domains x cap, never corpus-sized
    assert(count(plan, "Exchange") == 1, plan)
    assert(plan.contains("partial_graft_topk"),
      s"per-domain cap must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-domain window sort allowed:\n$plan")
  }

  test("crossDocSpanDedup: token relation is never exploded") {
    val plan = physical(Dedup.crossDocSpanDedup(
      Tables.load(spark, sf, "documents"), n = 4))
    // exactly three Generates: the gram posexplode, the non-keeper
    // occurrence explode, the covered-position explode. A fourth
    // would mean the reassembly exploded the corpus token relation
    // (the per-doc removed-set formulation exists to avoid that).
    assert(count(plan, "Generate") == 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dsirWeights: scoring is one streamed scan + broadcast model join") {
    val plan = physical(graft.operators.Corpus.dsirWeights(
      Tables.load(spark, sf, "documents"),
      isTarget = col("lang") === "en", buckets = 64))
    // the model is collected at build time (the other scan); the
    // returned scoring plan must be exactly ONE corpus scan joining
    // the B-row lambda model by broadcast — never a shuffled join,
    // never a materialized feature-stream intermediate
    assert(count(plan, "FileScan") == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("lmScore: term join is an equi join, never a cartesian") {
    val plan = physical(graft.operators.TextAnalysis.lmScore(
      Tables.load(spark, sf, "documents"), 29.95, 30.09))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop is the broadcast of the single (N, V)
    // totals row
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1, plan)
  }

  test("column pruning: id-only projection does not read the vectors") {
    val plan = physical(
      Tables.load(spark, sf, "embeddings").select($"vec_id"))
    assert(plan.contains("ReadSchema: struct<vec_id:bigint>"),
      s"scan reads more than the id column for an id-only query:\n$plan")
  }

  test("hot paths stay inside whole-stage codegen") {
    // executedPlan.toString marks whole-stage-codegen spans as "*(n)";
    // with AQE the final plan exists only after an action
    val q01 = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    q01.collect()
    val plan = physical(q01)
    assert(plan.contains("*("), plan)
    // the knn distance projection (below the imperative aggregate)
    // must also be codegen'd: the Project holding graft_sqdist carries
    // the codegen star
    val knn = Knn.exactDeclarative(
      SparkEntry.dataDf(spark, sf), SparkEntry.queriesDf(spark, sf), 10)
    knn.collect()
    val knnPlan = physical(knn)
    val distLine = knnPlan.linesIterator
      .find(_.contains("graft_sqdist"))
    assert(distLine.exists(_.contains("*(")),
      s"distance projection fell out of codegen:\n$knnPlan")
  }
}
