package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Knn, NswGraph, Recall, Serving}

/** Cost-based filtered serving: the dispatch rule is pure and
  * boundary-tested apart from the engine; each branch's execution is
  * pinned against the operator it routes to; and the strategy choice
  * is driven end-to-end by the testdata filters whose selectivities
  * span the three regimes (filterLow ~89% kept, filterHigh ~22%,
  * filterMid sub-percent). */
class ServingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf)
  private def queries = SparkEntry.queriesDf(spark, sf)

  private def asRows(df: DataFrame) =
    df.select($"qid", $"rank", $"neighbor_id", $"dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private lazy val artifacts: Serving.Artifacts = {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    Serving.Artifacts(indexed, centroids,
      Some(NswGraph.servableIndex(graphs)))
  }

  test("chooseStrategy: regime boundaries and the no-graph fallback " +
      "(r17: the bare default is the CostBased sentinel at the " +
      "standard np4/1024-cell geometry, not the retired fixed 0.02)") {
    import Serving._
    // default geometry boundary = min(mild, 4/1024) = 0.00390625
    assert(chooseStrategy(0.001, graphAvailable = true) == ExactScan)
    assert(chooseStrategy(0.0038, graphAvailable = true) == ExactScan)
    assert(chooseStrategy(0.0040, graphAvailable = true) == IvfPrefilter)
    // the old fixed default's mis-route is GONE: 0.77%-kept (the
    // reference's mid bucket) pre-filters under the bare default too
    assert(chooseStrategy(0.0077, graphAvailable = true) == IvfPrefilter)
    assert(chooseStrategy(0.0199, graphAvailable = true) == IvfPrefilter)
    assert(chooseStrategy(0.49, graphAvailable = true) == IvfPrefilter)
    assert(chooseStrategy(0.5, graphAvailable = true) == GraphOverfetch)
    assert(chooseStrategy(1.0, graphAvailable = true) == GraphOverfetch)
    // explicit geometry moves the sentinel's boundary: np16 probes
    // 16/1024 = 1.56% of the cells, so a 0.77%-kept filter's
    // survivors are fewer rows than the probe set touches -> exact
    assert(chooseStrategy(0.0077, graphAvailable = true,
      nprobe = 16, nCells = 1024L) == ExactScan)
    // the mild regime is only graph-servable when a graph exists
    assert(chooseStrategy(0.9, graphAvailable = false) == IvfPrefilter)
    assert(chooseStrategy(0.001, graphAvailable = false) == ExactScan)
    // custom boundaries move the regimes; a numeric extreme overrides
    // the sentinel entirely
    assert(chooseStrategy(0.3, graphAvailable = true, mild = 0.25) ==
      GraphOverfetch)
    assert(chooseStrategy(0.05, graphAvailable = true, extreme = 0.1) ==
      ExactScan)
    assert(chooseStrategy(0.0199, graphAvailable = true,
      extreme = 0.02) == ExactScan)
    intercept[IllegalArgumentException] {
      chooseStrategy(1.5, graphAvailable = true)
    }
  }

  test("cost-based extreme boundary (the r16 dispatch default): the " +
      "flop-count crossover routes the reference's three 5M " +
      "selectivities, prefiltering the mid bucket the fixed 0.02 " +
      "mis-routed to the exact scan") {
    import Serving._
    // 5M / 1024-cell geometry, nprobe = 4: exact is cheaper only
    // below sel = nprobe / nCells (survivors < the probed row count)
    val x = math.min(0.5, costExtreme(4, 1024))
    assert(math.abs(x - 0.00390625) < 1e-12)
    // the reference's three filter buckets (BASELINE.md geometry):
    assert(chooseStrategy(0.8363, graphAvailable = true,
      extreme = x) == GraphOverfetch)
    assert(chooseStrategy(0.1561, graphAvailable = true,
      extreme = x) == IvfPrefilter)
    // mid bucket (0.77% kept): 38.5K survivors >> 4x~4.9K probed rows
    // -> PREFILTER, the branch the r14 record measured at 11-12.7K
    // qps vs the exact scan's ~2.5K (the fixed 0.02 sent it there)
    assert(chooseStrategy(0.0077, graphAvailable = true,
      extreme = x) == IvfPrefilter)
    // genuinely extreme filters still exact-scan (recall 1.0, fewer
    // distance evals than the probed cells hold)
    assert(chooseStrategy(0.001, graphAvailable = true,
      extreme = x) == ExactScan)
    // nprobe >= nCells probes everything: the prefilter would touch
    // every row the exact scan would, so the crossover caps at mild
    // and the whole sub-mild regime exact-scans (never worse, exact)
    assert(math.min(0.5, costExtreme(8, 8)) == 0.5)
  }

  test("extreme filter routes to exact-scan and equals Knn.exact " +
      "over the survivors") {
    // filterMid keeps 2.04% at sf0.001 — a hair above the default 2%
    // boundary; the boundary is a parameter, so place it where this
    // fixture's "extreme" regime actually sits
    val (strategy, res) = Serving.serveFilteredExplained(artifacts,
      queries, 10, SparkEntry.filterMid, extreme = 0.05)
    assert(strategy == Serving.ExactScan)
    val expected = Knn.exact(
      artifacts.indexed.filter(SparkEntry.filterMid), queries, 10)
    assert(asRows(res) == asRows(expected) && asRows(res).nonEmpty)
  }

  test("strong filter routes to ivf-prefilter and equals searchFast " +
      "over the survivors in the shared index") {
    val (strategy, res) = Serving.serveFilteredExplained(artifacts,
      queries, 10, SparkEntry.filterHigh, nprobe = 4, extreme = 0.02)
    assert(strategy == Serving.IvfPrefilter)
    val expected = AnnIvf.searchFast(
      artifacts.indexed.filter(SparkEntry.filterHigh),
      artifacts.centroids, queries, 10, nprobe = 4)
    assert(asRows(res) == asRows(expected) && asRows(res).nonEmpty)
  }

  test("mild filter routes to graph-overfetch; result equals the " +
      "composed overfetch plan and clears a recall floor") {
    // nprobe = all 8 cells: on 490 near-uniform rows the cells are
    // not separable enough for a 4-of-8 probe set to hold a recall
    // floor (that ceiling is nprobe's, not the overfetch's); probing
    // everything isolates the beam + overfetch recall itself
    val (strategy, res) = Serving.serveFilteredExplained(artifacts,
      queries, 10, SparkEntry.filterLow, nprobe = 8, efSearch = 64,
      overFetchMult = 3)
    assert(strategy == Serving.GraphOverfetch)
    // hand-compose the same plan: beam k' unfiltered, drop
    // non-survivors, re-rank to k by (dist, id)
    val survivors = artifacts.indexed.filter(SparkEntry.filterLow)
    val total = artifacts.indexed.count()
    val surv = survivors.count()
    // the integer ceil-div the engine uses when it measured the counts
    val kF = math.max(10, ((30L * total + surv - 1) / surv).toInt)
    val fetched = NswGraph.searchServable(artifacts.graph.get,
      artifacts.centroids, queries, kF, nprobe = 8,
      efSearch = math.max(64, kF))
    val expected = fetched
      .join(survivors.select($"vec_id".as("_sid")),
        fetched("neighbor_id") === $"_sid", "leftsemi")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("qid").orderBy($"dist", $"neighbor_id")))
      .filter($"_rk" <= 10)
      .select($"qid", $"_rk".cast("long").as("rank"),
        $"neighbor_id", $"dist")
    assert(asRows(res) == asRows(expected) && asRows(res).nonEmpty)
    // per-query contract: at most k rows, ranks contiguous from 1
    val byQ = res.groupBy("qid")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .collect()
    byQ.foreach { r =>
      assert(r.getLong(1) <= 10 && r.getLong(2) == r.getLong(1) &&
        r.getLong(3) == 1L)
    }
    // approximate branch: recall floor against the exact filtered truth
    val truth = Knn.exact(survivors, queries, 10)
    val rec = Recall.ofRanked(res, truth).head()
    assert(rec.getDouble(rec.fieldIndex("recall")) >= 0.8)
  }

  test("strong branch serves from the resident flat tier when the " +
      "attribute twin is supplied, with identical results and the " +
      "resident audit tag") {
    val flat = AnnIvf.servableCells(artifacts.indexed,
      attrCol = Some("label"))
    val artF = artifacts.copy(flat = Some(flat))
    try {
      val (strategy, res) = Serving.serveFilteredExplained(artF,
        queries, 10, SparkEntry.filterHigh, nprobe = 4, extreme = 0.02,
        attrPred = Some(a => a == 0.0 || a == 1.0),
        validateAttrPred = true) // matched twin: validation passes
      // the tag distinguishes the resident attr-twin path from the
      // relation-scan pre-filter, so callers can audit which filter ran
      assert(strategy == Serving.IvfPrefilterResident)
      val viaRelation = Serving.serveFilteredExplained(artifacts, queries,
        10, SparkEntry.filterHigh, nprobe = 4, extreme = 0.02)._2
      assert(asRows(res) == asRows(viaRelation) && asRows(res).nonEmpty)
    } finally flat.unpersist()
  }

  test("validateAttrPred fails loudly on a mismatched attribute twin") {
    val flat = AnnIvf.servableCells(artifacts.indexed,
      attrCol = Some("label"))
    val artF = artifacts.copy(flat = Some(flat))
    try {
      val ex = intercept[IllegalArgumentException] {
        Serving.serveFilteredExplained(artF, queries, 10,
          SparkEntry.filterHigh, nprobe = 4, extreme = 0.02,
          attrPred = Some(a => a == 0.0), // keeps fewer rows than the Column
          validateAttrPred = true)._2.count()
      }
      assert(ex.getMessage.contains("attrPred twin mismatch"))
    } finally flat.unpersist()
  }

  test("selectivity counts are memoized per (artifact, predicate) and " +
      "a cache hit skips the measurement") {
    // fresh artifacts: the lazy shared one may have been warmed by
    // other tests in this suite
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val art = Serving.Artifacts(AnnIvf.index(data, centroids), centroids)
    assert(art.selComputes == 0)
    val (s1, r1) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 4)
    r1.count()
    assert(art.selComputes == 1)
    // second serve with the same predicate: dispatch identical, no
    // second measurement
    val (s2, r2) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 4)
    assert(s2 == s1 && art.selComputes == 1)
    assert(asRows(r2) == asRows(r1))
    // a different predicate is its own cache entry
    Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterMid, extreme = 0.05)._2.count()
    assert(art.selComputes == 2)
    // an explicit hint never touches the cache
    Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterLow, selectivity = Some(0.001))._2.count()
    assert(art.selComputes == 2)
  }

  test("selectivity hint overrides the measured fraction and every " +
      "branch stays correct under it") {
    // mild predicate, but an extreme hint forces the exact branch —
    // still the right answer set (the hint changes the plan, never
    // the semantics)
    val (s1, r1) = Serving.serveFilteredExplained(artifacts, queries, 10,
      SparkEntry.filterLow, selectivity = Some(0.001))
    assert(s1 == Serving.ExactScan)
    val exact = Knn.exact(
      artifacts.indexed.filter(SparkEntry.filterLow), queries, 10)
    assert(asRows(r1) == asRows(exact))
    // and a mild hint on the same predicate forces the graph branch
    val (s2, _) = Serving.serveFilteredExplained(artifacts, queries, 10,
      SparkEntry.filterLow, selectivity = Some(0.9))
    assert(s2 == Serving.GraphOverfetch)
  }

  test("UDF / non-deterministic predicates skip the selectivity memo " +
      "(their rendering is an ambiguous cache key)") {
    // plain column predicates are cacheable
    assert(Serving.cacheableFilter(data.filter(SparkEntry.filterHigh)))
    assert(Serving.cacheableFilter(data.filter($"label" < lit(1.0))))
    // two DIFFERENT lambdas render to the same key — the collision
    // the guard exists to prevent
    val u1 = udf((x: Double) => x >= 0.0)
    val u2 = udf((x: Double) => x >= 999.0)
    assert(Serving.predicateKey(u1($"label")) ==
      Serving.predicateKey(u2($"label")))
    assert(!Serving.cacheableFilter(data.filter(u1($"label"))))
    assert(!Serving.cacheableFilter(data.filter(rand(7) < lit(0.5))))
    // behaviorally: serving u1 then u2 measures twice (no stale hit)
    // and each call dispatches from its OWN counts — u1 keeps all
    // rows (mild/graph regime), u2 keeps none (extreme regime)
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(data, centroids).cache()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val art = Serving.Artifacts(indexed, centroids,
      Some(NswGraph.servableIndex(graphs)))
    val (s1, r1) = Serving.serveFilteredExplained(art, queries, 10,
      u1($"label"), nprobe = 8)
    r1.count()
    assert(s1 == Serving.GraphOverfetch && art.selComputes == 1)
    val (s2, r2) = Serving.serveFilteredExplained(art, queries, 10,
      u2($"label"), nprobe = 8)
    assert(s2 == Serving.ExactScan && art.selComputes == 2)
    assert(r2.count() == 0) // no survivors — and no stale u1 counts
    // neither call polluted the memo: serving u1 again measures again
    Serving.serveFilteredExplained(art, queries, 10, u1($"label"),
      nprobe = 8)._2.count()
    assert(art.selComputes == 3)
    art.graph.foreach(_.unpersist()); indexed.unpersist()
  }

  test("artifact tombstones: every branch serves the masked relation, " +
      "a refresh clears the selectivity memo, and clearing restores") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(data, centroids).cache()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val art = Serving.Artifacts(indexed, centroids,
      Some(NswGraph.servableIndex(graphs)))
    val tombIds = data.filter($"vec_id" % 7 === 3)
      .select($"vec_id").as[Long].collect()
    assert(tombIds.nonEmpty)
    val (_, pre) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 8)
    val preRows = asRows(pre)
    assert(art.selComputes == 1)
    art.setTombstones(tombIds)
    val survivors = indexed
      .filter(!$"vec_id".isInCollection(tombIds))
    // strong branch == searchFast over the masked survivors
    val (s1, rS) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 8, extreme = 0.02)
    assert(s1 == Serving.IvfPrefilter)
    // mask install = new serving epoch: the memo was cleared (masked
    // survivor counts differ from the unmasked ones), so the same
    // predicate was measured again
    assert(art.selComputes == 2)
    assert(asRows(rS) == asRows(AnnIvf.searchFast(
      survivors.filter(SparkEntry.filterHigh), centroids, queries, 10,
      nprobe = 8)) && asRows(rS).nonEmpty)
    // exact branch == Knn.exact over the masked survivors
    val (s2, rE) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterMid, extreme = 0.05)
    assert(s2 == Serving.ExactScan)
    assert(asRows(rE) == asRows(Knn.exact(
      survivors.filter(SparkEntry.filterMid), queries, 10)))
    // graph branch never returns a tombstoned id
    val (s3, rG) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterLow, nprobe = 8)
    assert(s3 == Serving.GraphOverfetch)
    val servedIds = rG.select($"neighbor_id").as[Long].collect().toSet
    assert(servedIds.nonEmpty &&
      servedIds.intersect(tombIds.toSet).isEmpty)
    // clearing the mask restores the pre-tombstone serving epoch
    art.setTombstones(Array.emptyLongArray)
    assert(art.tombstones.isEmpty)
    val (_, post) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 8)
    assert(asRows(post) == preRows)
    art.graph.foreach(_.unpersist()); indexed.unpersist()
  }

  test("refreshTombstones reads the index side-table into the mask") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(data, centroids)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_serv_tmb").toString
    AnnIvf.writeIndex(indexed, s"$tmp/idx")
    val art = Serving.Artifacts(indexed, centroids)
    art.refreshTombstones(spark, s"$tmp/idx")
    assert(art.tombstones.isEmpty) // no side-table yet
    val del = data.filter($"vec_id" % 11 === 4).select($"vec_id")
    AnnIvf.tombstone(spark, s"$tmp/idx", del)
    art.refreshTombstones(spark, s"$tmp/idx")
    val expected = del.as[Long].collect().sorted
    assert(art.tombstones.map(_.toSeq).contains(expected.toSeq))
    // serving now equals the persisted masked serve over the same tree
    val (_, res) = Serving.serveFilteredExplained(art, queries, 10,
      SparkEntry.filterHigh, nprobe = 8)
    val persisted = AnnIvf.searchPersisted(spark, s"$tmp/idx", centroids,
      queries, 10, nprobe = 8,
      dataFilter = Some(SparkEntry.filterHigh))
    def ranked(df: DataFrame) =
      df.select($"qid", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ranked(res) == ranked(persisted) && ranked(res).nonEmpty)
    // folding the side-table away and refreshing empties the mask
    AnnIvf.foldTombstones(spark, s"$tmp/idx")
    art.refreshTombstones(spark, s"$tmp/idx")
    assert(art.tombstones.isEmpty)
  }

  test("artifacts with a local replica: the mild branch serves the " +
      "small batch in-process and stays row-identical to the job " +
      "dispatch") {
    val rep = NswGraph.localReplica(artifacts.graph.get,
      artifacts.centroids)
    val withLocal = artifacts.copy(local = Some(rep))
    val (s1, r1) = Serving.serveFilteredExplained(artifacts, queries, 10,
      SparkEntry.filterLow, nprobe = 8, efSearch = 64)
    val (s2, r2) = Serving.serveFilteredExplained(withLocal, queries, 10,
      SparkEntry.filterLow, nprobe = 8, efSearch = 64)
    assert(s1 == Serving.GraphOverfetch && s2 == Serving.GraphOverfetch)
    assert(asRows(r2) == asRows(r1) && asRows(r1).nonEmpty)
  }

  test("fully local filtered serving: each dispatch branch is row-" +
      "identical to the distributed dispatcher given the attr twin") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val graphIdx = NswGraph.servableIndex(graphs)
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    val flatRep = AnnIvf.localCellReplica(cells, centroids)
    val graphRep = NswGraph.localReplica(graphIdx, centroids)
    val art = Serving.Artifacts(indexed, centroids, Some(graphIdx),
      Some(cells))
    val qArr = queries.select($"qid".cast("long"), $"q_embedding")
      .as[(Long, Array[Float])].collect()
    def check(predCol: org.apache.spark.sql.Column,
        attrTwin: Double => Boolean,
        expect: Serving.Strategy, nprobe: Int = 8,
        extreme: Double = 0.02): Unit = {
      val (s1, r1) = Serving.serveFilteredExplained(art, queries, 10,
        predCol, nprobe = nprobe, efSearch = 64, extreme = extreme,
        attrPred = Some(attrTwin))
      val (s2, r2) = Serving.serveFilteredLocalExplained(flatRep,
        Some(graphRep), qArr, 10, attrTwin, nprobe = nprobe,
        efSearch = 64, extreme = extreme)
      assert(s1 == expect && s2 == expect, s"dispatched $s1 / $s2")
      assert(r2.toSet == asRows(r1) && r2.nonEmpty, s"branch $expect")
    }
    // STRONG: label in (0,1) keeps ~31% -> resident pre-filter
    check($"label".isin(0, 1), a => a == 0.0 || a == 1.0,
      Serving.IvfPrefilterResident)
    // MILD: label <> 4 keeps ~90% -> graph over-fetch
    check($"label" =!= 4, a => a != 4.0, Serving.GraphOverfetch)
    // EXTREME: label === 7 (~10%) under a raised boundary -> exact
    check($"label" === 7, a => a == 7.0, Serving.ExactScan,
      extreme = 0.15)
    // masked: the strong branch with a tombstone mask on both sides
    val mask = d.filter($"vec_id" % 7 === 2)
      .select($"vec_id").collect().map(_.getLong(0)).sorted
    art.setTombstones(mask)
    val (s3, r3) = Serving.serveFilteredExplained(art, queries, 10,
      $"label".isin(0, 1), nprobe = 8, efSearch = 64, extreme = 0.02,
      attrPred = Some(a => a == 0.0 || a == 1.0))
    val (s4, r4) = Serving.serveFilteredLocalExplained(flatRep,
      Some(graphRep), qArr, 10, a => a == 0.0 || a == 1.0,
      nprobe = 8, efSearch = 64, extreme = 0.02,
      tombstones = Some(mask))
    assert(s3 == Serving.IvfPrefilterResident && s4 == s3)
    assert(r4.toSet == asRows(r3) && r4.nonEmpty)
    art.setTombstones(Array.emptyLongArray)
    // the DataFrame wrapper matches the array hot path
    val (s5, r5) = Serving.serveFilteredLocalDf(flatRep, Some(graphRep),
      queries, 10, a => a == 0.0 || a == 1.0, nprobe = 8, efSearch = 64,
      extreme = 0.02)
    assert(s5 == Serving.IvfPrefilterResident)
    val (_, r6) = Serving.serveFilteredLocalExplained(flatRep,
      Some(graphRep), qArr, 10, a => a == 0.0 || a == 1.0, nprobe = 8,
      efSearch = 64, extreme = 0.02)
    assert(asRows(r5) == r6.toSet)
    // attr-less replica refused loudly
    val bare = AnnIvf.localCellReplica(AnnIvf.servableCells(indexed),
      centroids)
    intercept[IllegalArgumentException] {
      Serving.serveFilteredLocalExplained(bare, Some(graphRep), qArr,
        10, a => a > 0)
    }
    // Artifacts.flatLocal: the DataFrame dispatcher's strong branch
    // serves the small batch in-process — rows identical, same tag
    val withFlatLocal = art.copy(flatLocal = Some(flatRep))
    val (s7, r7) = Serving.serveFilteredExplained(art, queries, 10,
      $"label".isin(0, 1), nprobe = 8, efSearch = 64, extreme = 0.02,
      attrPred = Some(a => a == 0.0 || a == 1.0))
    val (s8, r8) = Serving.serveFilteredExplained(withFlatLocal,
      queries, 10, $"label".isin(0, 1), nprobe = 8, efSearch = 64,
      extreme = 0.02, attrPred = Some(a => a == 0.0 || a == 1.0))
    assert(s7 == Serving.IvfPrefilterResident && s8 == s7)
    assert(asRows(r8) == asRows(r7) && asRows(r7).nonEmpty)
    graphIdx.unpersist(); cells.unpersist(); indexed.unpersist()
  }

  test("id-set (bitset) local serving: a TWO-COLUMN predicate reduced " +
      "to its survivor id-set serves every branch in-process, row-" +
      "identical to the distributed dispatcher evaluating the Column") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val graphIdx = NswGraph.servableIndex(graphs)
    // NO attrCol: the id-set route needs no resident attribute
    val cells = AnnIvf.servableCells(indexed)
    try {
      val flatRep = AnnIvf.localCellReplica(cells, centroids)
      val graphRep = NswGraph.localReplica(graphIdx, centroids)
      val art = Serving.Artifacts(indexed, centroids, Some(graphIdx))
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val twoCol = $"label".isin(0, 1) && $"vec_id" % 3 =!= 1
      val ids = Serving.survivorIdSet(indexed, twoCol)
      assert(ids.nonEmpty && ids.toSeq == ids.toSeq.sorted)
      // STRONG (~14% kept): distributed Column dispatch vs local id-set
      val (s1, r1) = Serving.serveFilteredExplained(art, queries, 10,
        twoCol, nprobe = 8, efSearch = 64, extreme = 0.02)
      val (s2, r2) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, ids, nprobe = 8, efSearch = 64,
        extreme = 0.02)
      assert(s1 == Serving.IvfPrefilter &&
        s2 == Serving.IvfPrefilterResident)
      assert(r2.toSet == asRows(r1) && r2.nonEmpty)
      // MILD (~90% kept): the over-fetch branch keeps survivors by
      // id-set membership — same integers, same rows as the window
      val mildCol = $"label" =!= 4
      val mildIds = Serving.survivorIdSet(indexed, mildCol)
      val (s3, r3) = Serving.serveFilteredExplained(art, queries, 10,
        mildCol, nprobe = 8, efSearch = 64)
      val (s4, r4) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, mildIds, nprobe = 8, efSearch = 64)
      assert(s3 == Serving.GraphOverfetch && s4 == Serving.GraphOverfetch)
      assert(r4.toSet == asRows(r3) && r4.nonEmpty)
      // EXTREME (raised boundary): exact over the id-set's members
      val (s5, r5) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, ids, extreme = 0.2)
      assert(s5 == Serving.ExactScan)
      assert(r5.toSet == asRows(Knn.exact(indexed.filter(twoCol),
        queries, 10)))
      // tombstones COMPOSE with the id-set (strong branch, both sides)
      val mask = d.filter($"vec_id" % 7 === 2)
        .select($"vec_id").collect().map(_.getLong(0)).sorted
      art.setTombstones(mask)
      val (s6, r6) = Serving.serveFilteredExplained(art, queries, 10,
        twoCol, nprobe = 8, efSearch = 64, extreme = 0.02)
      val (s7, r7) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, ids, nprobe = 8, efSearch = 64,
        extreme = 0.02, tombstones = Some(mask))
      assert(s6 == Serving.IvfPrefilter &&
        s7 == Serving.IvfPrefilterResident)
      assert(r7.toSet == asRows(r6) && r7.nonEmpty)
      art.setTombstones(Array.emptyLongArray)
      // empty id-set: no survivors, every branch returns nothing
      val (_, r8) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, Array.emptyLongArray)
      assert(r8.isEmpty)
      // the DataFrame wrapper matches the array hot path
      val (s9, r9) = Serving.serveFilteredLocalIdSetDf(flatRep,
        Some(graphRep), queries, 10, ids, nprobe = 8, efSearch = 64,
        extreme = 0.02)
      assert(s9 == Serving.IvfPrefilterResident &&
        asRows(r9) == r2.toSet)
      // under the cost-based DEFAULT this toy geometry (8 cells,
      // nprobe = 8 probes every one) honestly routes the same filter
      // to the exact scan — cheaper, recall 1.0, and the same rows
      // here because the probe set covers every cell
      val (sC, rC) = Serving.serveFilteredLocalIdSetExplained(flatRep,
        Some(graphRep), qArr, 10, ids, nprobe = 8, efSearch = 64)
      assert(sC == Serving.ExactScan && rC.toSet == r2.toSet)
    } finally { graphIdx.unpersist(); cells.unpersist(); indexed.unpersist() }
  }

  test("survivorIdSet: the sorted ids of the filter, and the maxIds " +
      "budget refuses oversized collects loudly") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val art = Serving.Artifacts(AnnIvf.index(data, centroids), centroids)
    val twoCol = $"label".isin(0, 1) && $"vec_id" % 3 =!= 1
    val ids = Serving.survivorIdSet(art.indexed, twoCol)
    assert(ids.nonEmpty && (ids sameElements ids.sorted))
    assert(ids.toSet == art.indexed.filter(twoCol).select($"vec_id")
      .as[Long].collect().toSet)
    // the heap budget: a mild filter's id-set is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Serving.survivorIdSet(art.indexed, $"label" =!= 4, maxIds = 10L)
    }
    assert(ex.getMessage.contains("maxIds"))
  }

  test("duplicate qids in one local batch: the mild over-fetch branch " +
      "emits an independent rank-1..k group per occurrence (r15 fix " +
      "pin — rank-restart grouping, not qid run-lengths)") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val graphIdx = NswGraph.servableIndex(graphs)
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    try {
      val flatRep = AnnIvf.localCellReplica(cells, centroids)
      val graphRep = NswGraph.localReplica(graphIdx, centroids)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val twin: Double => Boolean = a => a != 4.0 // mild regime
      // single-occurrence truth for the two probe queries
      val (s0, one0) = Serving.serveFilteredLocalExplained(flatRep,
        Some(graphRep), Array(qArr(0)), 10, twin, nprobe = 8,
        efSearch = 64)
      val (_, one1) = Serving.serveFilteredLocalExplained(flatRep,
        Some(graphRep), Array(qArr(1)), 10, twin, nprobe = 8,
        efSearch = 64)
      assert(s0 == Serving.GraphOverfetch && one0.nonEmpty)
      // the same qid twice in ADJACENT slots: before the r15 fix the
      // drain collapsed both into one k-capped group, silently
      // dropping the second occurrence's results
      val (s, rows) = Serving.serveFilteredLocalExplained(flatRep,
        Some(graphRep), Array(qArr(0), qArr(0), qArr(1)), 10, twin,
        nprobe = 8, efSearch = 64)
      assert(s == Serving.GraphOverfetch)
      // output order is positional: group(q0), group(q0), group(q1) —
      // each occurrence ranked 1..k independently
      assert(rows.toSeq == (one0.toSeq ++ one0.toSeq ++ one1.toSeq))
      assert(rows.count(_._1 == qArr(0)._1) == 2 * one0.length)
    } finally { graphIdx.unpersist(); cells.unpersist(); indexed.unpersist() }
  }

  test("refreshTombstones feeds the LOCAL dispatch: a mid-stream " +
      "tombstone reaches the in-process strong branch") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(data, centroids).cache()
    indexed.count()
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    val flatRep = AnnIvf.localCellReplica(cells, centroids)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_serv_lstale").toString
    AnnIvf.writeIndex(indexed, s"$tmp/idx")
    val art = Serving.Artifacts(indexed, centroids, flat = Some(cells),
        flatLocal = Some(flatRep))
    val twin: Double => Boolean = a => a == 0.0 || a == 1.0
    // tombstone written after the artifacts are built, then read into
    // the serve-time mask (zero re-decode)
    val del = data.filter($"vec_id" % 9 === 2).select($"vec_id")
    AnnIvf.tombstone(spark, s"$tmp/idx", del)
    art.refreshTombstones(spark, s"$tmp/idx")
    val (strat, res) = Serving.serveFilteredExplained(art, queries, 10,
      $"label".isin(0, 1), nprobe = 8, extreme = 0.02,
      attrPred = Some(twin))
    // the strong branch ran in-process (flatLocal present, small
    // batch) AND served the refreshed mask
    assert(strat == Serving.IvfPrefilterResident)
    val served = res.select($"neighbor_id").collect().map(_.getLong(0)).toSet
    val masked = del.as[Long].collect().toSet
    assert(served.nonEmpty && served.intersect(masked).isEmpty)
    // row-identity with the eager truth: exact pre-filter over the
    // surviving rows at full probes == the masked local serve
    val survivors = indexed.filter($"label".isin(0, 1))
      .filter(!$"vec_id".isin(masked.toSeq.map(Long.box): _*))
    val truth = AnnIvf.searchFast(survivors, centroids, queries, 10,
      nprobe = 8)
    assert(asRows(res) == asRows(truth))
    cells.unpersist(); indexed.unpersist()
  }

  test("overfetch k' is capped: a near-zero hint on the graph branch " +
      "cannot beam the corpus") {
    val (s, res) = Serving.serveFilteredExplained(artifacts, queries, 10,
      SparkEntry.filterLow, selectivity = Some(0.51), maxOverFetchK = 16)
    assert(s == Serving.GraphOverfetch)
    // kF = min(16, ceil(3*10/0.51)=59) = 16: the plan still executes
    // and returns <= k ranked rows per query
    val mx = res.groupBy("qid").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(mx <= 10 && res.count() > 0)
  }

  test("cost-based auto two-level dial (r19): decision pinned at both " +
      "measured 20M geometries; past the floor the local and sharded " +
      "dispatchers install the derived prober, the kill-switch and " +
      "small geometries stay flat") {
    // the decision function at the measured anchors (BENCH_scale_r18
    // two_level_probe_20m: 2044 cells, ~9784 rows/cell, dim 64, np 2)
    assert(Serving.autoTwoLevel(2044, 20000000L, 64, 2, 0.0077),
      "mid bucket (argmin ~80% of per-query flops) must engage")
    assert(!Serving.autoTwoLevel(2044, 20000000L, 64, 2, 0.5),
      "high bucket (scan-dominated) must stay flat")
    assert(!Serving.autoTwoLevel(1024, 20000000L, 64, 2, 0.0077),
      "below the TwoLevelMinCells floor the dial never engages")

    // end-to-end at an auto-engaging geometry: 2048 deterministic
    // synthetic centroids (the serve's correctness here is RELATIVE —
    // the auto must equal the serve under the EXPLICIT derived
    // prober, and an explicit flat prober must restore the flat serve)
    val d = data.cache()
    val dims = d.select($"embedding").head()
      .getSeq[Float](0).length
    val cent = spark.range(2048).select($"id".cast("int").as("cid"),
      array((0 until dims).map(j =>
        sin(($"id" * 31 + lit(j)).cast("double")).cast("float")): _*)
        .as("centroid"))
    val indexed = AnnIvf.index(d, cent).cache()
    indexed.count()
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    try {
      val flatRep = AnnIvf.localCellReplica(cells, cent)
      assert(flatRep.centroidMatrix.length == 2048)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val twin: Double => Boolean = a => a == 0.0 || a == 1.0
      val sel = {
        val (t, s) = (d.count(), d.filter($"label".isin(0, 1)).count())
        s.toDouble / t
      }
      assert(Serving.autoTwoLevel(flatRep.centroidMatrix.length.toLong,
        flatRep.size.toLong, flatRep.dim, 2, sel),
        "the test geometry must sit past the crossover")
      val (sAuto, rAuto) = Serving.serveFilteredLocalExplained(
        flatRep, None, qArr, 10, twin, nprobe = 2)
      assert(sAuto == Serving.IvfPrefilterResident && rAuto.nonEmpty)
      val (_, rExplicit) = Serving.serveFilteredLocalExplained(
        flatRep, None, qArr, 10, twin, nprobe = 2,
        proberOverride = flatRep.twoLevelProberAuto(2))
      assert(rAuto.toSet == rExplicit.toSet,
        "auto must serve exactly the derived two-level prober's rows")
      // an explicit flat prober pins the flat (pre-r19) serve,
      // row-for-row
      val (_, rFlat) = Serving.serveFilteredLocalExplained(
        flatRep, None, qArr, 10, twin, nprobe = 2,
        proberOverride = new graft.functions.CellProbe(
          flatRep.centroidMatrix, 2))
      val direct = AnnIvf.searchLocalCellsQueries(flatRep, qArr, 10, 2,
        attrPred = Some(twin))
      assert(rFlat.toSet == direct.toSet,
        "the pinned flat prober must serve the flat prober's rows")
      // SPLIT shards decide from the global geometry and derive
      // identical supers from the shared matrix: sharded-with-auto
      // stays row-identical to the unsharded serve
      val shards = graft.operators.Sharded.splitCellReplica(flatRep, 2)
      val ids = d.filter($"label".isin(0, 1)).select($"vec_id")
        .as[Long].collect().sorted
      val (sSh, rSh) = graft.operators.Sharded
        .serveFilteredShardedIdSetExplained(shards, qArr, 10, ids,
          nprobe = 2)
      assert(sSh == Serving.IvfPrefilterResident)
      assert(rSh.toSet == rAuto.toSet,
        "split-sharded auto must row-match the unsharded auto")
      // small geometry (8 cells): the auto never engages — the serve
      // equals the flat kernel regardless of the flag
      val cent8 = AnnIvf.train(d, numCentroids = 8, iterations = 2)
      val cells8 = AnnIvf.servableCells(AnnIvf.index(d, cent8),
        attrCol = Some("label"))
      try {
        val rep8 = AnnIvf.localCellReplica(cells8, cent8)
        // explicit extreme pins the IvfPrefilter branch (at 8 cells
        // the cost boundary 2/8 would otherwise route to exact-scan)
        val (s8, rSmall) = Serving.serveFilteredLocalExplained(
          rep8, None, qArr, 10, twin, nprobe = 2, extreme = 0.02)
        assert(s8 == Serving.IvfPrefilterResident)
        val dSmall = AnnIvf.searchLocalCellsQueries(rep8, qArr, 10, 2,
          attrPred = Some(twin))
        assert(rSmall.toSet == dSmall.toSet)
      } finally cells8.unpersist()
    } finally { cells.unpersist(); indexed.unpersist() }
  }
}
