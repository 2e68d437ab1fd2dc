package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Knn, NswGraph, Serving, Sharded}

/** Multi-shard serving (r17): K per-shard replicas + per-query top-k
  * merge. SPLIT shards (one index's cells partitioned, shared
  * centroid matrix) must be ROW-IDENTICAL to the unsharded serve on
  * every dispatch branch — the merge is exact, so sharding is a pure
  * deployment choice, never a semantics change. INDEPENDENT shards
  * (own centroids per corpus slice) are pinned against exact ground
  * truth under the beam-exact fixture recipe. */
class ShardedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf)
  private def queries = SparkEntry.queriesDf(spark, sf)

  private def asRows(df: DataFrame) =
    df.select($"qid", $"rank", $"neighbor_id", $"dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("split graph shards: sharded unfiltered serve is row-identical " +
      "to the single replica (order included), masked and unmasked, " +
      "and a 1-shard split is the identity") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphIdx = NswGraph.servableIndex(
      NswGraph.buildIndex(indexed, m = 8, efConstruction = 32))
    try {
      val rep = NswGraph.localReplica(graphIdx, centroids)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val shards = Sharded.splitGraphReplica(rep, 3)
      // a real partition: every cell in exactly one shard, zero-copy
      assert(shards.map(_.cells.length).sum == rep.cells.length)
      assert(shards.flatMap(_.cells.map(_.cid)).sorted.toSeq ==
        rep.cells.map(_.cid).sorted.toSeq)
      assert(shards.forall(_.cells.forall(c =>
        rep.cells.exists(_ eq c))))
      val single = NswGraph.searchLocalQueries(rep, qArr, 10, 8,
        efSearch = 64)
      val merged = Sharded.searchShardedLocalQueries(shards, qArr, 10,
        8, efSearch = 64)
      assert(merged.toSeq == single.toSeq && merged.nonEmpty)
      // tombstones compose identically
      val mask = d.filter($"vec_id" % 7 === 2)
        .select($"vec_id").collect().map(_.getLong(0)).sorted
      val singleM = NswGraph.searchLocalQueries(rep, qArr, 10, 8,
        efSearch = 64, tombstones = Some(mask))
      val mergedM = Sharded.searchShardedLocalQueries(shards, qArr, 10,
        8, efSearch = 64, tombstones = Some(mask))
      assert(mergedM.toSeq == singleM.toSeq && mergedM.nonEmpty)
      // 1-shard split = the same serve
      val one = Sharded.searchShardedLocalQueries(
        Sharded.splitGraphReplica(rep, 1), qArr, 10, 8, efSearch = 64)
      assert(one.toSeq == single.toSeq)
      // parallel shard fan-out: identical rows (scheduling, never
      // semantics), masked included
      assert(Sharded.searchShardedLocalQueries(shards, qArr, 10, 8,
        efSearch = 64, parallelShards = Some(true)).toSeq == single.toSeq)
      assert(Sharded.searchShardedLocalQueries(shards, qArr, 10, 8,
        efSearch = 64, tombstones = Some(mask),
        parallelShards = Some(true)).toSeq == singleM.toSeq)
      // duplicate qids stay independent positional slots through the
      // merge (the r14/r15 duplicate-qid contract)
      val dup = Array(qArr(0), qArr(0), qArr(1))
      val sDup = NswGraph.searchLocalQueries(rep, dup, 10, 8,
        efSearch = 64)
      val mDup = Sharded.searchShardedLocalQueries(shards, dup, 10, 8,
        efSearch = 64)
      assert(mDup.toSeq == sDup.toSeq)
      assert(mDup.count(_._2 == 1L) == 3) // three rank-1 groups
    } finally { graphIdx.unpersist(); indexed.unpersist() }
  }

  test("split flat shards: every dispatch branch of the sharded " +
      "filtered serve is row-identical to the unsharded local " +
      "dispatcher — attr route, id-set route, tombstoned, DataFrame " +
      "wrapper") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val graphIdx = NswGraph.servableIndex(
      NswGraph.buildIndex(indexed, m = 8, efConstruction = 32))
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    try {
      val flatRep = AnnIvf.localCellReplica(cells, centroids)
      val graphRep = NswGraph.localReplica(graphIdx, centroids)
      val flatShards = Sharded.splitCellReplica(flatRep, 3)
      val graphShards = Sharded.splitGraphReplica(graphRep, 3)
      // the split partitions rows and preserves the summed counts
      assert(flatShards.map(_.size).sum == flatRep.size)
      assert(flatShards.map(_.nCells).sum == flatRep.nCells)
      val pred: Double => Boolean = a => a == 0.0 || a == 1.0
      val cSingle = flatRep.selectivityCounts(pred, null)
      val cSharded = flatShards.map(_.selectivityCounts(pred, null))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      assert(cSharded == cSingle)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      def branchCheck(attrTwin: Double => Boolean,
          expect: Serving.Strategy, nprobe: Int = 8,
          extreme: Double = 0.02,
          tomb: Option[Array[Long]] = None): Unit = {
        val (s1, r1) = Serving.serveFilteredLocalExplained(flatRep,
          Some(graphRep), qArr, 10, attrTwin, nprobe = nprobe,
          efSearch = 64, extreme = extreme, tombstones = tomb)
        val (s2, r2) = Sharded.serveFilteredShardedExplained(
          flatShards, Some(graphShards), qArr, 10, attrTwin,
          nprobe = nprobe, efSearch = 64, extreme = extreme,
          tombstones = tomb)
        assert(s1 == expect && s2 == expect, s"dispatched $s1 / $s2")
        assert(r2.toSeq == r1.toSeq && r2.nonEmpty, s"branch $expect")
        // the parallel fan is scheduling, never semantics — on EVERY
        // dispatch branch (the over-fetch candidate cut included)
        val (s3, r3) = Sharded.serveFilteredShardedExplained(
          flatShards, Some(graphShards), qArr, 10, attrTwin,
          nprobe = nprobe, efSearch = 64, extreme = extreme,
          tombstones = tomb, parallelShards = Some(true))
        assert(s3 == expect && r3.toSeq == r1.toSeq,
          s"parallel fan diverged on $expect")
      }
      // STRONG: label in (0,1) -> resident pre-filter
      branchCheck(a => a == 0.0 || a == 1.0,
        Serving.IvfPrefilterResident)
      // MILD: label <> 4 -> graph over-fetch (global k' candidate cut)
      branchCheck(a => a != 4.0, Serving.GraphOverfetch)
      // EXTREME: label == 7 under a raised boundary -> exact
      branchCheck(a => a == 7.0, Serving.ExactScan, extreme = 0.15)
      // tombstoned strong branch
      val mask = d.filter($"vec_id" % 7 === 2)
        .select($"vec_id").collect().map(_.getLong(0)).sorted
      branchCheck(a => a == 0.0 || a == 1.0,
        Serving.IvfPrefilterResident, tomb = Some(mask))
      // ID-SET route: a two-column predicate's survivor set serves
      // the sharded branches identically to the unsharded ones
      val twoCol = $"label".isin(0, 1) && $"vec_id" % 3 =!= 1
      val ids = Serving.survivorIdSet(indexed, twoCol)
      val (si1, ri1) = Serving.serveFilteredLocalIdSetExplained(
        flatRep, Some(graphRep), qArr, 10, ids, nprobe = 8,
        efSearch = 64, extreme = 0.02)
      val (si2, ri2) = Sharded.serveFilteredShardedIdSetExplained(
        flatShards, Some(graphShards), qArr, 10, ids, nprobe = 8,
        efSearch = 64, extreme = 0.02)
      assert(si1 == Serving.IvfPrefilterResident && si2 == si1)
      assert(ri2.toSeq == ri1.toSeq && ri2.nonEmpty)
      val mildIds = Serving.survivorIdSet(indexed, $"label" =!= 4)
      val (sm1, rm1) = Serving.serveFilteredLocalIdSetExplained(
        flatRep, Some(graphRep), qArr, 10, mildIds, nprobe = 8,
        efSearch = 64)
      val (sm2, rm2) = Sharded.serveFilteredShardedIdSetExplained(
        flatShards, Some(graphShards), qArr, 10, mildIds, nprobe = 8,
        efSearch = 64)
      assert(sm1 == Serving.GraphOverfetch && sm2 == sm1)
      assert(rm2.toSeq == rm1.toSeq && rm2.nonEmpty)
      // empty id-set: every shard drains empty, merge returns nothing
      val (_, re) = Sharded.serveFilteredShardedIdSetExplained(
        flatShards, Some(graphShards), qArr, 10, Array.emptyLongArray,
        nprobe = 8, efSearch = 64, selectivity = Some(0.0001))
      assert(re.isEmpty)
      // attr-less shards refused loudly on the attr route
      val bareShards = Sharded.splitCellReplica(
        AnnIvf.localCellReplica(AnnIvf.servableCells(indexed),
          centroids), 3)
      intercept[IllegalArgumentException] {
        Sharded.serveFilteredShardedExplained(bareShards,
          Some(graphShards), qArr, 10, a => a > 0)
      }
    } finally { graphIdx.unpersist(); cells.unpersist()
      indexed.unpersist() }
  }

  test("cross-shard bound seeding is pure pruning: a kernel scan " +
      "seeded with the TIGHTEST legal per-slot bound (the true global " +
      "kth-best) returns the unseeded rows exactly, on the pre-filter " +
      "and exact branches — and the auto-parallel rule picks the " +
      "measured winner at both profiled batch sizes") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    try {
      val rep = AnnIvf.localCellReplica(cells, centroids)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val pred: Option[Double => Boolean] = Some(a => a == 0.0 || a == 1.0)
      Seq(true, false).foreach { exhaustive =>
        val np = if (exhaustive) 0 else 8
        val unseeded = AnnIvf.localCellCoreSlots(rep, qArr, 10, np,
          "sqeuclidean", pred, None, None, exhaustive)
        // tightest LEGAL seed: each slot's true kth-best distance —
        // ties at the bound must survive (strictly-greater abandon),
        // so seeding at exactly the kth distance changes nothing
        val seeds = new Sharded.SlotBounds(qArr.length)
        unseeded.zipWithIndex.foreach { case (rows, slot) =>
          if (rows.length == 10) seeds.tighten(slot, rows.last._4)
        }
        val seeded = AnnIvf.localCellCoreSlots(rep, qArr, 10, np,
          "sqeuclidean", pred, None, None, exhaustive,
          sharedBounds = seeds)
        assert(seeded.map(_.toSeq).toSeq == unseeded.map(_.toSeq).toSeq,
          s"seeded scan diverged (exhaustive=$exhaustive)")
        // and the seeds only ever tighten (publish keeps the invariant
        // "bound >= final global kth dist")
        unseeded.zipWithIndex.foreach { case (rows, slot) =>
          if (rows.length == 10) assert(seeds.get(slot) <= rows.last._4)
        }
      }
      // SlotBounds ordering is Double.compare-correct for signed
      // (dot/cosine) distances too
      val b = new Sharded.SlotBounds(1)
      b.tighten(0, -0.25); b.tighten(0, -0.125)
      assert(b.get(0) == -0.25)
      // the measured fan rule (BENCH_scale_r18: with the cached pool
      // + warm bounds the fan wins or ties at EVERY measured shape —
      // the r17 batch=1000 regression is retired)
      assert(Sharded.autoParallel(100, 4, cores = 32))
      assert(Sharded.autoParallel(1000, 4, cores = 32))
      assert(!Sharded.autoParallel(100, 1, cores = 32)) // nothing to fan
    } finally { cells.unpersist(); indexed.unpersist() }
  }

  test("independent shards (own centroids per corpus slice): the " +
      "merged serve equals exact ground truth under the beam-exact " +
      "recipe — the N-replicas-over-N-data-shards deployment form") {
    val d = data.cache()
    val half0 = d.filter($"vec_id" % 2 === 0).cache()
    val half1 = d.filter($"vec_id" % 2 === 1).cache()
    val qArr = queries.select($"qid".cast("long"), $"q_embedding")
      .as[(Long, Array[Float])].collect()
    def shardReplica(slice: DataFrame): NswGraph.LocalReplica = {
      val cents = AnnIvf.train(slice, numCentroids = 4, iterations = 2)
      val idx = NswGraph.servableIndex(NswGraph.buildIndex(
        AnnIvf.index(slice, cents), m = 32, efConstruction = 64))
      try NswGraph.localReplica(idx, cents) finally idx.unpersist()
    }
    val shards = Seq(shardReplica(half0), shardReplica(half1))
    // shard centroid matrices are genuinely distinct instances
    assert(!(shards(0).centroidMatrix eq shards(1).centroidMatrix))
    // nprobe = 4 probes EVERY cell of each 4-cell shard, and the
    // no-prune recipe (m=32/efC=64, efSearch=128 >> cell sizes) makes
    // each shard's beam exact in-cell -> the merge must equal exact
    // k-NN over the full corpus
    val merged = Sharded.searchShardedLocalQueries(shards, qArr, 10,
      nprobe = 4, efSearch = 128)
    val mergedDf = spark.createDataset(merged.toSeq)
      .toDF("qid", "rank", "neighbor_id", "dist")
    assert(asRows(mergedDf) == asRows(Knn.exact(d, queries, 10)))
    half0.unpersist(); half1.unpersist()
  }

  test("two-level local prober (r18): a FULL super beam reproduces " +
      "the flat argmin's probe list exactly (and the sharded serve " +
      "with such probers is row-identical); a narrow beam is a dial " +
      "whose rows are exact within its probed cells and clear a " +
      "recall floor") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 16, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    try {
      val rep = AnnIvf.localCellReplica(cells, centroids)
      val supM = AnnIvf.collectMatrix(
        AnnIvf.trainSupers(centroids), "sid", "centroid")
      val members = AnnIvf.memberLists(supM, rep.centroidMatrix)
      val qArr = queries.select($"qid".cast("long"), $"q_embedding")
        .as[(Long, Array[Float])].collect()
      val nprobe = 4
      // FULL beam: every member list is covered, so the two-level
      // argmin sees every cell — probe list == flat argmin's
      val full = AnnIvf.twoLevelProberLocal(supM, rep.centroidMatrix,
        members, wSuper = supM.length, nprobe = nprobe)
      val flatProber =
        new graft.functions.CellProbe(rep.centroidMatrix, nprobe)
      qArr.foreach { case (_, qv) =>
        assert(full(qv).toSeq == flatProber(qv).toSeq)
      }
      // and the sharded serve with per-shard full-beam probers is
      // row-identical to the unprobered serve
      val shards = Sharded.splitCellReplica(rep, 3)
      val pred: Double => Boolean = a => a == 0.0 || a == 1.0
      val (s0, r0) = Sharded.serveFilteredShardedExplained(shards,
        None, qArr, 10, pred, nprobe = nprobe, extreme = 0.02)
      val (s1, r1) = Sharded.serveFilteredShardedExplained(shards,
        None, qArr, 10, pred, nprobe = nprobe, extreme = 0.02,
        probers = Some(shards.map(_ => full)))
      assert(s0 == Serving.IvfPrefilterResident && s1 == s0)
      assert(r1.toSeq == r0.toSeq && r1.nonEmpty)
      // NARROW beam (wSuper = 1): a dial — every returned row is an
      // exact in-probed-cell result satisfying the filter, and the
      // operating point still clears a recall floor vs the flat-probe
      // serve on this fixture
      val narrow = AnnIvf.twoLevelProberLocal(supM, rep.centroidMatrix,
        members, wSuper = 1, nprobe = nprobe)
      val (_, rN) = Sharded.serveFilteredShardedExplained(shards,
        None, qArr, 10, pred, nprobe = nprobe, extreme = 0.02,
        probers = Some(shards.map(_ => narrow)))
      assert(rN.nonEmpty)
      val truthIds = r0.map(t => (t._1, t._3)).toSet
      val gotIds = rN.map(t => (t._1, t._3)).toSet
      val recall = gotIds.intersect(truthIds).size.toDouble /
        math.max(1, truthIds.size)
      assert(recall >= 0.5, s"narrow-beam recall vs flat probes $recall")
      // misaligned probers refused loudly
      intercept[IllegalArgumentException] {
        Sharded.serveFilteredShardedExplained(shards, None, qArr, 10,
          pred, nprobe = nprobe, extreme = 0.02,
          probers = Some(Seq(full)))
      }
      // single-replica dispatcher accepts the prober too: full beam
      // row-identical to the default
      val (_, rLoc) = Serving.serveFilteredLocalExplained(rep, None,
        qArr, 10, pred, nprobe = nprobe, extreme = 0.02,
        proberOverride = full)
      val (_, rLoc0) = Serving.serveFilteredLocalExplained(rep, None,
        qArr, 10, pred, nprobe = nprobe, extreme = 0.02)
      assert(rLoc.toSeq == rLoc0.toSeq)
    } finally { cells.unpersist(); indexed.unpersist() }
  }

  test("sharded LIFECYCLE (r18): append to ONE independent shard's " +
      "persisted tree, refresh ONLY that shard's replica, and the " +
      "sharded serve returns the appended rows — the other shard's " +
      "replica is untouched (same instance), the refreshed shard " +
      "aliases its untouched cells") {
    val d = data.cache()
    val half0 = d.filter($"vec_id" % 2 === 0).cache()
    val half1 = d.filter($"vec_id" % 2 === 1).cache()
    // hold an appendix out of shard 0 (the steady-state loop's batch)
    val base0 = half0.filter($"vec_id" % 5 =!= 3)
    val appendix = half0.filter($"vec_id" % 5 === 3)
    val qArr = queries.select($"qid".cast("long"), $"q_embedding")
      .as[(Long, Array[Float])].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft_slc").toString
    // per-shard persisted trees + replicas (the beam-exact recipe:
    // 4 cells, m=32/efC=64, nprobe=4/efS=128 -> each shard exact)
    def buildShard(slice: DataFrame, path: String)
        : (NswGraph.LocalReplica, DataFrame) = {
      val cents = AnnIvf.train(slice, numCentroids = 4, iterations = 2)
      NswGraph.writeGraphIndex(NswGraph.buildIndex(
        AnnIvf.index(slice, cents), m = 32, efConstruction = 64), path)
      val idx = NswGraph.servableIndex(NswGraph.readGraphIndex(spark, path))
      try (NswGraph.localReplica(idx, cents), cents)
      finally idx.unpersist()
    }
    val (rep0, cents0) = buildShard(base0, s"$tmp/s0")
    val (rep1, _) = buildShard(half1, s"$tmp/s1")
    // pre-append: the appendix ids are absent from the merged serve
    val appendedIds = appendix.select($"vec_id").collect()
      .map(_.getLong(0)).toSet
    val before = Sharded.searchShardedLocalQueries(Seq(rep0, rep1),
      qArr, 10, nprobe = 4, efSearch = 128)
    assert(!before.exists(r => appendedIds.contains(r._3)))
    // steady-state loop: append to shard 0's TREE, refresh shard 0's
    // REPLICA only (O(touched cells)), serve the new pair
    val touched = NswGraph.appendToGraphIndex(appendix, cents0,
      s"$tmp/s0", m = 32, efConstruction = 64)
    assert(touched.nonEmpty)
    val rep0b = NswGraph.refreshLocalReplica(spark, s"$tmp/s0", rep0,
      touched)
    // untouched cells of shard 0 alias the old replica's arrays
    val touchedSet = touched.toSet
    rep0b.cells.filterNot(c => touchedSet.contains(c.cid))
      .foreach(c => assert(rep0.cells.exists(_ eq c)))
    // shard 1 was never rebuilt — the SAME replica instance serves
    val after = Sharded.searchShardedLocalQueries(Seq(rep0b, rep1),
      qArr, 10, nprobe = 4, efSearch = 128)
    // the refreshed sharded serve equals exact truth over the FULL
    // corpus (base0 + appendix + half1 = d) under the exact recipe —
    // the appended rows are served, nothing else moved
    val afterDf = spark.createDataset(after.toSeq)
      .toDF("qid", "rank", "neighbor_id", "dist")
    assert(asRows(afterDf) == asRows(Knn.exact(d, queries, 10)))
    half0.unpersist(); half1.unpersist()
  }
}
