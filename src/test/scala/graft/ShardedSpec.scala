package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Knn, Serving, Sharded}

/** Multi-shard serving (r17): K per-shard flat replicas + per-query
  * top-k merge. SPLIT shards (one index's cells partitioned, shared
  * centroid matrix) must be ROW-IDENTICAL to the unsharded serve on
  * every dispatch branch — the merge is exact, so sharding is a pure
  * deployment choice, never a semantics change. INDEPENDENT shards
  * (own centroids per corpus slice) are pinned against exact ground
  * truth with every cell probed. */
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

  test("split flat shards: every flat-tier dispatch branch of the " +
      "sharded id-set serve is row-identical to the unsharded local " +
      "dispatcher — tombstoned, parallel fan, empty id-set, DataFrame " +
      "wrapper") {
    val d = data.cache()
    val centroids = AnnIvf.train(d, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(d, centroids).cache()
    indexed.count()
    val cells = AnnIvf.servableCells(indexed, attrCol = Some("label"))
    cells.count()
    try {
      val flatRep = AnnIvf.localCellReplica(cells, centroids)
      val flatShards = Sharded.splitCellReplica(flatRep, 3)
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
      def branchCheck(filter: org.apache.spark.sql.Column,
          expect: Serving.Strategy, extreme: Double = 0.02,
          tomb: Option[Array[Long]] = None): Unit = {
        val ids = Serving.survivorIdSet(indexed, filter)
        val (s1, r1) = Serving.serveFilteredLocalIdSetExplained(flatRep,
          None, qArr, 10, ids, nprobe = 8, extreme = extreme,
          tombstones = tomb)
        val (s2, r2) = Sharded.serveFilteredShardedIdSetExplained(
          flatShards, qArr, 10, ids, nprobe = 8, extreme = extreme,
          tombstones = tomb)
        assert(s1 == expect && s2 == expect, s"dispatched $s1 / $s2")
        assert(r2.toSeq == r1.toSeq && r2.nonEmpty, s"branch $expect")
        // the parallel fan is scheduling, never semantics — on every
        // dispatch branch
        val (s3, r3) = Sharded.serveFilteredShardedIdSetExplained(
          flatShards, qArr, 10, ids, nprobe = 8, extreme = extreme,
          tombstones = tomb, parallelShards = Some(true))
        assert(s3 == expect && r3.toSeq == r1.toSeq,
          s"parallel fan diverged on $expect")
      }
      // STRONG: label in (0,1) -> resident pre-filter
      branchCheck($"label".isin(0, 1), Serving.IvfPrefilterResident)
      // MILD with no graph tier: the pre-filter serves it too
      branchCheck($"label" =!= 4, Serving.IvfPrefilterResident)
      // EXTREME: label == 7 under a raised boundary -> exact
      branchCheck($"label" === 7, Serving.ExactScan, extreme = 0.15)
      // tombstoned strong branch
      val mask = d.filter($"vec_id" % 7 === 2)
        .select($"vec_id").collect().map(_.getLong(0)).sorted
      branchCheck($"label".isin(0, 1), Serving.IvfPrefilterResident,
        tomb = Some(mask))
      // a two-column predicate's survivor set
      branchCheck($"label".isin(0, 1) && $"vec_id" % 3 =!= 1,
        Serving.IvfPrefilterResident)
      // empty id-set: every shard drains empty, merge returns nothing
      val (_, re) = Sharded.serveFilteredShardedIdSetExplained(
        flatShards, qArr, 10, Array.emptyLongArray, nprobe = 8,
        selectivity = Some(0.0001))
      assert(re.isEmpty)
      // the DataFrame wrapper serves the same rows
      val ids = Serving.survivorIdSet(indexed, $"label".isin(0, 1))
      val (sDf, rDf) = Sharded.serveFilteredShardedIdSetDf(flatShards,
        queries, 10, ids, nprobe = 8, extreme = 0.02)
      val (_, rArr) = Sharded.serveFilteredShardedIdSetExplained(
        flatShards, qArr, 10, ids, nprobe = 8, extreme = 0.02)
      assert(sDf == Serving.IvfPrefilterResident)
      assert(rDf.as[(Long, Long, Long, Double)].collect().toSet ==
        rArr.toSet && rArr.nonEmpty)
    } finally { cells.unpersist(); indexed.unpersist() }
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
      "merged serve equals exact ground truth when every cell is " +
      "probed — the N-replicas-over-N-data-shards deployment form") {
    val d = data.cache()
    val half0 = d.filter($"vec_id" % 2 === 0).cache()
    val half1 = d.filter($"vec_id" % 2 === 1).cache()
    val qArr = queries.select($"qid".cast("long"), $"q_embedding")
      .as[(Long, Array[Float])].collect()
    def shardReplica(slice: DataFrame): AnnIvf.LocalCellReplica = {
      val cents = AnnIvf.train(slice, numCentroids = 4, iterations = 2)
      val cells = AnnIvf.servableCells(AnnIvf.index(slice, cents))
      try AnnIvf.localCellReplica(cells, cents) finally cells.unpersist()
    }
    val shards = Seq(shardReplica(half0), shardReplica(half1))
    // shard centroid matrices are genuinely distinct quantizers
    assert(!(shards(0).centroidMatrix eq shards(1).centroidMatrix))
    // nprobe = 4 probes EVERY cell of each 4-cell shard, so each
    // shard's pre-filter scan is exact -> the merge must equal exact
    // k-NN over the full corpus
    val all = d.select($"vec_id").as[Long].collect().sorted
    val (strategy, merged) = Sharded.serveFilteredShardedIdSetExplained(
      shards, qArr, 10, all, nprobe = 4, extreme = 0.0)
    assert(strategy == Serving.IvfPrefilterResident)
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
      val ids = Serving.survivorIdSet(indexed, $"label".isin(0, 1))
      val (s0, r0) = Sharded.serveFilteredShardedIdSetExplained(shards,
        qArr, 10, ids, nprobe = nprobe, extreme = 0.02)
      val (s1, r1) = Sharded.serveFilteredShardedIdSetExplained(shards,
        qArr, 10, ids, nprobe = nprobe, extreme = 0.02,
        probers = Some(shards.map(_ => full)))
      assert(s0 == Serving.IvfPrefilterResident && s1 == s0)
      assert(r1.toSeq == r0.toSeq && r1.nonEmpty)
      // NARROW beam (wSuper = 1): a dial — every returned row is an
      // exact in-probed-cell result satisfying the filter, and the
      // operating point still clears a recall floor vs the flat-probe
      // serve on this fixture
      val narrow = AnnIvf.twoLevelProberLocal(supM, rep.centroidMatrix,
        members, wSuper = 1, nprobe = nprobe)
      val (_, rN) = Sharded.serveFilteredShardedIdSetExplained(shards,
        qArr, 10, ids, nprobe = nprobe, extreme = 0.02,
        probers = Some(shards.map(_ => narrow)))
      assert(rN.nonEmpty)
      val truthIds = r0.map(t => (t._1, t._3)).toSet
      val gotIds = rN.map(t => (t._1, t._3)).toSet
      val recall = gotIds.intersect(truthIds).size.toDouble /
        math.max(1, truthIds.size)
      assert(recall >= 0.5, s"narrow-beam recall vs flat probes $recall")
      // misaligned probers refused loudly
      intercept[IllegalArgumentException] {
        Sharded.serveFilteredShardedIdSetExplained(shards, qArr, 10,
          ids, nprobe = nprobe, extreme = 0.02,
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
}
