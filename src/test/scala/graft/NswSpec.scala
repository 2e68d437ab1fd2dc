package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Knn, NswGraph, Recall}

/** NSW graph index: recall floors + ef knob, mirroring the reference's
  * HNSW recall tests (tests.py:265-305: min recall 0.80 for the CPU
  * graph path at production scale). */
class NswSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf).filter(SparkEntry.filterLow)
  private def queries = SparkEntry.queriesDf(spark, sf)

  private def recallOf(found: org.apache.spark.sql.DataFrame): Double = {
    val truth = Knn.exact(data, queries, 10)
    val r = Recall.ofRanked(found, truth).head()
    r.getDouble(r.fieldIndex("recall"))
  }

  test("high-ef search on a single partition is near-exact") {
    val rec = recallOf(NswGraph.search(
      data.repartition(1), queries, 10, m = 16, efSearch = 200))
    assert(rec >= 0.95, s"recall $rec")
  }

  test("multi-partition graphs still hit the reference recall floor") {
    val rec = recallOf(NswGraph.search(
      data.repartition(4), queries, 10, m = 8, efSearch = 64))
    assert(rec >= 0.80, s"recall $rec")
  }

  test("IVF-layered graph search: recall floor and subset-of-probed-cells") {
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val indexed = graft.operators.AnnIvf.index(data, centroids)
    val found = NswGraph.searchIndex(NswGraph.buildIndex(indexed, m = 16),
      centroids, queries, 10, nprobe = 8, efSearch = 128)
    // nprobe = all cells + high ef → recall close to the flat-IVF path
    val rec = recallOf(found)
    assert(rec >= 0.80, s"layered recall $rec")
    // results only come from cells the query probed (here: all), and
    // every returned id exists in the index
    val legal = indexed.select("vec_id").collect().map(_.getLong(0)).toSet
    val ids = found.select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(legal))
  }

  test("graph index round-trips through parquet; reloaded search identical") {
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val indexed = graft.operators.AnnIvf.index(data, centroids)
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
    val tmp = java.nio.file.Files.createTempDirectory("graft_gidx").toString
    NswGraph.writeGraphIndex(graphs, s"$tmp/gidx")
    val reloaded = NswGraph.readGraphIndex(spark, s"$tmp/gidx")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = tuples(NswGraph.searchIndex(graphs, centroids, queries, 10,
      nprobe = 4, efSearch = 64))
    val b = tuples(NswGraph.searchIndex(reloaded, centroids, queries, 10,
      nprobe = 4, efSearch = 64))
    assert(a == b && a.nonEmpty)
  }

  test("chunked graph search is bit-identical to the one-shot path") {
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val graphs = NswGraph.buildIndex(
      graft.operators.AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32).cache()
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = tuples(NswGraph.searchIndex(graphs, centroids, queries,
      10, nprobe = 4, efSearch = 64))
    Seq(1, 7, 1000).foreach { sz =>
      val chunked = tuples(graft.operators.Knn.chunkedByQuery(queries, sz)(
        NswGraph.searchIndex(graphs, centroids, _, 10, nprobe = 4,
          efSearch = 64)))
      assert(chunked == oneShot && chunked.nonEmpty, s"chunk size $sz")
    }
    // the fully distributed cogroup lowering (no probe broadcast)
    val shuffled = tuples(NswGraph.searchIndexShuffled(graphs, centroids,
      queries, 10, nprobe = 4, efSearch = 64))
    assert(shuffled == oneShot)
    graphs.unpersist()
  }

  test("servable resident index is bit-identical to searchIndex, " +
      "including distances, across reuse") {
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val graphs = NswGraph.buildIndex(
      graft.operators.AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32).cache()
    val idx = NswGraph.servableIndex(graphs)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    Seq(8, 64).foreach { efs =>
      val base = full(NswGraph.searchIndex(graphs, centroids, queries,
        10, nprobe = 4, efSearch = efs))
      val served = full(NswGraph.searchServable(idx, centroids, queries,
        10, nprobe = 4, efSearch = efs))
      assert(served == base && base.nonEmpty, s"efSearch $efs")
      // reuse: a second batch over the SAME resident index (epoch
      // stamps and heaps are recycled) must stay identical
      assert(full(NswGraph.searchServable(idx, centroids, queries,
        10, nprobe = 4, efSearch = efs)) == base, s"reuse at ef $efs")
    }
    // a different query subset against the warm index
    val sub = queries.filter(org.apache.spark.sql.functions.col("qid") % 3 === 0)
    assert(full(NswGraph.searchServable(idx, centroids, sub, 10,
        nprobe = 8, efSearch = 32)) ==
      full(NswGraph.searchIndex(graphs, centroids, sub, 10,
        nprobe = 8, efSearch = 32)))
    idx.unpersist(); graphs.unpersist()
  }

  test("servable tombstone mask: empty mask is bit-identical, masked " +
      "serve never returns a masked id, survivors fill the freed " +
      "ranks, and an exhaustive beam equals the exact masked top-k") {
    import org.apache.spark.sql.functions.col
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val indexed = graft.operators.AnnIvf.index(data, centroids).cache()
    val graphs = NswGraph.buildIndex(indexed, m = 8, efConstruction = 32)
      .cache()
    val idx = NswGraph.servableIndex(graphs)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    // empty mask takes the masked drain path but must stay
    // bit-identical to the unmasked one (the drain rework is a
    // re-ordering-free refactor)
    val base = full(NswGraph.searchServable(idx, centroids, queries, 10,
      nprobe = 4, efSearch = 32))
    assert(full(NswGraph.searchServable(idx, centroids, queries, 10,
      nprobe = 4, efSearch = 32,
      tombstones = Some(Array.emptyLongArray))) == base)
    // masking ids that are in nobody's beam results changes nothing
    assert(full(NswGraph.searchServable(idx, centroids, queries, 10,
      nprobe = 4, efSearch = 32,
      tombstones = Some(Array(-5L, -4L)))) == base)
    // a real mask: no masked id served; every query still gets k rows
    // (survivors from the ef-deep beam fill the freed ranks)
    val mask = data.filter(col("vec_id") % 5 === 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val masked = NswGraph.searchServable(idx, centroids, queries, 10,
      nprobe = 8, efSearch = 64, tombstones = Some(mask))
    val servedIds = masked.select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(servedIds.nonEmpty && servedIds.intersect(mask.toSet).isEmpty)
    val perQ = masked.groupBy("qid")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0))
    assert(perQ.nonEmpty && perQ.forall(_ == 10L))
    // the precise filter-at-serve pin: the mask does not change the
    // beam (tombstoned nodes stay routing structure), so the masked
    // serve must equal the UNMASKED serve taken k = ef deep,
    // post-filtered and re-ranked — the reference's own delete
    // semantics, checkable bit for bit
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val efs = 64
    val wide = NswGraph.searchServable(idx, centroids, queries, efs,
      nprobe = 8, efSearch = efs)
    val postFiltered = wide
      .filter(!col("neighbor_id").isin(mask.map(Long.box): _*))
      .withColumn("_rk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("dist"), col("neighbor_id"))))
      .filter(col("_rk") <= 10)
      .select(col("qid"), col("_rk").cast("long").as("rank"),
        col("neighbor_id"))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ranked(masked) == ranked(postFiltered) &&
      ranked(masked).nonEmpty)
    // the NON-resident graph serves carry the same mask with the same
    // drain contract — bit-equal to the resident masked serve
    assert(full(NswGraph.searchIndex(graphs, centroids, queries, 10,
      nprobe = 8, efSearch = 64, tombstones = Some(mask))) ==
      full(masked))
    assert(full(NswGraph.searchIndexShuffled(graphs, centroids, queries,
      10, nprobe = 8, efSearch = 64, tombstones = Some(mask))) ==
      full(masked))
    idx.unpersist(); graphs.unpersist(); indexed.unpersist()
  }

  test("driver-local small-batch serve is bit-identical to the job " +
      "path: unmasked, masked, across batch sizes, and via the " +
      "auto dispatch") {
    import org.apache.spark.sql.functions.col
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val graphs = NswGraph.buildIndex(
      graft.operators.AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32).cache()
    val idx = NswGraph.servableIndex(graphs)
    idx.count()
    val rep = NswGraph.localReplica(idx, centroids)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    Seq(8, 64).foreach { efs =>
      val job = full(NswGraph.searchServable(idx, centroids, queries, 10,
        nprobe = 4, efSearch = efs))
      val local = full(NswGraph.searchLocal(rep, queries, 10,
        nprobe = 4, efSearch = efs))
      assert(local == job && job.nonEmpty, s"efSearch $efs")
    }
    // masked: same mask through both paths, full-row equality
    val mask = data.filter(col("vec_id") % 5 === 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val jobM = full(NswGraph.searchServable(idx, centroids, queries, 10,
      nprobe = 8, efSearch = 64, tombstones = Some(mask)))
    assert(full(NswGraph.searchLocal(rep, queries, 10, nprobe = 8,
      efSearch = 64, tombstones = Some(mask))) == jobM && jobM.nonEmpty)
    // batch-size independence: a 3-query slice served locally equals
    // the job path's rows for those queries (the reference's 100-query
    // batch shape) — and the ARRAY hot path equals the DataFrame
    // wrapper row for row
    val spark2 = spark
    import spark2.implicits._
    val sub = queries.filter(col("qid") % 7 === 0)
    val subJob = full(NswGraph.searchServable(idx, centroids, sub, 10,
      nprobe = 4, efSearch = 32))
    assert(full(NswGraph.searchLocal(rep, sub, 10, nprobe = 4,
      efSearch = 32)) == subJob && subJob.nonEmpty)
    val subArr = sub
      .select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val hot = NswGraph.searchLocalQueries(rep, subArr, 10, nprobe = 4,
      efSearch = 32).toSet
    assert(hot == subJob)
    // auto dispatch: below the threshold it must route locally (and
    // match), above it the distributed path (and match)
    assert(full(NswGraph.searchServableAuto(idx, Some(rep), centroids,
      sub, 10, nprobe = 4, efSearch = 32, localBelow = 8192)) == subJob)
    assert(full(NswGraph.searchServableAuto(idx, Some(rep), centroids,
      sub, 10, nprobe = 4, efSearch = 32, localBelow = 1)) == subJob)
    // heap guard: an impossible fraction refuses loudly, force wins
    val e = intercept[IllegalArgumentException] {
      NswGraph.localReplica(idx, centroids, maxHeapFraction = 0.0)
    }
    assert(e.getMessage.contains("free driver heap"))
    idx.unpersist(); graphs.unpersist()
  }

  test("hamming-metric ANN: scalar/expression agreement + recall floors") {
    // scalar branch == packed popcount(xor) (the exactHamming path)
    val a = Array(0.5f, -1f, 0f, 2f, -0.1f, 3f, -4f, 1f)
    val b = Array(-0.5f, -1f, 1f, 2f, 0.1f, -3f, -4f, 0f)
    val expected = a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }
    assert(Knn.scalarDistance("hamming", a, b) == expected.toDouble)
    // approximate hamming search (reference IndexBinaryHNSW analog,
    // utils_grid_search.py:649-654) vs the exact hamming oracle.
    // Hamming has massive distance ties (64 discrete levels), so
    // top-k id sets are tie-ordering-dependent and floors are looser
    // than the float metrics'.
    val truth = Knn.exactHamming(data, queries, 10)
    def hamRecall(found: org.apache.spark.sql.DataFrame): Double = {
      val r = Recall.ofRanked(found, truth).head()
      r.getDouble(r.fieldIndex("recall"))
    }
    val nsw = hamRecall(NswGraph.search(
      data.repartition(4), queries, 10, m = 8, efSearch = 64,
      metric = "hamming"))
    assert(nsw >= 0.30, s"nsw hamming recall $nsw")
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val indexed = graft.operators.AnnIvf.index(data, centroids)
    val ivf = hamRecall(graft.operators.AnnIvf.search(
      indexed, centroids, queries, 10, nprobe = 8, metric = "hamming"))
    assert(ivf >= 0.30, s"ivf hamming recall $ivf")
    println(s"[NswSpec] hamming recall: nsw=$nsw ivf=$ivf")
  }

  test("recall rises with efSearch (knob direction)") {
    val lo = recallOf(NswGraph.search(
      data.repartition(2), queries, 10, m = 8, efSearch = 10))
    val hi = recallOf(NswGraph.search(
      data.repartition(2), queries, 10, m = 8, efSearch = 128))
    assert(hi >= lo, s"ef=10 -> $lo, ef=128 -> $hi")
    assert(hi >= 0.85, s"high-ef recall $hi")
  }

  test("fp16-packed local replica (r17): bit-identical serve on " +
      "fp16-exact vectors, vector bytes halved") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // snap every data coordinate to the k/64 grid: |x| < 32 on that
    // grid is EXACTLY representable in binary16 (spacing 2^-6 needs
    // exponent <= 4), so toHalf/fromHalf round-trips bit-exactly and
    // any packed-vs-fp32 divergence would be a KERNEL bug, not
    // storage rounding — the query side stays fp32 in both kernels
    val snapped = data.withColumn("embedding",
      transform(col("embedding"),
        x => (round(x * 64) / lit(64.0)).cast("float"))).cache()
    snapped.count()
    val centroids = graft.operators.AnnIvf.train(snapped, 8,
      iterations = 2)
    val idx = NswGraph.servableIndex(NswGraph.buildIndex(
      graft.operators.AnnIvf.index(snapped, centroids),
      m = 8, efConstruction = 32))
    idx.count()
    try {
      val rep = NswGraph.localReplica(idx, centroids)
      // packed per fetched batch: the fp32 form is never held whole
      val packed = NswGraph.localReplica(idx, centroids, packFp16 = true)
      assert(packed.cells.forall(c => c.flat == null && c.half != null))
      // exactly the vector share halves: 2 bytes per element where
      // the fp32 replica holds 4 (ids/adjacency unchanged)
      val flatFloats = rep.cells.iterator
        .filter(_.flat != null).map(_.flat.length.toLong).sum
      assert(flatFloats > 0 &&
        packed.cells.iterator.map(_.half.length.toLong).sum == flatFloats)
      val qArr = queries.select(col("qid").cast("long"),
        col("q_embedding")).as[(Long, Array[Float])].collect()
      val f32 = NswGraph.searchLocalQueries(rep, qArr, 10, 8,
        efSearch = 64)
      val f16 = NswGraph.searchLocalQueries(packed, qArr, 10, 8,
        efSearch = 64)
      assert(f16.toSeq == f32.toSeq && f16.nonEmpty)
      // masked serve identical too
      val mask = snapped.filter(col("vec_id") % 5 === 1)
        .select(col("vec_id")).collect().map(_.getLong(0)).sorted
      assert(NswGraph.searchLocalQueries(packed, qArr, 10, 8,
        efSearch = 64, tombstones = Some(mask)).toSeq ==
        NswGraph.searchLocalQueries(rep, qArr, 10, 8, efSearch = 64,
          tombstones = Some(mask)).toSeq)
    } finally { idx.unpersist(); snapped.unpersist() }
  }
}
