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
      val chunked = tuples(NswGraph.searchIndexChunked(graphs, centroids,
        queries, 10, nprobe = 4, efSearch = 64, maxQueriesPerChunk = sz))
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

  test("graph append path: touched cells bit-equal a full rebuild, " +
      "untouched cells never rewritten") {
    import spark.implicits._
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val first = data.filter($"vec_id" % 3 =!= 0)
    val second = data.filter($"vec_id" % 3 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_gappend").toString
    NswGraph.writeGraphIndex(
      NswGraph.buildIndex(graft.operators.AnnIvf.index(first, centroids),
        m = 8, efConstruction = 32), s"$tmp/idx")
    // fingerprint the on-disk cell directories before the append
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$tmp/idx").listFiles()
        .filter(_.getName.startsWith("cid="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet)
        .toMap
    val before = cellFiles()
    val touched = graft.operators.AnnIvf.assign(second, centroids)
      .select("cid").distinct().collect().map(r => s"cid=${r.getInt(0)}").toSet
    NswGraph.appendToGraphIndex(second, centroids, s"$tmp/idx",
      m = 8, efConstruction = 32)
    val after = cellFiles()
    // untouched cell dirs carry exactly their old files
    (before.keySet -- touched).foreach { c =>
      assert(after(c) == before(c), s"untouched $c was rewritten")
    }
    // id-sorted deterministic builds make the appended index
    // BIT-IDENTICAL to one built over the full corpus in one shot
    def canon(g: org.apache.spark.sql.Dataset[NswGraph.CellGraph]) =
      g.collect().sortBy(_.cid).map(cg => (cg.cid, cg.ids.toSeq,
        cg.vecs.map(_.toSeq).toSeq, cg.adj.map(_.sorted.toSeq).toSeq)).toSeq
    val appended = canon(NswGraph.readGraphIndex(spark, s"$tmp/idx"))
    val rebuilt = canon(NswGraph.buildIndex(
      graft.operators.AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32))
    assert(appended == rebuilt && appended.nonEmpty)
  }

  test("incremental local-replica refresh: only touched cells are " +
      "re-read, untouched decoded arrays are shared, and the result " +
      "is bit-identical to a fresh replica (double-buffered)") {
    import spark.implicits._
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val first = data.filter($"vec_id" % 3 =!= 0)
    val second = data.filter($"vec_id" % 3 === 0)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_grefresh").toString
    NswGraph.writeGraphIndex(
      NswGraph.buildIndex(graft.operators.AnnIvf.index(first, centroids),
        m = 8, efConstruction = 32), s"$tmp/idx")
    def replicaFromPath(): NswGraph.LocalReplica = {
      val idx = NswGraph.servableIndex(
        NswGraph.readGraphIndex(spark, s"$tmp/idx"))
      try NswGraph.localReplica(idx, centroids) finally idx.unpersist()
    }
    val old = replicaFromPath()
    val touched = NswGraph.appendToGraphIndex(second, centroids,
      s"$tmp/idx", m = 8, efConstruction = 32)
    assert(touched.nonEmpty)
    val refreshed =
      NswGraph.refreshLocalReplica(spark, s"$tmp/idx", old, touched)
    val fresh = replicaFromPath()
    def canon(r: NswGraph.LocalReplica) =
      r.cells.sortBy(_.cid).map(c => (c.cid, c.ids.toSeq,
        (if (c.flat != null) c.flat.toSeq
         else c.rows.flatten[Float].toSeq),
        c.adjFlat.toSeq, c.adjOff.toSeq)).toSeq
    assert(canon(refreshed) == canon(fresh) && refreshed.cells.nonEmpty)
    // untouched cells SHARE the old replica's decoded arrays — the
    // refresh never re-read or re-decoded them (reference identity)
    val touchedSet = touched.toSet
    val untouched = refreshed.cells.filterNot(c =>
      touchedSet.contains(c.cid))
    untouched.foreach(c => assert(old.cells.exists(_ eq c)))
    // double-buffered: the OLD replica still serves the pre-append
    // row set untouched
    val qArr = queries.select($"qid".cast("long"), $"q_embedding")
      .as[(Long, Array[Float])].collect().take(20)
    val secondIds = second.select($"vec_id").as[Long].collect().toSet
    val oldServed = NswGraph.searchLocalQueries(old, qArr, 5,
      nprobe = 8, efSearch = 64).map(_._3).toSet
    assert(oldServed.nonEmpty && oldServed.intersect(secondIds).isEmpty)
    // the refreshed replica serves row-identically to the fresh one
    val a = NswGraph.searchLocalQueries(refreshed, qArr, 5, nprobe = 8,
      efSearch = 64)
    val b = NswGraph.searchLocalQueries(fresh, qArr, 5, nprobe = 8,
      efSearch = 64)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
    assert(a.map(_._3).exists(secondIds.contains)) // appends served
    // a no-op refresh returns the same instance
    assert(NswGraph.refreshLocalReplica(spark, s"$tmp/idx", refreshed,
      Array.emptyIntArray) eq refreshed)
    // deletion that empties a whole cell: the refreshed replica drops
    // it (directory gone) and still bit-equals the fresh rebuild
    val doomed = refreshed.cells.minBy(c => (c.ids.length, c.cid))
    NswGraph.deleteFromGraphIndex(spark, s"$tmp/idx",
      doomed.ids.toSeq.toDF("vec_id"), m = 8, efConstruction = 32)
    val afterDel = NswGraph.refreshLocalReplica(spark, s"$tmp/idx",
      refreshed, Array(doomed.cid))
    assert(!afterDel.cells.exists(_.cid == doomed.cid))
    assert(canon(afterDel) == canon(replicaFromPath()))
    // the AUTO crossover entry: a small touch set refreshes (all but
    // the touched cell aliased from the input replica); forcing the
    // rebuild branch (rebuildFraction = 0) aliases NOTHING — the two
    // branches are bit-equal, only the sharing differs
    val someCid = afterDel.cells.head.cid
    val autoR = NswGraph.refreshLocalReplicaAuto(spark, s"$tmp/idx",
      afterDel, Array(someCid), centroids)
    assert(canon(autoR) == canon(afterDel))
    assert(autoR.cells.count(c => afterDel.cells.exists(_ eq c)) ==
      afterDel.cells.length - 1)
    val autoB = NswGraph.refreshLocalReplicaAuto(spark, s"$tmp/idx",
      afterDel, Array(someCid), centroids, rebuildFraction = 0.0)
    assert(canon(autoB) == canon(afterDel))
    assert(!autoB.cells.exists(c => afterDel.cells.exists(_ eq c)))
    assert(NswGraph.refreshLocalReplicaAuto(spark, s"$tmp/idx",
      afterDel, Array.emptyIntArray, centroids) eq afterDel)
    // a PACKED replica's refresh re-packs the fresh cells: never a
    // precision mix with the aliased untouched cells (r17)
    val packedDel = NswGraph.packReplicaFp16(afterDel)
    val packedRef = NswGraph.refreshLocalReplica(spark, s"$tmp/idx",
      packedDel, Array(someCid))
    assert(packedRef.cells.forall(c => c.half != null && c.flat == null))
    assert(NswGraph.searchLocalQueries(packedRef, qArr, 5, nprobe = 8,
      efSearch = 64).toSeq ==
      NswGraph.searchLocalQueries(
        NswGraph.packReplicaFp16(afterDel), qArr, 5, nprobe = 8,
        efSearch = 64).toSeq)
  }

  test("graph deletion: touched cells rebuild bit-equal, empties vanish") {
    import spark.implicits._
    val centroids = graft.operators.AnnIvf.train(data, 8, iterations = 2)
    val indexed = graft.operators.AnnIvf.index(data, centroids)
    val tmp = java.nio.file.Files.createTempDirectory("graft_gdel").toString
    NswGraph.writeGraphIndex(
      NswGraph.buildIndex(indexed, m = 8, efConstruction = 32),
      s"$tmp/gidx")
    // snapshot pre-deletion membership locally (lazy readers over the
    // path would see the post-delete listing)
    val pre = indexed.select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val emptyCell = pre.groupBy(_._2).toSeq
      .sortBy { case (cid, rows) => (rows.length, cid) }.head._1
    val delSet = (pre.filter(_._2 == emptyCell).map(_._1) ++
      pre.map(_._1).filter(_ % 13 == 1)).toSet
    val nDel = NswGraph.deleteFromGraphIndex(spark, s"$tmp/gidx",
      delSet.toSeq.toDF("vec_id"), m = 8, efConstruction = 32)
    assert(nDel == delSet.size)
    assert(!new java.io.File(s"$tmp/gidx/cid=$emptyCell").exists())
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the graph per cell is a pure function of its row set, so the
    // deleted layout must serve bit-identically to a full rebuild
    // over the survivors
    val served = tuples(NswGraph.searchIndex(
      NswGraph.readGraphIndex(spark, s"$tmp/gidx"), centroids, queries,
      10, nprobe = 4, efSearch = 64))
    val survivors = data.filter(!$"vec_id".isin(delSet.toSeq: _*))
    val rebuilt = tuples(NswGraph.searchIndex(
      NswGraph.buildIndex(graft.operators.AnnIvf.index(survivors,
        centroids), m = 8, efConstruction = 32),
      centroids, queries, 10, nprobe = 4, efSearch = 64))
    assert(served == rebuilt && served.nonEmpty)
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
      "fp16-exact vectors, vector bytes halved, streamed packed " +
      "build equal, packed refresh stays packed") {
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
      val packed = NswGraph.packReplicaFp16(rep)
      // exactly the vector share halves (ids/adjacency unchanged)
      val flatFloats = rep.cells.iterator
        .filter(_.flat != null).map(_.flat.length.toLong).sum
      assert(flatFloats > 0)
      assert(packed.approxBytes == rep.approxBytes - 2L * flatFloats)
      assert(packed.cells.forall(c => c.flat == null && c.half != null))
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
      // the streamed packed build produces the same packed serve
      val builtPacked = NswGraph.localReplica(idx, centroids,
        packFp16 = true)
      assert(builtPacked.cells.forall(_.half != null))
      assert(NswGraph.searchLocalQueries(builtPacked, qArr, 10, 8,
        efSearch = 64).toSeq == f16.toSeq)
      // an incremental refresh of a packed replica re-packs the
      // touched cells (never mixes precisions); empty touch = identity
      assert(NswGraph.refreshLocalReplica(spark, "/nonexistent",
        packed, Array.emptyIntArray) eq packed)
    } finally { idx.unpersist(); snapped.unpersist() }
  }

  test("fp16-packed PERSISTED graph layout (r18): packed tree stores " +
      "binary16 vecs and serves bit-identical on fp16-exact vectors; " +
      "packed append keeps the layout; refresh sniffs the schema and " +
      "decodes touched cells straight to packed, untouched cells " +
      "stay aliased") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val snapped = data.withColumn("embedding",
      transform(col("embedding"),
        x => (round(x * 64) / lit(64.0)).cast("float"))).cache()
    snapped.count()
    val centroids = graft.operators.AnnIvf.train(snapped, 8,
      iterations = 2)
    val qArr = queries.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft_gpk").toString
    // base/appendix split for the lifecycle half
    val base = snapped.filter(col("vec_id") % 5 =!= 3)
    val appendix = snapped.filter(col("vec_id") % 5 === 3)
    val graphsAll = NswGraph.buildIndex(
      graft.operators.AnnIvf.index(snapped, centroids),
      m = 8, efConstruction = 32)
    NswGraph.writeGraphIndex(graphsAll, s"$tmp/f32")
    NswGraph.writeGraphIndexPacked(graphsAll, s"$tmp/f16")
    // layout property (byte halving is measured at 5M in the round
    // profile — this fixture's snapped floats compress too well for
    // a raw size compare): vecs16 is array<binary>, 2 bytes/dim
    val packedSchema = spark.read.parquet(s"$tmp/f16").schema
    assert(packedSchema("vecs16").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.BinaryType, containsNull = true) ||
      packedSchema("vecs16").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.BinaryType, containsNull = false))
    val idx16 = NswGraph.servableIndexPacked(spark, s"$tmp/f16")
    val idx32 = NswGraph.servableIndex(
      NswGraph.readGraphIndex(spark, s"$tmp/f32"))
    idx16.count(); idx32.count()
    try {
      val rep16 = NswGraph.localReplica(idx16, centroids)
      assert(rep16.cells.forall(c => c.flat == null &&
        (c.half != null || c.rows != null)))
      val rep32 = NswGraph.localReplica(idx32, centroids)
      // packed-tree serve == fp32-tree serve (fp16-exact fixture)
      val f16 = NswGraph.searchLocalQueries(rep16, qArr, 10, 8,
        efSearch = 64)
      assert(f16.toSeq == NswGraph.searchLocalQueries(rep32, qArr, 10,
        8, efSearch = 64).toSeq && f16.nonEmpty)
      // LIFECYCLE on the packed layout: base tree -> packed append ->
      // schema-sniffed refresh; the refreshed replica must equal a
      // replica over the full packed tree, touched cells packed,
      // untouched cells aliased from the pre-append replica
      NswGraph.writeGraphIndexPacked(NswGraph.buildIndex(
        graft.operators.AnnIvf.index(base, centroids),
        m = 8, efConstruction = 32), s"$tmp/life")
      val idxBase = NswGraph.servableIndexPacked(spark, s"$tmp/life")
      idxBase.count()
      val repBase = NswGraph.localReplica(idxBase, centroids)
      idxBase.unpersist()
      val touched = NswGraph.appendToGraphIndexPacked(appendix,
        centroids, s"$tmp/life", m = 8, efConstruction = 32)
      assert(touched.nonEmpty)
      // the appended tree is still the packed schema
      assert(spark.read.parquet(s"$tmp/life").columns.contains("vecs16"))
      val refreshed = NswGraph.refreshLocalReplica(spark, s"$tmp/life",
        repBase, touched)
      // appended rows are served; rows equal the full-corpus packed
      // replica's (per-cell builds are id-sort deterministic, so the
      // appended tree == a fresh build over the union)
      val served = NswGraph.searchLocalQueries(refreshed, qArr, 10, 8,
        efSearch = 64)
      assert(served.toSeq == f16.toSeq)
      // untouched cells alias the pre-append replica's decoded arrays
      val touchedSet = touched.toSet
      refreshed.cells.filterNot(c => touchedSet.contains(c.cid))
        .foreach(c => assert(repBase.cells.exists(_ eq c)))
      // touched cells decoded packed (no fp32 mixed in)
      refreshed.cells.filter(c => touchedSet.contains(c.cid))
        .foreach(c => assert(c.flat == null))
    } finally { idx16.unpersist(); idx32.unpersist()
      snapped.unpersist() }
  }
}
