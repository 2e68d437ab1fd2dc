package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition navigable-small-world graph search — the contained
  * in-JVM analog of the reference's HNSW path
  * (/root/reference/utils_grid_search.py:634-686 build, :613-632
  * search, faiss `IndexHNSWFlat`/`efSearch`). SURVEY §7.3: graph
  * builds are sequential by nature, so the engine does NOT distribute
  * one graph; instead each partition builds a local graph over its
  * rows inside `mapPartitions` and searches the broadcast query batch
  * with a bounded beam (`efSearch`); per-partition partial top-k
  * results merge through the same TopKSmallest aggregate as every
  * other k-NN path.
  *
  * Knobs map 1:1 to the reference grid (params_config.yaml:11-15):
  * M (max neighbors per node), efConstruction (build beam),
  * efSearch (query beam — the recall↔QPS dial).
  *
  * At 100 TB: partitions are IVF cells or range buckets; each holds an
  * independently built graph (embarrassingly parallel build — the
  * reference's 54s single-threaded build becomes per-cell minutes
  * fanned across executors), and a query fans to all (or, layered
  * under AnnIvf, only probed) cells.
  */
object NswGraph {

  /** Primitive binary heap over (dist, idx) pairs, lexicographic
    * (dist, then idx) order — the boxed `PriorityQueue[(Double, Int)]`
    * it replaces allocated a tuple per visited node, which dominated
    * graph-build wall time at 5M-row scale. `max = true` keeps the
    * LARGEST pair on top (the bounded result set), `max = false` the
    * smallest (the candidate frontier). The polarity test sits outside
    * the sift loops and the backing arrays are read through locals:
    * the C1 JIT hoists neither on its own. */
  private[graft] final class PairHeap(cap0: Int, max: Boolean) {
    private var ds = new Array[Double](math.max(cap0, 8))
    private var is = new Array[Int](ds.length)
    var size = 0
    def headDist: Double = ds(0)
    def headIdx: Int = is(0)
    def push(d: Double, i: Int): Unit = {
      if (size == ds.length) {
        ds = java.util.Arrays.copyOf(ds, size * 2)
        is = java.util.Arrays.copyOf(is, size * 2)
      }
      val dv = ds; val iv = is
      var c = size; size += 1
      var p = (c - 1) >> 1
      // sift up while (d, i) belongs above its parent
      if (max)
        while (c > 0 && (d > dv(p) || (d == dv(p) && i > iv(p)))) {
          dv(c) = dv(p); iv(c) = iv(p); c = p; p = (c - 1) >> 1
        }
      else
        while (c > 0 && (d < dv(p) || (d == dv(p) && i < iv(p)))) {
          dv(c) = dv(p); iv(c) = iv(p); c = p; p = (c - 1) >> 1
        }
      dv(c) = d; iv(c) = i
    }
    def pop(): Unit = {
      size -= 1
      val dv = ds; val iv = is; val n = size
      val d = dv(n); val i = iv(n)
      var c = 0
      var done = false
      // sift the last pair down from the root: each step moves up the
      // child that belongs above both it and (d, i), if any
      if (max)
        while (!done) {
          val l = 2 * c + 1; val r = l + 1
          var b = c; var bd = d; var bi = i
          if (l < n && (dv(l) > bd || (dv(l) == bd && iv(l) > bi))) {
            b = l; bd = dv(l); bi = iv(l)
          }
          if (r < n && (dv(r) > bd || (dv(r) == bd && iv(r) > bi))) {
            b = r; bd = dv(r); bi = iv(r)
          }
          if (b == c) done = true
          else { dv(c) = bd; iv(c) = bi; c = b }
        }
      else
        while (!done) {
          val l = 2 * c + 1; val r = l + 1
          var b = c; var bd = d; var bi = i
          if (l < n && (dv(l) < bd || (dv(l) == bd && iv(l) < bi))) {
            b = l; bd = dv(l); bi = iv(l)
          }
          if (r < n && (dv(r) < bd || (dv(r) == bd && iv(r) < bi))) {
            b = r; bd = dv(r); bi = iv(r)
          }
          if (b == c) done = true
          else { dv(c) = bd; iv(c) = bi; c = b }
        }
      dv(c) = d; iv(c) = i
    }
    /** Reset for reuse across beam calls — keeps the backing arrays. */
    def clear(): Unit = size = 0
    /** Drain into an ascending-(dist, idx) array; heap becomes empty. */
    def drainSortedAsc(): Array[(Double, Int)] = {
      require(max, "drainSortedAsc is for the max-heap result set")
      val out = new Array[(Double, Int)](size)
      var k = size - 1
      while (size > 0) { out(k) = (headDist, headIdx); pop(); k -= 1 }
      out
    }
  }

  /** Per-cell view over `Knn.distBoundedSlices` (the single source of
    * truth for accumulation order): the metric string resolves ONCE to
    * the int code (the previous per-call string match was a measurable
    * slice of graph-build time), and — when `flatten` is set and the
    * cell is uniform-dim and small enough to index with Ints — the
    * rows are copied once into one contiguous float array so random
    * node access stays cache-local, on BOTH sides of node-to-node
    * distances. Callers gate `flatten`: it pays when many distance
    * evaluations amortize the O(n·dim) copy (graph builds, large query
    * batches), and is pure overhead for a one-off serve. The bound
    * contract is distBoundedSlices': a return <= bound is exact; a
    * return > bound only promises the exact distance is also >
    * bound. */
  private[graft] final class CellKernel(metric: String,
      vecs: Array[Array[Float]], flatten: Boolean = true) {
    def row(i: Int): Array[Float] = vecs(i)
    def size: Int = vecs.length
    private[this] val mcode = Knn.metricCode(metric)
    private[this] val dim = if (vecs.isEmpty) 0 else vecs(0).length
    // null for a ragged/oversize cell or a one-off serve: per-row rows
    private[this] val flat: Array[Float] =
      if (flatten) Knn.flattenUniform(vecs) else null
    def dist(i: Int, q: Array[Float]): Double =
      distUpTo(i, q, Double.PositiveInfinity)
    def distUpTo(i: Int, q: Array[Float], bound: Double): Double =
      if (flat != null) Knn.distBoundedFlat(mcode, flat, i * dim, dim, q, bound)
      else Knn.distBounded(mcode, vecs(i), q, bound)
    def distNodes(i: Int, j: Int, bound: Double): Double =
      if (flat != null)
        Knn.distBoundedSlices(mcode, flat, i * dim, dim,
          flat, j * dim, dim, bound)
      else Knn.distBounded(mcode, vecs(i), vecs(j), bound)
  }

  /** Greedy beam search over a primitive adjacency table (`adj(c)` row,
    * first `deg(c)` entries live). Returns up to ef nearest (dist, idx)
    * pairs ascending, deterministic (dist, idx) tie-break. Distances to
    * non-accepted nodes early-abandon against the current ef-th best —
    * exact, because a partial sum already > headDist can only reject,
    * regardless of the idx tie-break (which needs d == headDist). */
  private[graft] def beamSearch(kern: CellKernel, adj: Array[Array[Int]],
      deg: Array[Int], entry: Int, target: Array[Float],
      ef: Int): Array[(Double, Int)] = {
    val visited = new java.util.BitSet(adj.length)
    // candidates: nearest-first; results: farthest-first (bounded ef)
    val candidates = new PairHeap(ef + 1, max = false)
    val results = new PairHeap(ef + 1, max = true)
    val d0 = kern.dist(entry, target)
    candidates.push(d0, entry); results.push(d0, entry)
    visited.set(entry)
    var exhausted = false
    while (!exhausted && candidates.size > 0) {
      val cd = candidates.headDist; val c = candidates.headIdx
      candidates.pop()
      if (cd > results.headDist && results.size >= ef) {
        exhausted = true
      } else {
        val nbs = adj(c); val dg = deg(c)
        var j = 0
        while (j < dg) {
          val nb = nbs(j)
          if (!visited.get(nb)) {
            visited.set(nb)
            val full = results.size >= ef
            val d = kern.distUpTo(nb, target,
              if (full) results.headDist else Double.PositiveInfinity)
            if (!full || d < results.headDist ||
              (d == results.headDist && nb < results.headIdx)) {
              candidates.push(d, nb)
              results.push(d, nb)
              if (results.size > ef) results.pop()
            }
          }
          j += 1
        }
      }
    }
    results.drainSortedAsc()
  }

  /** Diverse-neighbor selection — the published HNSW heuristic
    * (Malkov & Yashunin 2018, Algorithm 4, keepPrunedConnections):
    * walk the candidates nearest-first and keep one iff it is closer
    * to the new node than to every already-kept neighbor (so kept
    * edges span DIFFERENT directions instead of one tight cluster),
    * then fill any remaining slots with the nearest rejects. The
    * nearest candidate is always kept, so every insert still links
    * into the existing component. Deterministic given the ascending
    * (dist, idx) candidate order. */
  private def selectNeighbors(kern: CellKernel,
      cands: Array[(Double, Int)], m: Int): Array[(Double, Int)] = {
    val selected = new mutable.ArrayBuffer[(Double, Int)](m)
    val rejected = new mutable.ArrayBuffer[(Double, Int)]()
    var i = 0
    while (i < cands.length && selected.length < m) {
      val (d, c) = cands(i)
      var ok = true
      var s = 0
      while (ok && s < selected.length) {
        // bounded at d: an abandon means dist > d, which is exactly
        // "not closer than the new node", so the decision is exact
        if (kern.distNodes(c, selected(s)._2, d) < d)
          ok = false
        s += 1
      }
      if (ok) selected += ((d, c)) else rejected += ((d, c))
      i += 1
    }
    var r = 0
    while (selected.length < m && r < rejected.length) {
      selected += rejected(r); r += 1
    }
    selected.toArray
  }

  /** Build a single-layer NSW graph: sequential greedy insert, each
    * node bidirectionally linked to up to M heuristic-selected
    * neighbors from its efConstruction beam. Overflowing neighbor
    * lists are diversity-re-selected (same heuristic) down to 2M —
    * but only once the list reaches a 3M high-watermark, which
    * amortizes the O(deg^2)-distance re-selection over M appends
    * instead of paying it per back-edge (stack-sampling showed the
    * per-back-edge reprune at 62% of build wall time, dwarfing the
    * beam searches). Edge distances are carried alongside the
    * adjacency (every metric here is symmetric, so the insert beam's
    * (dist, id) pairs are exactly the back-edge distances too), so a
    * reprune never recomputes node-to-neighbor distances. */
  private[graft] def build(kern: CellKernel, m: Int,
      efConstruction: Int): Array[Array[Int]] = {
    val n = kern.size
    // fixed-capacity primitive rows: a node holds at most 3m
    // neighbors, +1 transient slot between the append and the prune
    val cap = 3 * m + 1
    val adj = Array.ofDim[Int](n, cap)
    val adjD = Array.ofDim[Double](n, cap)
    val deg = new Array[Int](n)
    var i = 1
    while (i < n) {
      val cands = beamSearch(kern, adj, deg, 0, kern.row(i),
        math.max(m, efConstruction))
      val near = selectNeighbors(kern, cands, m)
      near.foreach { case (d, nb) =>
        adj(i)(deg(i)) = nb; adjD(i)(deg(i)) = d; deg(i) += 1
        adj(nb)(deg(nb)) = i; adjD(nb)(deg(nb)) = d; deg(nb) += 1
        if (deg(nb) > 3 * m) {
          val withD = new Array[(Double, Int)](deg(nb))
          var t = 0
          while (t < deg(nb)) {
            withD(t) = (adjD(nb)(t), adj(nb)(t)); t += 1
          }
          val kept = selectNeighbors(kern, withD.sorted, 2 * m)
          deg(nb) = kept.length
          t = 0
          while (t < kept.length) {
            adj(nb)(t) = kept(t)._2; adjD(nb)(t) = kept(t)._1; t += 1
          }
        }
      }
      i += 1
    }
    Array.tabulate(n)(x => java.util.Arrays.copyOf(adj(x), deg(x)))
  }

  /** A materialized per-cell graph: the engine's persistable index
    * artifact (the relational form of the reference's saved HNSW
    * index). One row per IVF cell — ids, vectors, and adjacency lists
    * travel together, so a probe reads exactly its cells' rows
    * (partition pruning when written `partitionBy("cid")`). */
  case class CellGraph(cid: Int, ids: Array[Long],
      vecs: Array[Array[Float]], adj: Array[Array[Int]])

  /** Build the per-cell graphs ONCE (embarrassingly parallel across
    * cells); search many query batches against the result. */
  def buildIndex(indexed: DataFrame, m: Int = 8, efConstruction: Int = 64,
      metric: String = "sqeuclidean",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.Dataset[CellGraph] = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val (mm, efc, met) = (m, efConstruction, metric)
    indexed
      .select(col(idCol).cast("long"), col(vecCol), col("cid"))
      .as[(Long, Array[Float], Int)]
      .repartition(col("cid"))
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.map { case (cid, cellRows0) =>
          // id-sorted insert order: the graph for a cell is a pure
          // function of its row SET, independent of partition layout
          // or shuffle arrival order
          val cellRows = cellRows0.sortBy(_._1)
          val vecs = cellRows.map(_._2)
          CellGraph(cid, cellRows.map(_._1), vecs,
            build(new CellKernel(met, vecs), mm, efc))
        }
      }
  }

  /** Persist / reload the graph index. One parquet partition directory
    * per cell, so `searchIndex` over a reloaded index prunes unprobed
    * cells at the file level — build offline once, serve online. */
  def writeGraphIndex(graphs: org.apache.spark.sql.Dataset[CellGraph],
      path: String): Unit =
    graphs.write.mode("overwrite").partitionBy("cid").parquet(path)

  def readGraphIndex(spark: SparkSession,
      path: String): org.apache.spark.sql.Dataset[CellGraph] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("cid").cast("int"), col("ids"), col("vecs"), col("adj"))
      .as[CellGraph]
  }

  /** Per-query probe lists for a graph-index search: (qid, vector,
    * probed cell ids). Collected once and broadcast — shareable across
    * every (m, efSearch) combination that probes the same centroids at
    * the same nprobe (the grid sweep re-searches the same probes per
    * level). */
  def probeQueries(centroids: DataFrame, queries: DataFrame, nprobe: Int,
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      twoLevel: Option[AnnIvf.TwoLevelProbe] = None): Array[(Long, Array[Float], Array[Int])] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val matrix = graft.operators.AnnIvf.collectCentroids(centroids)
    queries
      .select(col(qidCol).cast("long"), col(qvecCol),
        AnnIvf.probeCellsCol(col(qvecCol), matrix, nprobe, twoLevel))
      .as[(Long, Array[Float], Array[Int])].collect()
  }

  /** Beam-search a prebuilt graph index: each query visits only the
    * graphs of its nprobe probed cells, ~efSearch·M vectors per cell
    * instead of the whole cell. */
  def searchIndex(graphs: org.apache.spark.sql.Dataset[CellGraph],
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None,
      twoLevel: Option[AnnIvf.TwoLevelProbe] = None): DataFrame =
    searchIndexProbed(graphs,
      probeQueries(centroids, queries, nprobe, qidCol, qvecCol, twoLevel),
      k, efSearch, metric, tombstones)

  /** Fully distributed graph search for LARGE query tables — the NSW
    * analog of `AnnIvf.searchShuffledFast`: the probe relation
    * (qid, qvec, probed cell) comes from the narrow NearestCells
    * expression and shuffles by cell id into a cogroup with the
    * per-cell graphs; each cell's graph beam-searches its probing
    * queries in place. Nothing query-sized ever sits on the driver or
    * in a broadcast; only q x k partial rows merge.
    *
    * The graph side shuffles once per call (cogroup keys it by cid) —
    * right for one huge batch, where the index pass amortizes over
    * millions of queries. For a STREAM of modest batches against a
    * cached index prefer `searchIndex` (query tables past the collect
    * budget chunk through `Knn.chunkedByQuery`), which only filters
    * the graph Dataset. Bit-identical results (beam
    * search is per-query; pinned in NswSpec). */
  def searchIndexShuffled(graphs: org.apache.spark.sql.Dataset[CellGraph],
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None,
      twoLevel: Option[AnnIvf.TwoLevelProbe] = None): DataFrame = {
    val tomb: Array[Long] = tombstones.orNull
    val spark = graphs.sparkSession
    import spark.implicits._
    val matrix = AnnIvf.collectCentroids(centroids)
    val probes = queries
      .select(col(qidCol).cast("long"), col(qvecCol),
        explode(AnnIvf.probeCellsCol(col(qvecCol), matrix, nprobe,
          twoLevel)).as("_pcid"))
      .as[(Long, Array[Float], Int)]
      .groupByKey(_._3)
    val (efs, met, kk) = (math.max(k, efSearch), metric, k)
    val partials = graphs.groupByKey(_.cid).cogroup(probes) { (_, gIt, qIt) =>
      val qs = qIt.toArray
      if (qs.isEmpty) Iterator.empty
      else gIt.flatMap { g =>
        val kern = new CellKernel(met, g.vecs, flatten = qs.length >= 4)
        val deg = g.adj.map(_.length)
        qs.iterator.flatMap { case (qid, qv, _) =>
          beamSearch(kern, g.adj, deg, 0, qv, efs)
            .iterator
            // mask BEFORE the take: survivors from the ef-deep beam
            // fill the ranks a tombstoned id vacates (filter-at-serve,
            // same drain contract as the resident tier)
            .filter(r => tomb == null ||
              java.util.Arrays.binarySearch(tomb, g.ids(r._2)) < 0)
            .take(kk)
            .map { case (d, idx) => (qid, g.ids(idx), d) }
        }
      }
    }.toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, kk, col("_dist"), col("_nnid"), col("qid"))
  }

  /** `searchIndex` over precollected probe lists. */
  def searchIndexProbed(graphs: org.apache.spark.sql.Dataset[CellGraph],
      probed: Array[(Long, Array[Float], Array[Int])], k: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None): DataFrame = {
    val tomb: Array[Long] = tombstones.orNull
    val spark = graphs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(probed)
    val probedCells = probed.flatMap(_._3).toSet
    val (efs, met, kk) = (math.max(k, efSearch), metric, k)
    val partials = graphs
      .filter(col("cid").isin(probedCells.toSeq: _*))
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { g =>
          // flatten only when the batch's beam visits amortize the
          // O(n·dim) copy (a handful of queries per cell already does)
          val probing = qs.count(_._3.contains(g.cid))
          val kern = new CellKernel(met, g.vecs, flatten = probing >= 4)
          val deg = g.adj.map(_.length)
          qs.iterator
            .filter(_._3.contains(g.cid))
            .flatMap { case (qid, qv, _) =>
              beamSearch(kern, g.adj, deg, 0, qv, efs)
                .iterator
                // mask BEFORE the take — see searchIndexShuffled
                .filter(r => tomb == null ||
                  java.util.Arrays.binarySearch(tomb, g.ids(r._2)) < 0)
                .take(kk)
                .map { case (d, idx) => (qid, g.ids(idx), d) }
            }
        }
      }
      .toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, kk, col("_dist"), col("_nnid"), col("qid"))
  }

  /** DECODED-IN-RAM serving cell: the per-cell graph with every
    * decode already paid — vectors flattened contiguous, adjacency in
    * CSR form (`adjOff(i)..adjOff(i+1)` into `adjFlat`). `rows` is
    * the ragged/oversize fallback (`flat` null), never both. `half`
    * (r17) is the fp16-PACKED vector form (2 bytes/dim — the
    * reference's own stored precision) produced by
    * `localReplica(packFp16 = true)`; when set,
    * `flat`/`rows` are null and the beam kernel decodes per element
    * through `Knn.distBoundedHalf`'s LUT. */
  final case class ServableCell(cid: Int, ids: Array[Long], dim: Int,
      flat: Array[Float], rows: Array[Array[Float]],
      adjFlat: Array[Int], adjOff: Array[Int],
      half: Array[Short] = null)

  /** Build the RESIDENT serving index: decode each CellGraph once —
    * flatten vectors, CSR the adjacency — and persist the result as
    * DESERIALIZED JVM objects (`MEMORY_ONLY` on an object RDD).
    *
    * Why this tier exists: `Dataset[CellGraph].persist` caches
    * serialized InternalRows, so EVERY `searchIndex` call re-decodes
    * the whole index — at 5M×64 that is ~1.3 GB of float arrays
    * re-allocated per call, and it dominated serving wall-clock (the
    * beam itself touches only ~efSearch·M rows per probed cell). A
    * long-lived serving deployment holds the decoded index in memory
    * exactly like the reference's in-process HNSW; this RDD is that
    * shape, Spark-native: each executor pins its cells' decoded form,
    * searches run `mapPartitions` over them with zero per-call decode,
    * and the only data movement is the q×k partial merge.
    *
    * MEMORY GUARD (see `Resident.persistSized`): the decode runs once,
    * persisted `MEMORY_ONLY` by a job that also folds the decoded
    * footprint (vectors + CSR adjacency, `cellStats`) and checks it
    * against the free executor storage read before the build — fits →
    * the tier is returned built; doesn't → `MEMORY_AND_DISK` with a
    * loud warning (bounded disk re-reads instead of silent re-decode
    * on eviction). Pass `storage = Some(level)` to skip the pass. */
  def servableIndex(graphs: org.apache.spark.sql.Dataset[CellGraph],
      storage: Option[org.apache.spark.storage.StorageLevel] = None)
      : org.apache.spark.rdd.RDD[ServableCell] =
    Resident.persistSized(graphs.rdd.map(decodeCell), storage,
      "NswGraph.servableIndex")(cellStats)(t =>
      Resident.estimateGraphBytes(t.rows, t.dim, t.edges))

  /** One serving cell's share of the tier and replica guards: rows,
    * dim (the fallback rows' when wider), CSR edges, and its rows in
    * the flat fp32 or the packed fp16 form. */
  private[operators] def cellStats(c: ServableCell): Resident.TierStats = {
    val n = c.ids.length.toLong
    Resident.TierStats(n,
      c.dim.max(if (c.rows == null || c.rows.isEmpty) 0 else c.rows(0).length),
      c.adjOff(c.ids.length).toLong, if (c.flat != null) n else 0L,
      if (c.half != null) n else 0L, attrs = false)
  }

  /** Decode one CellGraph into its resident serving form — flatten
    * vectors, CSR the adjacency (the distributed resident tier,
    * `servableIndex`). */
  private[operators] def decodeCell(g: CellGraph): ServableCell = {
    val n = g.vecs.length
    val dim = if (n == 0) 0 else g.vecs(0).length
    val flat = Knn.flattenUniform(g.vecs)
    val adjOff = new Array[Int](n + 1)
    var i = 0
    while (i < n) { adjOff(i + 1) = adjOff(i) + g.adj(i).length; i += 1 }
    val adjFlat = new Array[Int](adjOff(n))
    i = 0
    while (i < n) {
      System.arraycopy(g.adj(i), 0, adjFlat, adjOff(i), g.adj(i).length)
      i += 1
    }
    ServableCell(g.cid, g.ids, dim, flat,
      if (flat != null) null else g.vecs, adjFlat, adjOff)
  }

  /** Beam search over a ServableCell — semantically IDENTICAL to
    * `beamSearch` (same visit order, same early abandon, same
    * (dist, idx) tie-break; pinned bit-for-bit in NswSpec), with the
    * per-call allocations hoisted to the serving loop: visited is an
    * epoch-stamped int array reused across queries (no BitSet per
    * beam), both heaps are reused (clear(), not reallocate), and
    * results drain straight into primitive arrays.
    *
    * MEMORY-LEVEL PARALLELISM: the kernel is DRAM-latency-bound at
    * executor scale (a 5M partition's decoded cells exceed the LLC;
    * measured 175 ns/eval cold vs 92 ns hot at nCells=32,
    * `BENCH_scale_r12.json`) —
    * so a node's expansion runs in TWO passes: pass 1 stamps the
    * unstamped neighbors into `nbuf` and TOUCHES one float per cache
    * line of each neighbor's row (independent loads — the core
    * overlaps all ~28 misses instead of serializing them behind each
    * distance loop); pass 2 evaluates distances in the SAME order.
    * On squared-L2 flat cells it takes the collected neighbors four at
    * a time through `Knn.sqDistBounded4` (four independent add chains
    * instead of one latency-bound chain) under the bound read at the
    * start of the group, then offers each lane in order to the live
    * heap with the single-pass acceptance test. The group bound is
    * never tighter than the live one, so an accepted distance is
    * exact and a lane past it is rejected by the live test too; the
    * remainder, and fp16/ragged/non-L2 cells, go one at a time with
    * the live bound. Accepted sets, heap states, and tie-breaks are
    * therefore exactly the single-pass ones. `nbuf` is caller scratch
    * ≥ the cell's max degree. */
  private[graft] def beamServable(cell: ServableCell, mcode: Int,
      target: Array[Float], ef: Int, stamps: Array[Int], epoch: Int,
      candidates: PairHeap, results: PairHeap,
      nbuf: Array[Int]): Unit = {
    candidates.clear(); results.clear()
    val flat = cell.flat
    val half = cell.half
    val dim = cell.dim
    def distTo(i: Int, bound: Double): Double =
      if (flat != null)
        Knn.distBoundedFlat(mcode, flat, i * dim, dim, target, bound)
      else if (half != null)
        Knn.distBoundedHalf(mcode, half, i * dim, dim, target, bound)
      else Knn.distBounded(mcode, cell.rows(i), target, bound)
    // accept `nb` at `d` (exact whenever it is within the bound it was
    // computed under, which is never tighter than the live one)
    def offer(d: Double, nb: Int): Unit =
      if (results.size < ef || d < results.headDist ||
        (d == results.headDist && nb < results.headIdx)) {
        candidates.push(d, nb)
        results.push(d, nb)
        if (results.size > ef) results.pop()
      }
    val lanes = if (flat != null && mcode == 0) new Array[Double](4) else null
    val qn = math.min(dim, target.length)
    val d0 = distTo(0, Double.PositiveInfinity) // entry node = 0
    candidates.push(d0, 0); results.push(d0, 0)
    stamps(0) = epoch
    var sink = 0f // keeps the prefetch loads observable to the JIT
    var exhausted = false
    while (!exhausted && candidates.size > 0) {
      val cd = candidates.headDist; val c = candidates.headIdx
      candidates.pop()
      if (cd > results.headDist && results.size >= ef) {
        exhausted = true
      } else {
        // pass 1: stamp + collect + start the row fetches
        var j = cell.adjOff(c); val end = cell.adjOff(c + 1)
        var bn = 0
        while (j < end) {
          val nb = cell.adjFlat(j)
          if (stamps(nb) != epoch) {
            stamps(nb) = epoch
            nbuf(bn) = nb; bn += 1
            if (flat != null) {
              val base = nb * dim
              var t = 0
              while (t < dim) { sink += flat(base + t); t += 16 }
            } else if (half != null) {
              // packed rows are 2 bytes/dim — one touch per 32 shorts
              // covers each cache line
              val base = nb * dim
              var t = 0
              while (t < dim) { sink += half(base + t); t += 32 }
            }
          }
          j += 1
        }
        // pass 2: evaluate in the same order; squared-L2 flat rows
        // four at a time under the bound read at the start of the
        // group, then each lane re-tested, in order, against the live
        // heap
        var x = 0
        if (lanes != null)
          while (x + 4 <= bn) {
            val n0 = nbuf(x); val n1 = nbuf(x + 1)
            val n2 = nbuf(x + 2); val n3 = nbuf(x + 3)
            Knn.sqDistBounded4(flat, n0 * dim, n1 * dim, n2 * dim,
              n3 * dim, qn, target,
              if (results.size >= ef) results.headDist
              else Double.PositiveInfinity, lanes)
            offer(lanes(0), n0); offer(lanes(1), n1)
            offer(lanes(2), n2); offer(lanes(3), n3)
            x += 4
          }
        while (x < bn) {
          val nb = nbuf(x)
          offer(distTo(nb, if (results.size >= ef) results.headDist
            else Double.PositiveInfinity), nb)
          x += 1
        }
      }
    }
    if (sink == Float.MinValue) // never true; defeats dead-code elim
      throw new IllegalStateException("unreachable")
  }

  /** Drain a post-beam result heap into at most `kk` (neighbor id,
    * dist) pairs ascending (dist, in-cell idx) — THE single drain the
    * distributed partials AND the driver-local small-batch path share,
    * so their per-cell contributions are identical by construction
    * (not hand-kept copies): unmasked, trim the heap to kk then drain;
    * masked, drain the FULL ef-deep beam and filter BEFORE trimming so
    * surviving candidates fill the ranks a tombstoned id vacates
    * (filter-at-serve — see `searchServableProbed`). `scratchD`/
    * `scratchI` are caller scratch sized >= the heap's ef capacity;
    * the kept pairs land in `outIds`/`outDs` (same sizing). Returns
    * the kept count; the heap is empty afterwards. */
  private[graft] def drainBeamTopK(results: PairHeap, cellIds: Array[Long],
      kk: Int, tomb: Array[Long],
      scratchD: Array[Double], scratchI: Array[Int],
      outIds: Array[Long], outDs: Array[Double]): Int = {
    if (tomb == null) {
      // keep the kk smallest: pop the (size-kk) largest away, then
      // drain the rest ascending into the primitive pair
      var drop = results.size - kk
      while (drop > 0) { results.pop(); drop -= 1 }
      var r = results.size - 1
      val cnt = results.size
      while (results.size > 0) {
        scratchD(r) = results.headDist; scratchI(r) = results.headIdx
        results.pop(); r -= 1
      }
      var x = 0
      while (x < cnt) {
        outIds(x) = cellIds(scratchI(x)); outDs(x) = scratchD(x); x += 1
      }
      cnt
    } else {
      var r = results.size - 1
      val cnt = results.size
      while (results.size > 0) {
        scratchD(r) = results.headDist; scratchI(r) = results.headIdx
        results.pop(); r -= 1
      }
      var x = 0
      var kept = 0
      while (x < cnt && kept < kk) {
        val nid = cellIds(scratchI(x))
        if (java.util.Arrays.binarySearch(tomb, nid) < 0) {
          outIds(kept) = nid; outDs(kept) = scratchD(x); kept += 1
        }
        x += 1
      }
      kept
    }
  }

  /** DRIVER-LOCAL replica of the resident graph index — the
    * small-batch serving tier (round-13 verdict top item): every
    * serve entry that goes through a Spark job pays a measured ~0.5 s
    * fixed floor (probe job + merge stage + scheduling,
    * `BENCH_scale_r13.json`), which DOMINATES below ~10K queries/batch — at
    * the reference's own serving batch size (100 queries,
    * params_config.yaml:23) the job path manages ~200 qps against the
    * reference's in-process 21,890. The reference never pays that
    * floor because its index lives in the serving process; this
    * replica is the same shape, Spark-native at the edges: the
    * decoded `ServableCell`s are collected ONCE into the driver (or
    * any serving JVM — the struct is plain arrays, `Serializable`),
    * and `searchLocalQueries` runs the IDENTICAL beam kernel
    * (`beamServable`), the identical drain (`drainBeamTopK`) and the
    * identical top-k merge semantics (`TopKBuffer`, the TopKSmallest
    * aggregate's buffer class) in-process over a thread pool — zero
    * Spark jobs on the serve path, so the floor is gone and a
    * 100-query batch serves at the marginal per-query cost.
    *
    * Results are BIT-IDENTICAL to `searchServable` over the same
    * index (NswSpec pins full-row equality, masked and unmasked):
    * probe lists come from the same `CellProbe` the distributed
    * probe expression (`NearestCells`) wraps, distances from the same
    * `Knn.distBounded*` kernel, ties from the same (dist, id)
    * comparators.
    *
    * At cluster scale: ONE serving driver (or N stateless serving
    * JVMs, each holding a replica) answers the small-batch/low-latency
    * tier while huge offline batches keep the distributed
    * `searchServable`/`searchIndexShuffled` paths — the dispatch is
    * `searchServableAuto`. The replica's footprint equals the decoded
    * RDD's (~1.4 GiB at 5M×64, `BENCH_scale_r13.json`
    * resident_footprints.graph_tier), guarded against driver heap at
    * build time. */
  final class LocalReplica private[operators] (
      val cells: Array[ServableCell],
      val centroidMatrix: Array[Array[Float]]) extends Serializable {
    private[operators] val byCid: java.util.HashMap[Integer, ServableCell] = {
      val m = new java.util.HashMap[Integer, ServableCell](cells.length * 2)
      cells.foreach(c => m.put(c.cid, c))
      m
    }
    /** The centroid matrix flattened once per replica: a serve call's
      * probe reads it instead of copying C·dim floats per call. */
    @transient private lazy val centroidFlat: Array[Float] =
      Knn.flattenUniform(centroidMatrix)
    private[operators] def prober(nprobe: Int): graft.functions.CellProbe =
      new graft.functions.CellProbe(centroidMatrix, nprobe, centroidFlat)
    /** Largest cell size / degree — sizes per-thread beam scratch. */
    private[operators] val maxN: Int =
      if (cells.isEmpty) 0 else cells.iterator.map(_.ids.length).max
    private[operators] val maxDeg: Int = {
      var d = 0
      cells.foreach { c =>
        var i = 0
        while (i < c.ids.length) {
          val dg = c.adjOff(i + 1) - c.adjOff(i)
          if (dg > d) d = dg
          i += 1
        }
      }
      d
    }
  }

  /** Pack one serving cell's vectors to fp16 (2 bytes/dim,
    * round-to-nearest-even — `Fp16.toHalf`, the same codec the fp16
    * storage roundtrip queries pin against NumPy's `astype(float16)`).
    * Ragged cells (`flat` null — oversize/mixed-dim fallbacks) stay
    * fp32; already-packed cells pass through. */
  private[operators] def packCellFp16(c: ServableCell): ServableCell =
    if (c.flat == null) c
    else {
      val h = new Array[Short](c.flat.length)
      var i = 0
      while (i < h.length) {
        h(i) = graft.functions.Fp16.toHalf(c.flat(i)); i += 1
      }
      c.copy(flat = null, half = h)
    }

  /** Build the driver-local replica from the resident index, paid
    * once per index epoch (the same epoch-snapshot contract as
    * `servableIndex`: tombstones arrive per call via the serve-time
    * mask, appends/deletes need a rebuild). `Resident.collectReplica`
    * sizes every partition in one job, then fetches the partitions in
    * order in batches bounded by a share of
    * `spark.driver.maxResultSize` — one job at small sizes, while the
    * limit never sees the whole index (a 1.4 GiB replica builds under
    * the 1 GiB default). The heap guard refuses, before any collect,
    * a replica that would eat more than `maxHeapFraction` of the
    * driver's remaining heap (pass `force = true` for a deployment
    * that sized its serving driver deliberately) — the loud-failure
    * twin of the resident tier's storage check. */
  def localReplica(idx: org.apache.spark.rdd.RDD[ServableCell],
      centroids: DataFrame, maxHeapFraction: Double = 0.6,
      force: Boolean = false, packFp16: Boolean = false): LocalReplica = {
    // packed vectors take 2 bytes/dim instead of 4 (ids/adjacency
    // unchanged) — the guard budgets the form actually built. Only
    // FLAT cells pack (ragged/oversize cells stay fp32 — packCellFp16
    // passes them through), so the subtraction counts flat-cell rows,
    // not all rows; already-half cells are 2 bytes/dim whether or not
    // this build packs, so they subtract unconditionally.
    def est(t: Resident.TierStats, packs: Boolean): Long =
      Resident.estimateGraphBytes(t.rows, t.dim, t.edges) -
        2L * t.dim * (t.halfRows + (if (packs) t.flatRows else 0L))
    // packing per fetched batch: the fp32 form of a batch is
    // transient, so the build never holds both precisions of the
    // whole corpus
    val cells = Resident.collectReplica(idx, "localReplica",
      maxHeapFraction, force)(cellStats)(est(_, packFp16), est(_, false))(
      b => if (packFp16) b.map(packCellFp16) else b)
    new LocalReplica(cells, AnnIvf.collectCentroids(centroids))
  }

  /** Run `work` on `workers` shared-pool threads and await them all;
    * the first worker failure rethrows on the caller. The local
    * serving kernels (this object's and `AnnIvf.localCellCore`) share
    * it — per-query work is independent, so parallelism never changes
    * results. */
  private[operators] def runOnLocalPool(workers: Int)(work: () => Unit)
      : Unit = {
    // re-entrancy guard: a caller ALREADY on a pool thread (a serving
    // handler that nests a local search inside another) must not
    // enqueue-and-await — with every pool thread a waiting caller
    // that deadlocks. Run the work inline instead: serial, correct
    // (per-query results never depend on parallelism).
    if (workers <= 1 ||
        Thread.currentThread().getName.startsWith("graft-local-serve"))
      work()
    else {
      val latch = new java.util.concurrent.CountDownLatch(workers)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      (1 to workers).foreach { _ =>
        localServePool.execute(() =>
          try work()
          catch { case t: Throwable => err.compareAndSet(null, t) }
          finally latch.countDown())
      }
      latch.await()
      if (err.get() != null) throw err.get()
    }
  }

  /** Shared daemon pool for the local serving kernel — sized to the
    * host's cores; per-query work is independent, so parallelism
    * never changes results. */
  private lazy val localServePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors(),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-local-serve-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  /** THE small-batch hot path: serve precollected queries from the
    * local replica with ZERO Spark jobs — arrays in, ranked rows out.
    * `queries` is (qid, query vector); rows come back as
    * (qid, rank, neighbor_id, dist) grouped per query in input order,
    * ranks 1-based ascending (dist, id) — the same contract as every
    * k-NN DataFrame. A serving endpoint holds the replica and calls
    * this per request batch; the measured cost is the marginal
    * per-query work alone (probe ~C·dim flops + beams ~ef·M rows),
    * no job floor. Deterministic and batch-size independent: each
    * query's rows are a pure function of (replica, query, knobs,
    * mask). */
  def searchLocalQueries(rep: LocalReplica,
      queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None)
      : Array[(Long, Long, Long, Double)] =
    searchLocalKept(rep, queries, k, k, nprobe, efSearch, metric,
      tombstones, keep = null)

  /** The local serving core: each query's top-`kFetch` rows, then the
    * first `k` of them whose id passes `keep` (null keeps every row),
    * ranks renumbered 1..k — the mild over-fetch branch's
    * "top-k', filter, first k" (`Serving.serveFilteredLocalCore`)
    * runs here, per query, so the survivor filter shares the beam's
    * workers instead of a serial pass on the caller. Tuples are built
    * only for the kept rows.
    *
    * Workers take ONE query at a time from a shared counter (the
    * `AnnIvf.localCellCoreSlots` fan): probed cells range from a
    * handful to hundreds of rows, so fixed multi-query chunks would
    * leave one worker setting the batch latency. Probe lists
    * compute inside the worker loop too — the probe's C·dim argmin is
    * the dominant per-query cost at serving cell counts (measured ~2×
    * the np2/efS32 beam cost at 1024 cells). Each query's rows depend
    * only on the query, so which worker serves it never changes them;
    * a query's group may be empty (every beam drained nothing under
    * the mask, or no fetched row passed `keep`). */
  private[operators] def searchLocalKept(rep: LocalReplica,
      queries: Array[(Long, Array[Float])], kFetch: Int, k: Int,
      nprobe: Int, efSearch: Int, metric: String,
      tombstones: Option[Array[Long]], keep: Long => Boolean)
      : Array[(Long, Long, Long, Double)] = {
    val nQ = queries.length
    if (nQ == 0) return Array.empty
    val efs = math.max(kFetch, efSearch)
    val mcode = Knn.metricCode(metric)
    val tomb: Array[Long] = tombstones.orNull
    val prober = rep.prober(nprobe)
    val perQuery = new Array[Array[(Long, Long, Long, Double)]](nQ)
    // one worker per ~4 queries up to the core count: a 4-query batch
    // skips most of the pool wakeup cost
    val workers = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), (nQ + 3) / 4))
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    def runWorker(): Unit = {
      // per-worker scratch, reused across its queries (the job path's
      // per-partition hoisting, thread-local here)
      val stamps = new Array[Int](math.max(1, rep.maxN))
      val nbuf = new Array[Int](math.max(1, rep.maxDeg))
      var epoch = 0
      val candidates = new PairHeap(efs + 1, max = false)
      val results = new PairHeap(efs + 1, max = true)
      val scratchD = new Array[Double](efs)
      val scratchI = new Array[Int](efs)
      val keptIds = new Array[Long](efs)
      val keptDs = new Array[Double](efs)
      var qi = next.getAndIncrement()
      while (qi < nQ) {
        val (qid, qv) = queries(qi)
        val cids = prober(qv)
        val buf = new graft.functions.TopKBuffer(kFetch)
        var ci = 0
        while (ci < cids.length) {
          val cell = rep.byCid.get(cids(ci))
          if (cell != null && cell.ids.length > 0) {
            epoch += 1
            beamServable(cell, mcode, qv, efs, stamps, epoch,
              candidates, results, nbuf)
            val cnt = drainBeamTopK(results, cell.ids, kFetch, tomb,
              scratchD, scratchI, keptIds, keptDs)
            var x = 0
            while (x < cnt) { buf.insert(keptDs(x), keptIds(x)); x += 1 }
          }
          ci += 1
        }
        // ranked (dist, id)-ascending: the first k passing `keep` are
        // the window's re-rank over the survivors
        val ranked = buf.sorted
        val rows = new Array[(Long, Long, Long, Double)](
          math.min(k, ranked.length))
        var n = 0
        var r = 0
        while (r < ranked.length && n < rows.length) {
          val id = ranked(r)._2
          if (keep == null || keep(id)) {
            rows(n) = (qid, n + 1L, id, ranked(r)._1); n += 1
          }
          r += 1
        }
        perQuery(qi) = if (n == rows.length) rows else rows.take(n)
        qi = next.getAndIncrement()
      }
    }
    runOnLocalPool(workers)(runWorker _)
    val out = Array.newBuilder[(Long, Long, Long, Double)]
    out.sizeHint(nQ * k)
    perQuery.foreach(out ++= _)
    out.result()
  }

  /** `searchLocalQueries` behind the DataFrame contract — collects the
    * (small) query batch with one job, then serves entirely locally
    * and parallelizes the q×k result rows back. Same schema and
    * bit-identical rows to `searchServable` (NswSpec pin; the
    * `serve_small_batch` query puts it under the full DuckDB oracle).
    * The one remaining Spark cost is the query collect itself — a
    * latency-critical endpoint skips this wrapper and calls
    * `searchLocalQueries` on arrays. */
  def searchLocal(rep: LocalReplica, queries: DataFrame, k: Int,
      nprobe: Int, efSearch: Int = 64, metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])].collect()
    localResultDf(spark,
      searchLocalQueries(rep, qRows, k, nprobe, efSearch, metric,
        tombstones))
  }

  private def localResultDf(spark: SparkSession,
      rows: Array[(Long, Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      rows)).toDF("qid", "rank", "neighbor_id", "dist")
  }

  /** BATCH-SIZE-AWARE serving dispatch: batches at or below
    * `localBelow` serve from the driver-local replica (no job floor),
    * larger ones take the distributed resident path (whose floor
    * amortizes — the measured crossover sits near 10K queries on 32
    * local threads, `BENCH_scale_r13.json`
    * per_call_floor_decomposition; at cluster scale the distributed
    * path's higher parallelism moves it lower, so the default stays
    * conservative). The size check is one `limit(localBelow+1)`
    * collect — when it returns <= localBelow rows that WAS the whole
    * batch and those rows serve directly (nothing is scanned twice);
    * only genuinely large batches re-scan `queries` through the job
    * path. Results are identical either way (NswSpec pins the two
    * paths row-for-row), so the dispatch is invisible semantically —
    * for DETERMINISTIC query plans: a large batch evaluates `queries`
    * twice (the limit-probe, then the job path's scan), so a
    * non-deterministic query frame (rand()-derived qids, an
    * uncheckpointed shuffle under AQE) may not serve the rows the
    * probe saw — localCheckpoint such frames first. */
  def searchServableAuto(idx: org.apache.spark.rdd.RDD[ServableCell],
      replica: Option[LocalReplica], centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None,
      localBelow: Int = 8192): DataFrame = replica match {
    case None =>
      searchServable(idx, centroids, queries, k, nprobe, efSearch,
        metric, qidCol, qvecCol, tombstones)
    case Some(rep) =>
      val spark = queries.sparkSession
      import spark.implicits._
      val head = queries
        .select(col(qidCol).cast("long"), col(qvecCol))
        .limit(localBelow + 1)
        .as[(Long, Array[Float])].collect()
      if (head.length <= localBelow)
        localResultDf(spark,
          searchLocalQueries(rep, head, k, nprobe, efSearch, metric,
            tombstones))
      else
        searchServable(idx, centroids, queries, k, nprobe, efSearch,
          metric, qidCol, qvecCol, tombstones)
  }

  /** Serve a query batch from the resident index: probe lists are
    * collected + INVERTED driver-side (cell → probing query indices,
    * so a cell never scans the query batch), broadcast once, and each
    * partition beam-searches its decoded cells in place with reused
    * heaps/visit stamps. Results are bit-identical to `searchIndex`
    * over the same graphs (pinned in NswSpec); only the constant
    * factors differ — no per-call index decode, no per-beam
    * allocation. The merge is the same q×k `topKFrom` as every k-NN
    * path.
    *
    * BATCH SIZE IS THE THROUGHPUT DIAL (5M×64,
    * BENCH_scale_r13.json): every call pays a ~0.5 s fixed floor on a
    * 32-thread local session (the probe job, the merge stage, task
    * scheduling) plus ~26 µs/query marginal — a 10K-query batch is
    * floor-DOMINATED (~12–15K qps) while a 100K-query batch amortizes
    * it (31.7K qps measured at np2/efS32, recall 0.9205). Serve
    * batches as large as latency budgets allow; per-query results are
    * batch-independent by construction (KnnSpec pin), so batching is
    * free semantically. */
  def searchServable(idx: org.apache.spark.rdd.RDD[ServableCell],
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None): DataFrame =
    searchServableProbed(idx,
      probeQueries(centroids, queries, nprobe, qidCol, qvecCol),
      k, efSearch, metric, tombstones)

  /** `searchServable` over precollected probe lists.
    *
    * `tombstones` (sorted ids — `AnnIvf.tombstoneIds`) is the
    * serve-time deletion mask for this epoch snapshot of the decoded
    * graph: the BEAM still walks tombstoned nodes (they are routing
    * structure — excising them would change connectivity and recall
    * until a rebuild), but masked ids are dropped from each beam's
    * RESULT drain before the per-cell top-k, so no tombstoned id is
    * ever returned — filter-at-serve, the reference's own delete
    * semantics (utils_grid_search.py:999-1002 filters ids at serve
    * time over an unchanged index). The drain filters BEFORE trimming
    * to k, so surviving candidates from the full ef-deep beam fill
    * the freed ranks (NswSpec pins: masked serve == unmasked serve
    * with the ids post-filtered, and == the unmasked ranking when no
    * masked id was in the beam). */
  def searchServableProbed(idx: org.apache.spark.rdd.RDD[ServableCell],
      probed: Array[(Long, Array[Float], Array[Int])], k: Int,
      efSearch: Int = 64, metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None): DataFrame =
    Knn.topKFrom(
      servablePartialsProbed(idx, probed, k, efSearch, metric, tombstones),
      k, col("_dist"), col("_nnid"), col("qid"))

  /** The per-cell partial results of `searchServableProbed` BEFORE the
    * q×k top-k merge. */
  private def servablePartialsProbed(
      idx: org.apache.spark.rdd.RDD[ServableCell],
      probed: Array[(Long, Array[Float], Array[Int])], k: Int,
      efSearch: Int, metric: String,
      tombstones: Option[Array[Long]]): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val qids = probed.map(_._1)
    val qvecs = probed.map(_._2)
    val inv: Map[Int, Array[Int]] = probed.iterator.zipWithIndex
      .flatMap { case ((_, _, cells), qi) => cells.iterator.map(_ -> qi) }
      .toArray.groupBy(_._1).map { case (c, qs) => c -> qs.map(_._2) }
    val bcQ = spark.sparkContext.broadcast((qids, qvecs, inv))
    val (efs, mcode, kk) =
      (math.max(k, efSearch), Knn.metricCode(metric), k)
    // sorted serve-time deletion mask (small by the tombstone
    // contract) — rides the task closure, binary-searched per result
    val tomb: Array[Long] = tombstones.orNull
    val partials = idx.mapPartitions { it =>
      val (ids, vecs, byCell) = bcQ.value
      // per-partition scratch, reused across every cell and query
      var stamps = new Array[Int](0)
      var nbuf = new Array[Int](64)
      var epoch = 0
      val candidates = new PairHeap(efs + 1, max = false)
      val results = new PairHeap(efs + 1, max = true)
      val outD = new Array[Double](efs)
      val outI = new Array[Int](efs)
      val keptIds = new Array[Long](efs)
      val keptDs = new Array[Double](efs)
      it.flatMap { cell =>
        val probing = byCell.getOrElse(cell.cid, null)
        val n = cell.ids.length
        if (probing == null || n == 0) Iterator.empty
        else {
          if (stamps.length < n) { stamps = new Array[Int](n); epoch = 0 }
          var maxDeg = 0
          var di = 0
          while (di < n) {
            val dg = cell.adjOff(di + 1) - cell.adjOff(di)
            if (dg > maxDeg) maxDeg = dg
            di += 1
          }
          if (nbuf.length < maxDeg) nbuf = new Array[Int](maxDeg)
          val out = new Array[(Long, Long, Double)](probing.length * kk)
          var written = 0
          var p = 0
          while (p < probing.length) {
            val qi = probing(p)
            epoch += 1
            beamServable(cell, mcode, vecs(qi), efs, stamps, epoch,
              candidates, results, nbuf)
            val cnt = drainBeamTopK(results, cell.ids, kk, tomb,
              outD, outI, keptIds, keptDs)
            var x = 0
            while (x < cnt) {
              out(written) = (ids(qi), keptIds(x), keptDs(x))
              written += 1; x += 1
            }
            p += 1
          }
          if (written == out.length) out.iterator
          else out.iterator.take(written)
        }
      }
    }.toDF("qid", "_nnid", "_dist")
    partials
  }

  /** Approximate top-k for every query. Output (qid, rank,
    * neighbor_id, dist); recall rises with efSearch. */
  def search(data: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, efConstruction: Int = 64, efSearch: Int = 32,
      metric: String = "sqeuclidean",
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding"): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol)).as[(Long, Array[Float])]
      .collect()
    val bc = spark.sparkContext.broadcast(qRows)
    val ef = math.max(k, efSearch)
    val (mm, efc, met) = (m, efConstruction, metric)
    val partials = data
      .select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val ids = rows.map(_._1)
          val vecs = rows.map(_._2)
          val kern = new CellKernel(met, vecs)
          val adj = build(kern, mm, efc)
          val deg = adj.map(_.length)
          val qs = bc.value
          qs.iterator.flatMap { case (qid, qv) =>
            beamSearch(kern, adj, deg, 0, qv, ef)
              .take(k)
              .map { case (d, idx) => (qid, ids(idx), d) }
          }
        }
      }
      .toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, k, col("_dist"), col("_nnid"), col("qid"))
  }
}
