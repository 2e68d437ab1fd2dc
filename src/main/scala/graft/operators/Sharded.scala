package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** MULTI-SHARD local serving: K per-shard replicas answer every query
  * batch in parallel-by-shard, and per-query top-k results merge by
  * the engine's one (dist, id) total order — the operator the 20M
  * scale record's architecture claim rests on ("four 5M shards at np2
  * each beat one 20M replica at np8", BENCH_scale_r16.json
  * scale_20m.iso_recall_redial) and the reference's own corpus form:
  * it stores shards on disk and serves their concatenation
  * (utils_grid_search.py:342-420, the `np.vstack` merge at :412) —
  * except here the shards NEVER concatenate; each keeps its own
  * replica and only q×k result rows cross shard boundaries.
  *
  * Two shard models, same serve/merge code:
  *
  *  - SPLIT shards (`splitCellReplica`): one index's cells
  *    partitioned round-robin across K replicas that SHARE the
  *    centroid matrix. Every query probes the same global cell list
  *    in every shard and each shard scans only the probed cells it
  *    owns, so the union of per-shard work is EXACTLY the single
  *    replica's work and the merged result is ROW-IDENTICAL to the
  *    unsharded serve on both flat-tier dispatch branches (ShardedSpec
  *    pins both; `serve_sharded` puts the strong branch under the
  *    full DuckDB oracle). This is the
  *    split-one-serving-JVM-into-K form.
  *  - INDEPENDENT shards: K separately built indexes over disjoint
  *    corpus slices (each with its own centroids — the 100-TB
  *    deployment shape, one replica per data shard). Per-shard
  *    probing covers nprobe of EACH shard's cells, so at equal
  *    per-shard dials the probed corpus FRACTION — which governs
  *    recall (measured, BENCH_scale_r16 cells_experiment) — matches
  *    the small-corpus operating point instead of shrinking with
  *    corpus growth (BENCH_scale_r17.json scale_20m_sharded measures
  *    this against the single-20M-replica iso-recall row).
  *
  * Merge correctness: each shard returns its own exact-or-beam top-k
  * per query; the global top-k is a subset of the union of per-shard
  * top-k lists (any row it contains is within-shard top-k by
  * definition), so a k-way merge of K ranked lists loses nothing.
  * Ids are unique across shards (disjoint rows by both
  * constructions), so no dedup is needed. Merging uses the
  * `TopKBuffer` the kernels themselves rank with — equal (dist, id)
  * tie-breaks by shared code, not reimplementation.
  *
  * Slot alignment: every shard serves the SAME positional query
  * array, and the kernel's per-slot form (`localCellCoreSlots`)
  * keeps element i
  * = slot i even when a slot's rows are empty in some shard — so
  * duplicate qids and empty survivor sets can never shift the merge
  * (the flattened contract's rank-restart grouping could not
  * distinguish an absent group; the r14 duplicate-qid lesson applied
  * to the merge).
  *
  * SCALE NOTE: per-batch cross-shard traffic is q×k rows per shard —
  * independent of corpus size. A deployment runs one replica per
  * serving JVM and this merge on whichever node fans out the batch;
  * in-process here, the K replicas stand in for K JVMs (the serve
  * loop per shard is the same array kernel either way).
  */
object Sharded {

  type Rows = Array[(Long, Long, Long, Double)]

  /** Per-query-slot SHARED kth-best bounds for the flat-tier sharded
    * fan (r18, closing the measured 0.58–0.65× iso-work gap the r17
    * record attributed to "4 separate early-abandon bounds prune less
    * than one evolving bound"): each slot holds the best-known kth
    * distance ACROSS shards, monotonically tightening. The scan
    * kernels prune with `min(localHeapBound, shared)` — pruning with
    * a cross-shard bound is PURE: a row abandoned against it has true
    * distance strictly above some already-achieved kth-best, so it
    * can never enter the merged global top-k (ties at the bound are
    * never abandoned — `Knn.distBounded`'s strictly-greater
    * contract). Sequential fan: shard s+1 starts each query at shards
    * 1..s's kth-best. Parallel fan: the slots are atomics, tightened
    * as each shard's heap fills — whichever shard reaches k first
    * warms the others mid-scan. Rows identical either way
    * (ShardedSpec pins seeded == unseeded == unsharded).
    *
    * CAS-min on raw double bits: every tighten compares through
    * `Double.compare`, so the ordering is correct for the signed
    * dot/cosine distances too (bit-ordering alone would not be). */
  final class SlotBounds(n: Int) {
    private val bits = new java.util.concurrent.atomic.AtomicLongArray(n)
    private val posInf =
      java.lang.Double.doubleToRawLongBits(Double.PositiveInfinity)
    locally {
      var i = 0
      while (i < n) { bits.set(i, posInf); i += 1 }
    }
    def get(slot: Int): Double =
      java.lang.Double.longBitsToDouble(bits.get(slot))
    /** Lower `slot`'s bound to `d` if `d` is tighter (monotone min —
      * never loosens, so a stale read only under-prunes). */
    def tighten(slot: Int, d: Double): Unit = {
      var cur = bits.get(slot)
      while (java.lang.Double.longBitsToDouble(cur) > d &&
        !bits.compareAndSet(slot, cur,
          java.lang.Double.doubleToRawLongBits(d)))
        cur = bits.get(slot)
    }
  }

  /** Partition ONE flat replica's cells round-robin (cid-sorted
    * order) into `nShards` replicas sharing the centroid matrix. The
    * CSR arrays regroup per shard (one copy — the same one-time cost
    * class as the replica build's own regroup). */
  def splitCellReplica(rep: AnnIvf.LocalCellReplica, nShards: Int)
      : Seq[AnnIvf.LocalCellReplica] = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    // reverse byCid: position -> cid, then cid-sorted round-robin
    val cidOf = new Array[Int](rep.nCells)
    val it = rep.byCid.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      cidOf(e.getValue) = e.getKey
    }
    val bySortedCid = Array.range(0, rep.nCells).sortBy(cidOf(_))
    (0 until nShards).map { s =>
      val cells = bySortedCid.zipWithIndex.collect {
        case (c, i) if i % nShards == s => c }
      val byCid = new java.util.HashMap[Integer, Integer](cells.length * 2)
      val cellOff = new Array[Int](cells.length + 1)
      var i = 0
      while (i < cells.length) {
        byCid.put(cidOf(cells(i)), i)
        cellOff(i + 1) = cellOff(i) +
          (rep.cellOff(cells(i) + 1) - rep.cellOff(cells(i)))
        i += 1
      }
      val n = cellOff(cells.length)
      val ids = new Array[Long](n)
      val attrs = if (rep.attrs == null) null else new Array[Double](n)
      val flat =
        if (rep.flat == null) null else new Array[Float](n * rep.dim)
      val half =
        if (rep.half == null) null else new Array[Short](n * rep.dim)
      val rows =
        if (rep.rows == null) null else new Array[Array[Float]](n)
      i = 0
      while (i < cells.length) {
        val from = rep.cellOff(cells(i))
        val len = rep.cellOff(cells(i) + 1) - from
        val at = cellOff(i)
        System.arraycopy(rep.ids, from, ids, at, len)
        if (attrs != null) System.arraycopy(rep.attrs, from, attrs, at, len)
        if (flat != null) System.arraycopy(rep.flat, from * rep.dim,
          flat, at * rep.dim, len * rep.dim)
        if (half != null) System.arraycopy(rep.half, from * rep.dim,
          half, at * rep.dim, len * rep.dim)
        if (rows != null) System.arraycopy(rep.rows, from, rows, at, len)
        i += 1
      }
      new AnnIvf.LocalCellReplica(byCid, cellOff, ids, attrs, rep.dim,
        flat, rows, rep.centroidMatrix, half)
    }
  }

  /** Whether two shard replicas share one coarse quantizer — the
    * split-vs-independent geometry test behind the cost boundary's
    * `probedPerQuery`. Instance equality first (the in-process split
    * constructions alias the matrix — free), then CONTENT equality
    * (r17 ADVICE: split shards that lost instance sharing, e.g.
    * through a `LocalCellReplica` serialization round-trip, were
    * misclassified as independent, inflating probedPerQuery K-fold
    * and shifting the exact/pre-filter boundary). The full compare is
    * O(cells × dim) floats — trivial once per serve call next to the
    * scan itself. */
  private[operators] def sameQuantizer(a: Array[Array[Float]],
      b: Array[Array[Float]]): Boolean =
    (a eq b) || (a.length == b.length && {
      var i = 0
      var same = true
      while (same && i < a.length) {
        same = (a(i) eq b(i)) || java.util.Arrays.equals(a(i), b(i))
        i += 1
      }
      same
    })

  /** CACHED daemon pool for the shard fan (r17 ADVICE: K fresh
    * threads per call added create/join latency to every batch of the
    * closed-loop profiles). Distinct from `NswGraph.runOnLocalPool`'s
    * worker pool ON PURPOSE — fan tasks BLOCK on that pool, so
    * running them inside it could deadlock (the re-entrancy guard);
    * idle fan threads die after 30 s like any cached pool.
    *
    * BOUNDED (r19): thread count caps at max(32, 2×cores) — each
    * concurrent sharded serve takes nShards fan threads, so an
    * unbounded pool under many concurrent callers would pile up
    * threads all contending on the same worker pool. Past the cap,
    * excess fan tasks QUEUE (safe: fan tasks are independent — they
    * block only on the worker pool, never on each other or on this
    * pool — so queued tasks always make progress; the fan degrades
    * to partial serialization instead of thread pile-up). */
  /** Set for the lifetime of a fan-pool thread — the re-entrancy
    * marker (r21, ADVICE): an explicit ThreadLocal instead of
    * thread-name matching, so renaming cannot defeat the guard. It
    * still only marks DIRECT fan-thread re-entry: a fan task that
    * hops through another pool before re-entering fanShards is not
    * covered (the hop's thread carries no marker) — acceptable
    * because no current call path does that, and the failure mode is
    * the pre-r19 queue-wait, not corruption. */
  private val onFanThread = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private lazy val fanPool: java.util.concurrent.ExecutorService = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(new Runnable {
          def run(): Unit = { onFanThread.set(true); r.run() }
        }, s"graft-shard-fan-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    }
    val cap = math.max(32, 2 * Runtime.getRuntime.availableProcessors())
    val ex = new java.util.concurrent.ThreadPoolExecutor(cap, cap, 30L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    ex.allowCoreThreadTimeOut(true)
    ex
  }

  /** Run one serve per shard, sequentially or fanned onto the cached
    * pool (`parallel` — the kernels inside still chunk over the
    * shared worker pool; per-shard serves are independent pure
    * functions, so the flag never changes rows). */
  private def fanShards[A](shards: Seq[A], parallel: Boolean)(
      f: A => Array[Rows]): Seq[Array[Rows]] =
    if (!parallel || shards.length == 1) shards.map(f)
    // RE-ENTRANCY GUARD (r19 ADVICE, closed r20): a fan task that
    // (transitively) reaches fanShards again must not SUBMIT to the
    // bounded pool — cap-many outer tasks blocked on queued inner
    // tasks would deadlock, which the pre-r19 unbounded pool could
    // not. Same shape as runOnLocalPool's guard: already on a fan
    // thread -> run inline (the outer fan already owns the
    // parallelism; rows are unchanged either way).
    else if (onFanThread.get()) // ThreadLocal marker (r21) — see above
      shards.map(f)
    else {
      val out = new Array[Array[Rows]](shards.length)
      // eager materialization: a lazy Seq would otherwise submit and
      // await the tasks ONE AT A TIME inside the foreach below,
      // silently serializing the fan
      val futures = shards.toIndexedSeq.zipWithIndex.map { case (s, i) =>
        fanPool.submit(new Runnable { def run(): Unit = out(i) = f(s) })
      }
      // first failure propagates (ExecutionException unwrapped); the
      // remaining futures still complete — their slots are discarded
      // with the throw
      try futures.foreach(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

  /** Merge K shards' per-slot ranked lists into one ranked top-`k`
    * per slot, flattened in slot order with ranks renumbered 1..≤k.
    * `qids` names each slot (an all-shards-empty slot has no row to
    * read a qid from). */
  private[graft] def mergeSlots(perShard: Seq[Array[Rows]],
      qids: Array[Long], k: Int): Rows = {
    val out = Array.newBuilder[(Long, Long, Long, Double)]
    out.sizeHint(qids.length * k)
    var slot = 0
    while (slot < qids.length) {
      val buf = new graft.functions.TopKBuffer(k)
      perShard.foreach { shard =>
        val rows = shard(slot)
        var i = 0
        while (i < rows.length) {
          buf.insert(rows(i)._4, rows(i)._3)
          i += 1
        }
      }
      val ranked = buf.sorted
      var r = 0
      while (r < ranked.length) {
        out += ((qids(slot), (r + 1).toLong, ranked(r)._2, ranked(r)._1))
        r += 1
      }
      slot += 1
    }
    out.result()
  }

  /** FILTERED sharded serving — the sharded twin of
    * `Serving.serveFilteredLocalExplained`, for ANY filter via its
    * sorted survivor id-set (the bitset form, `Serving.survivorIdSet`):
    * one id-set spans all shards; each shard's kernels test the members
    * it holds. ONE strategy is chosen globally from the summed
    * per-shard selectivity counts (every shard must run the same branch
    * or the merge would mix exact and approximate row sets), then the
    * branch fans to the shards and merges:
    *
    *  - EXTREME → per-shard exact scan over survivors, merge top-k
    *  - otherwise → per-shard pre-filter probe-scan, merge top-k
    *    (tagged `IvfPrefilterResident` like the local dispatcher)
    *
    * The cost boundary resolves from the TOTAL geometry — probed cells
    * per query is nprobe × K for independent shards and nprobe for
    * split shards (detected by a shared coarse quantizer ⇒ same global
    * probe list). */
  def serveFilteredShardedIdSetExplained(
      flatShards: Seq[AnnIvf.LocalCellReplica],
      queries: Array[(Long, Array[Float])], k: Int,
      idSet: Array[Long],
      nprobe: Int = 4, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = Serving.CostBased,
      metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None,
      parallelShards: Option[Boolean] = None,
      probers: Option[Seq[Array[Float] => Array[Int]]] = None)
      : (Serving.Strategy, Rows) = {
    require(idSet != null, "idSet must be non-null (empty = no survivors)")
    require(flatShards.nonEmpty, "serveFilteredSharded needs >= 1 shard")
    val tomb: Array[Long] = tombstones.orNull
    val qids = queries.map(_._1)
    // summed per-shard counts = the single replica's counts (shards
    // partition the rows in both models)
    val sel = selectivity.getOrElse {
      var total = 0L; var surv = 0L
      flatShards.foreach { f =>
        val (t, sv) = f.selectivityCountsIdSet(idSet, tomb)
        total += t; surv += sv
      }
      if (total == 0L) 1.0 else surv.toDouble / total
    }
    // total geometry: split shards (one shared centroid matrix) probe
    // nprobe global cells per query; independent shards probe nprobe
    // of EACH shard's cells. Shared-quantizer detection falls back to
    // CONTENT equality when instances differ (r17 ADVICE: a
    // serialization round-trip of split shards loses instance sharing
    // and would otherwise inflate probedPerQuery K-fold, shifting the
    // cost boundary).
    val totalCells = flatShards.iterator.map(_.nCells.toLong).sum
    val sharedCentroids = flatShards.forall(f =>
      sameQuantizer(f.centroidMatrix, flatShards.head.centroidMatrix))
    val probedPerQuery =
      if (sharedCentroids) nprobe else nprobe * flatShards.length
    val resolved = Serving.effectiveExtreme(extreme, mild,
      probedPerQuery, totalCells)
    // the measured fan rule: fan whenever there is more than one
    // shard. With the cached fan pool and warm cross-shard bounds the
    // fan won or tied at every measured shape (flat tier 4 shards
    // batch=1000 +0-15%, batch=100 +40-75%; graph tier 8 shards
    // batch=1000 +32-41%, BENCH_scale_r18)
    val par = parallelShards.getOrElse(flatShards.length > 1)
    // cross-shard kth-best bounds (r18): both branches share one
    // SlotBounds per call — sequential fan passes each shard the
    // previous shards' per-slot kth-best, the parallel fan tightens
    // the atomics mid-scan. Pure pruning, rows unchanged (ShardedSpec).
    val bounds = new SlotBounds(queries.length)
    Serving.chooseStrategy(sel, graphAvailable = false, mild,
      resolved) match {
      case Serving.ExactScan =>
        (Serving.ExactScan, mergeSlots(
          fanShards(flatShards, par)(f =>
            AnnIvf.localCellCoreSlots(f, queries, k,
              0, metric, None, Some(idSet), tombstones,
              exhaustive = true, sharedBounds = bounds)),
          qids, k))
      case Serving.IvfPrefilter =>
        // per-shard probe-list override (r18): e.g. the two-level
        // prober built from EACH shard's own quantizer — a dial that
        // cuts the coarse argmin (the mid bucket's dominant cost at
        // iso-work, BENCH_scale_r18 same_jvm_aba_comparator).
        // AUTO (r19): with no explicit probers, the cost-based
        // crossover picks the dial per geometry. SPLIT shards decide
        // ONCE from the GLOBAL geometry (the shared matrix's C, total
        // rows) — the same inputs the unsharded dispatcher sees, and
        // the derived supers are a pure function of the shared
        // matrix, so split-sharded stays row-identical to the
        // unsharded serve under the auto. Independent shards decide
        // from their own (C, rows) — each shard is its own quantizer.
        val shardProbers: Seq[Array[Float] => Array[Int]] =
          probers.getOrElse {
            if (sharedCentroids) {
              val totalRows = flatShards.iterator.map(_.size.toLong).sum
              val c = flatShards.head.centroidMatrix.length.toLong
              if (Serving.autoTwoLevel(c, totalRows,
                  flatShards.head.dim, nprobe, sel))
                flatShards.map(_.twoLevelProberAuto(nprobe))
              else flatShards.map(_ => null)
            } else flatShards.map { f =>
              if (Serving.autoTwoLevel(f.centroidMatrix.length.toLong,
                  f.size.toLong, f.dim, nprobe, sel))
                f.twoLevelProberAuto(nprobe)
              else null
            }
          }
        require(shardProbers.length == flatShards.length,
          s"probers (${shardProbers.length}) must align 1:1 with " +
            s"flatShards (${flatShards.length})")
        (Serving.IvfPrefilterResident, mergeSlots(
          fanShards(flatShards.zip(shardProbers), par) { case (f, p) =>
            AnnIvf.localCellCoreSlots(f, queries, k,
              nprobe, metric, None, Some(idSet), tombstones,
              exhaustive = false, sharedBounds = bounds,
              proberOverride = p) },
          qids, k))
      case other =>
        throw new IllegalStateException(s"unreachable: chooseStrategy " +
          s"returned $other with no graph tier")
    }
  }

  /** `serveFilteredShardedIdSetExplained` behind the DataFrame
    * contract — the oracle entry (`serve_sharded`) serves a split
    * 3-shard replica through it and must hash-equal the single-index
    * recipe's SQL. */
  def serveFilteredShardedIdSetDf(
      flatShards: Seq[AnnIvf.LocalCellReplica],
      queries: DataFrame, k: Int, idSet: Array[Long],
      nprobe: Int = 4, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = Serving.CostBased,
      metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None,
      parallelShards: Option[Boolean] = None)
      : (Serving.Strategy, DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])].collect()
    val (strategy, rows) = serveFilteredShardedIdSetExplained(
      flatShards, qRows, k, idSet, nprobe, selectivity, mild, extreme,
      metric, tombstones, parallelShards)
    (strategy, spark.createDataset(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
      .toDF("qid", "rank", "neighbor_id", "dist"))
  }
}
