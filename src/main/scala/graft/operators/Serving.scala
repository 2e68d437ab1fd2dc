package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Cost-based FILTERED ANN serving: one shared set of unfiltered
  * artifacts answers every filter predicate, with the physical
  * strategy chosen from the filter's selectivity — the dispatch rule
  * the round-11 scale record measured end to end at 5M
  * (`BENCH_scale_r11.json` filtered_serving / filtered_serving_overfetch)
  * and the reference applies by hand per bucket (its filtered-CAGRA
  * runs over-fetch on the unfiltered index,
  * cuvs_bench_grid_search_v3.py; its pre-filtered runs build per-filter
  * indexes, utils_grid_search.py):
  *
  *  - MILD filters (most rows survive): beam k' = mult·k/sel out of
  *    the resident unfiltered graph, drop non-survivors, keep top-k —
  *    measured 4.5× the pre-filter qps at 84% kept. Only worth it
  *    when expected survivors at top-k' clear k; at low selectivity
  *    k' explodes (0.77% kept needs k'≈13K), which is exactly the
  *    regime boundary below.
  *  - STRONG filters: IVF pre-filter — scan the predicate's survivors
  *    inside the probed cells of the SHARED index (the unfiltered cid
  *    assignment stays valid for any subset; cells just have fewer
  *    members). No per-filter index, no beam inflation.
  *  - EXTREME filters (sub-percent): exact scan over survivors —
  *    recall 1.0 by construction and faster than any fixed probe set
  *    once survivors are rarer than ~1/nprobe of a cell.
  *
  * All three branches return the shared k-NN result contract
  * `(qid, rank, neighbor_id, dist)` ranked by (dist, id). The
  * dispatch is a pure function of selectivity (`chooseStrategy`) so
  * the boundary logic is unit-testable apart from the engine.
  *
  * SCALE NOTE — selectivity: measuring it is one column-pruned
  * count of the predicate's survivors. A serving deployment knows its
  * filters (the reference's are fixed rating brackets) and passes
  * `selectivity = Some(…)` so the dispatch costs nothing per batch;
  * `None` pays the count once and is the honest default for ad-hoc
  * predicates.
  */
object Serving {

  /** The shared serving artifacts: one unfiltered cid-assigned
    * relation + its centroids, and optionally the resident decoded
    * tiers — the graph (`NswGraph.servableIndex`) for the mild-filter
    * over-fetch branch, and the flat blocks
    * (`AnnIvf.servableCells(..., attrCol = Some(…))`) for serving the
    * strong branch's pre-filter at resident speed. Every filter is
    * served from these — no per-filter index anywhere. The artifacts
    * also carry the serving epoch's selectivity memo and tombstone
    * mask. */
  final case class Artifacts(
      indexed: DataFrame,
      centroids: DataFrame,
      graph: Option[org.apache.spark.rdd.RDD[NswGraph.ServableCell]] = None,
      flat: Option[org.apache.spark.rdd.RDD[AnnIvf.FlatBlock]] = None,
      local: Option[NswGraph.LocalReplica] = None,
      flatLocal: Option[AnnIvf.LocalCellReplica] = None) {
    /** SELECTIVITY MEMO for the no-hint path: a deployment serving
      * repeated ad-hoc predicates would otherwise pay a column-pruned
      * count aggregate PER CALL (`serveFilteredExplained`'s default). Keyed by the predicate's SQL rendering; scoped to
      * this Artifacts instance, so a new index epoch (new Artifacts
      * over the refreshed index) invalidates it for free. Stores the
      * exact (total, survivors) counts so the over-fetch k' stays the
      * same pure integer function on a cache hit. */
    private[operators] val selCache =
      scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    /** Number of times the count measurement actually ran —
      * observability for the cache (pinned in ServingSpec). */
    @volatile private[graft] var selComputes: Int = 0
    /** Cell count for the cost-based `extreme` boundary: the rows of
      * the centroid matrix (one entry per centroid row). */
    private[operators] lazy val numCells: Long = centroidMatrixLocal.length.toLong
    /** The (driver-sized) centroid matrix — collected once per
      * Artifacts epoch. */
    @transient private lazy val centroidMatrixLocal: Array[Array[Float]] =
      AnnIvf.collectCentroids(centroids)
    /** Unfiltered relation row count — one column-pruned count per
      * Artifacts epoch, paid only by the auto two-level decision. */
    private[operators] lazy val numRows: Long = indexed.count()
    /** Derived √C super-quantizer for the auto dial — the same pure
      * function of the centroid matrix as
      * `LocalCellReplica.derivedSupers` (memoized per epoch). */
    @transient private lazy val derivedTwoLevel: AnnIvf.TwoLevelProbe =
      AnnIvf.TwoLevelProbe(graft.functions.CentroidGroups
        .build(centroidMatrixLocal).centers, 4)
    /** The dial the distributed dispatcher's resident branch installs
      * when the geometry crossover says the √C probe wins (r19):
      * `None` below the floor / crossover. The floor check runs
      * FIRST so small geometries never pay the row count. */
    private[operators] def autoTwoLevelProbe(nprobe: Int,
        sel: Double): Option[AnnIvf.TwoLevelProbe] =
      if (numCells >= Serving.TwoLevelMinCells &&
          centroidMatrixLocal.nonEmpty &&
          Serving.autoTwoLevel(centroidMatrixLocal.length.toLong, numRows,
            centroidMatrixLocal.head.length, nprobe, sel))
        Some(derivedTwoLevel)
      else None

    /** TOMBSTONE MASK for this serving epoch — serve-consistency with
      * the persisted paths' anti-join (`AnnIvf.searchPersisted*`
      * honor the side-table by default; the resident tiers are epoch
      * snapshots that would otherwise keep serving a tombstoned id
      * until rebuild). `refreshTombstones` re-reads the side-table
      * WITHOUT re-decoding any tier (the mask is serve-time state),
      * and every refresh clears the selectivity memo: the masked
      * relation's survivor counts are a new epoch. */
    @volatile private var tombMask: Option[Array[Long]] = None
    /** The current sorted tombstone mask, if any. */
    def tombstones: Option[Array[Long]] = tombMask
    /** Install a mask (ids are copied + sorted; empty clears). */
    def setTombstones(ids: Array[Long]): Unit = {
      tombMask =
        if (ids == null || ids.isEmpty) None
        else {
          val s = ids.clone(); java.util.Arrays.sort(s); Some(s)
        }
      selCache.clear()
    }
    /** Re-read the index's tombstone side-table into the mask. */
    def refreshTombstones(spark: org.apache.spark.sql.SparkSession,
        indexPath: String): Unit =
      setTombstones(
        AnnIvf.tombstoneIds(spark, indexPath).getOrElse(Array.emptyLongArray))
  }

  /** Stable cache key for a filter predicate (its expression
    * rendering — two Columns built the same way render identically). */
  private[graft] def predicateKey(predicate: Column): String =
    predicate.toString

  /** Materialize a filter as its SORTED survivor id-set — the input
    * contract of `serveFilteredLocalIdSet*` (the reference's bitset
    * filter form, utils_grid_search.py:238-247): ANY `Column`
    * predicate — multi-column, string, UDF — evaluated by ONE
    * column-pruned distributed filter, collected as ids only. Pay it
    * once per filter epoch, then every serve call tests membership by
    * binary search.
    *
    * `maxIds` bounds the driver/serving-JVM heap the collect may
    * claim (8 bytes/id): the count job runs first and the collect is
    * refused loudly past the budget — a filter keeping that many rows
    * belongs on the attr route (one resident column) or the
    * distributed dispatcher, not in an in-process id list. */
  def survivorIdSet(relation: DataFrame, predicate: Column,
      idCol: String = "vec_id", maxIds: Long = 50000000L): Array[Long] = {
    val spark = relation.sparkSession
    import spark.implicits._
    val survivors = relation.filter(predicate)
      .select(col(idCol).cast("long"))
    val n = survivors.count()
    require(n <= maxIds,
      s"survivorIdSet: the predicate keeps $n rows > maxIds $maxIds " +
        s"(${8L * n / 1000000} MB of ids) - serve this filter through " +
        "the resident attr route or the distributed dispatcher instead")
    val ids = survivors.as[Long].collect()
    java.util.Arrays.sort(ids)
    ids
  }

  /** Whether the selectivity memo may key on this predicate: two
    * DIFFERENT anonymous Scala UDFs both render as `UDF(col)`, and a
    * non-deterministic expression's survivor count is not a constant
    * of the predicate — either would make a cache hit return counts
    * measured for something else, silently mis-dispatching the
    * strategy and mis-sizing the over-fetch k'. Such predicates skip
    * the memo and measure every call (pass `selectivity = Some(…)` to
    * avoid the per-call counts); unanalyzable filters conservatively
    * skip too.
    *
    * Inspected on the ANALYZED plan of `relation.filter(predicate)`
    * (the unresolved Column wraps UDF/function nodes opaquely; the
    * resolved Filter condition carries the real `ScalaUDF` /
    * non-deterministic expressions). */
  private[graft] def cacheableFilter(
      filtered: DataFrame): Boolean =
    try {
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      val cond = org.apache.spark.sql.graft.Shim.analyzed(filtered)
        .collectFirst { case f: Filter => f.condition }
      cond.exists(c => !c.exists(x =>
        x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]
          || !x.deterministic))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Sentinel for the `extreme` boundary: compute it from the index
    * geometry at dispatch time (`costExtreme`) instead of a fixed
    * fraction. THE DEFAULT since r16 — the r14 scale record showed the
    * fixed 0.02 routing the reference's mid bucket (0.77% kept) to the
    * exact scan at ~2.5K qps when the same engine's pre-filter branch
    * measured 11–12.7K qps at recall 0.9995. */
  val CostBased: Double = -1.0

  /** The flop-count crossover between the exact scan and the IVF
    * pre-filter, as a selectivity boundary: per query the exact scan
    * costs ~survivors·dim distance flops (= sel·total·dim), the
    * pre-filter ~nprobe·avgCell·dim (it touches the probed cells'
    * members; early-abandon and the per-row keep test are comparable
    * constant factors on both sides). With avgCell = total/nCells the
    * totals and dims cancel: exact is cheaper iff sel < nprobe/nCells
    * — and at equal cost exact strictly wins (recall 1.0 by
    * construction), so the boundary is the honest tie-break. The
    * dispatchers cap it at `mild` (probing nprobe >= nCells cells
    * means the pre-filter scans everything the exact scan would — the
    * exact scan is then never worse at ANY selectivity below the
    * graph regime). Pinned in ServingSpec at the reference's three 5M
    * selectivities. */
  def costExtreme(nprobe: Int, nCells: Int): Double =
    nprobe.toDouble / math.max(1, nCells)

  private[operators] def effectiveExtreme(extreme: Double, mild: Double,
      nprobe: Int, nCells: Long): Double =
    if (extreme == CostBased)
      math.min(mild, costExtreme(nprobe,
        math.min(nCells, Int.MaxValue.toLong).toInt))
    else extreme

  /** Hard cell-count floor for the auto: below it the flat argmin is
    * sub-measurable against the scan (and every fixed-recipe oracle /
    * spec geometry lives far below it, so the auto can never flip
    * their probe sets). 2000 = just under the measured 20M crossover
    * point (2044 cells, BENCH_scale_r18 two_level_probe_20m). */
  val TwoLevelMinCells: Long = 2000L

  /** Cost-based choice of the two-level probe dial (r19 — the r18
    * verdict's follow-up to the measured local dial): TRUE when the
    * flat coarse argmin (C·dim flops per query) exceeds the expected
    * pre-filter scan work (nprobe·rowsPerCell·(sel·dim + 1) — each
    * survivor pays a distance, every probed row pays the ~O(1)
    * membership/attr test), with the `TwoLevelMinCells` floor.
    * Anchored to the 20M/2044-cell measurements: the 0.77%-kept mid
    * bucket (argmin share ~80% of per-query flops under this model)
    * measured 1.21–1.34× under the dial, while the 50%-kept high
    * bucket (argmin share ~17%) measured ~1.0× — so the boundary is
    * the flop tie, and the dial engages exactly where it was
    * measured winning. The dial is a new (recall, qps) operating
    * point (−0.45pp recall at the measured shape): the auto is
    * documented dispatcher behavior past the floor; an explicit
    * `proberOverride`/`probers` argument (e.g. the flat `CellProbe`)
    * always beats it. */
  def autoTwoLevel(nCells: Long, rows: Long, dim: Int, nprobe: Int,
      selectivity: Double): Boolean = {
    val rowsPerCell = rows.toDouble / math.max(1L, nCells)
    nCells >= TwoLevelMinCells &&
      nCells.toDouble * dim >
        nprobe.toDouble * rowsPerCell * (selectivity * dim + 1.0)
  }

  sealed abstract class Strategy(val name: String)
  /** Over-fetch k' on the unfiltered resident graph, filter, re-rank. */
  case object GraphOverfetch extends Strategy("graph-overfetch")
  /** `searchFast` over the predicate's survivors in the shared index. */
  case object IvfPrefilter extends Strategy("ivf-prefilter")
  /** The IvfPrefilter regime served from the RESIDENT flat tier via
    * the caller's `attrPred` twin (audit tag: a caller seeing this
    * knows the Column `predicate` itself was NOT evaluated on the
    * scan — the attribute twin was; see `validateAttrPred`). */
  case object IvfPrefilterResident extends Strategy("ivf-prefilter-resident")
  /** `Knn.exact` over the survivors. */
  case object ExactScan extends Strategy("exact-scan")

  /** The dispatch rule as a pure function: `mild`/`extreme` are the
    * regime boundaries in survivor fraction. `extreme` defaults to
    * the `CostBased` sentinel EVERYWHERE since r17 — resolved here
    * from the `nprobe`/`nCells` geometry via the `costExtreme` flop
    * crossover, exactly as the dispatchers resolve it — because no
    * fixed fraction is right across geometries: at 5M/1024 cells the
    * old fixed 0.02 routed the reference's 0.77% bucket to the exact
    * scan (~2.5K qps) when the pre-filter branch measured 11–12.7K
    * qps at recall 0.9995 (BENCH_scale_r14); the honest boundary
    * there is 4/1024 ≈ 0.4%. Callers off the standard geometry pass
    * their own `nprobe`/`nCells` (or a resolved numeric `extreme`);
    * the previous fixed-0.02 default is retired — it silently cost
    * 8.9× at the reference's mid bucket. `mild` stays the 5M
    * measurement's fixed 0.5 (84% kept → graph over-fetch wins
    * 4.5×). Without a graph tier the mild regime falls back to the
    * always-valid IVF pre-filter. */
  def chooseStrategy(selectivity: Double, graphAvailable: Boolean,
      mild: Double = 0.5, extreme: Double = CostBased,
      nprobe: Int = 4, nCells: Long = 1024L): Strategy = {
    require(selectivity >= 0.0 && selectivity <= 1.0,
      s"selectivity must be a fraction in [0,1], got $selectivity")
    val ex = effectiveExtreme(extreme, mild, nprobe, nCells)
    if (selectivity < ex) ExactScan
    else if (selectivity >= mild && graphAvailable) GraphOverfetch
    else IvfPrefilter
  }

  /** Serve `queries` against the rows of `art.indexed` that satisfy
    * `predicate`, choosing the strategy by selectivity. Returns
    * `(strategy, results)`; `serveFiltered` below is the plain-result
    * convenience. The graph branch is approximate like any beam
    * serve (its recall is the unfiltered graph's at the widened k');
    * the IVF branch's recall is nprobe's; the exact branch is exact. */
  def serveFilteredExplained(art: Artifacts, queries: DataFrame, k: Int,
      predicate: Column, nprobe: Int = 4, efSearch: Int = 64,
      overFetchMult: Int = 3, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = CostBased,
      maxOverFetchK: Int = 4096,
      metric: String = "sqeuclidean",
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      attrPred: Option[Double => Boolean] = None,
      validateAttrPred: Boolean = false)
      : (Strategy, DataFrame) = {
    require(overFetchMult >= 1, s"overFetchMult must be >= 1")
    // tombstone mask first (pre-filter semantics, identical to the
    // persisted paths' anti-join): every branch below serves from the
    // masked relation, so a tombstoned id can never be returned —
    // resident tiers included (the mask also rides into the resident
    // kernels as their serve-time id mask)
    val masked = art.tombstones
    val indexedM = masked match {
      case None => art.indexed
      case Some(ids) =>
        val spark = art.indexed.sparkSession
        import spark.implicits._
        art.indexed.join(
          broadcast(ids.toSeq.toDF(idCol)), Seq(idCol), "left_anti")
    }
    val survivors = indexedM.filter(predicate)
    // measured counts also give the over-fetch k' in exact integer
    // arithmetic (ceil-div), so the graph branch's width is a pure
    // function of the two counts — reproducible by an integer oracle,
    // never one ulp of double division away from it
    val (sel, kFromCounts) = selectivity match {
      case Some(x) => (x, None)
      case None =>
        // both counts come from one column-pruned scan (no vector
        // decode), MEMOIZED per (artifact, predicate) — a deployment
        // serving repeated predicates pays it once per epoch (tombstone
        // refreshes clear the memo: counts are over the masked
        // relation); one with known filters passes the hint and never
        // pays it. Predicates whose rendering is ambiguous (anonymous
        // Scala UDFs all print as `UDF(...)`) or non-deterministic
        // skip the memo and measure per call — a key collision would
        // return counts measured for a different filter.
        def measure(): (Long, Long) = {
          art.selComputes += 1
          // count_if keeps exactly filter()'s rows (null is false)
          val r = indexedM.agg(count(lit(1)), count_if(predicate)).head()
          (r.getLong(0), r.getLong(1))
        }
        val (total, surv) =
          if (cacheableFilter(survivors))
            art.selCache.getOrElseUpdate(predicateKey(predicate), measure())
          else measure()
        val s = if (total == 0L) 1.0 else surv.toDouble / total
        (s, if (surv > 0L)
          Some(((overFetchMult.toLong * k * total + surv - 1L) / surv).toInt)
        else None)
    }
    chooseStrategy(sel, art.graph.nonEmpty, mild,
      effectiveExtreme(extreme, mild, nprobe, art.numCells)) match {
      case IvfPrefilterResident => // dispatch never emits the audit tag
        throw new IllegalStateException("unreachable: chooseStrategy " +
          "returns IvfPrefilter; the resident tag is applied below")
      case ExactScan =>
        (ExactScan, Knn.exact(survivors, queries, k, metric,
          idCol, vecCol, qidCol, qvecCol))
      case IvfPrefilter =>
        // with a resident flat tier AND an attribute-level twin of
        // the predicate (caller contract: attrPred must accept
        // exactly the rows `predicate` keeps — the reference's
        // rating-bracket filters are one double column, so the twin
        // is the bracket itself), serve the pre-filter from the
        // decoded blocks; otherwise scan the filtered relation. The
        // resident branch is tagged IvfPrefilterResident so callers
        // can audit WHICH filter ran (the attr twin, not the Column).
        (art.flat, attrPred) match {
          case (Some(blocks), Some(p)) =>
            if (validateAttrPred) {
              // audit the twin contract on demand: the resident
              // attr-survivor count must equal the Column predicate's
              // survivor count (one resident pass + one column-pruned
              // scan — run once per epoch/predicate, not per batch)
              val tombV = masked.orNull
              val resid = blocks.map(b =>
                if (b.attrs == null) 0L
                else { var c = 0L; var i = 0
                  while (i < b.attrs.length) {
                    if (p(b.attrs(i)) && (tombV == null ||
                      java.util.Arrays.binarySearch(tombV, b.ids(i)) < 0))
                      c += 1
                    i += 1 }
                  c }).sum().toLong
              val colSurv = survivors.count()
              require(resid == colSurv,
                s"attrPred twin mismatch: the resident attribute " +
                  s"filter keeps $resid rows but the Column predicate " +
                  s"keeps $colSurv — the two filters disagree, the " +
                  "resident serve would silently return wrong neighbors")
            }
            // with a LOCAL flat replica too, small batches run the
            // pre-filter scan in-process (AnnIvf.searchLocalCells
            // kernels — bit-identical to the block scan, KnnSpec);
            // the same limit-collect dispatch as searchServableAuto.
            // The auto two-level dial (r19) resolves once from the
            // artifact geometry and rides both routes — the local
            // prober and the expression produce identical probe
            // lists (KnnSpec pin), so the dispatch stays row-stable.
            val tl = art.autoTwoLevelProbe(nprobe, sel)
            (IvfPrefilterResident, art.flatLocal match {
              case Some(rep) =>
                AnnIvf.searchServableCellsAuto(blocks, Some(rep),
                  art.centroids, queries, k, nprobe, metric,
                  qidCol, qvecCol, attrPred = Some(p),
                  tombstones = masked, twoLevel = tl)
              case None =>
                AnnIvf.searchServableCells(blocks, art.centroids,
                  queries, k, nprobe, metric, qidCol, qvecCol,
                  attrPred = Some(p), tombstones = masked,
                  twoLevel = tl)
            })
          case _ =>
            (IvfPrefilter, AnnIvf.searchFast(survivors, art.centroids,
              queries, k, nprobe, idCol, vecCol, qidCol, qvecCol, metric))
        }
      case GraphOverfetch =>
        // expected survivors in the top-k' are k'·sel; mult·k/sel
        // clears k by mult×. The cap keeps a mis-hinted selectivity
        // from beaming the corpus; past it the IVF branch is the
        // honest plan anyway.
        val kF = math.min(maxOverFetchK,
          math.max(k, kFromCounts.getOrElse(
            math.ceil(overFetchMult * k / sel).toInt)))
        val efF = math.max(efSearch, kF)
        // the semi-join below would drop tombstoned ids anyway (the
        // survivor side is masked), but masking inside the beam drain
        // lets surviving candidates fill the k' window instead of
        // wasting it on rows the join will discard. With a local
        // replica in the artifacts, small batches beam in-process
        // (searchServableAuto) — identical rows, no per-call job floor
        val fetched = NswGraph.searchServableAuto(art.graph.get,
          art.local, art.centroids, queries, kF, nprobe, efF, metric,
          qidCol, qvecCol, tombstones = masked)
        // membership check against the survivor ids: a semi-join on
        // the id column — the predicate may read any column of the
        // relation, so it is evaluated once on the scan side, never
        // re-derived from result rows. Left side is query-sized
        // (q×k'); AQE broadcasts whichever side fits.
        val kept = fetched.join(
          survivors.select(col(idCol).as("_sid")),
          fetched("neighbor_id") === col("_sid"), "leftsemi")
        val reranked = kept
          .withColumn("_rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("dist"), col("neighbor_id"))))
          .filter(col("_rk") <= k)
          .select(col("qid"), col("_rk").cast("long").as("rank"),
            col("neighbor_id"), col("dist"))
        (GraphOverfetch, reranked)
    }
  }

  /** FULLY IN-PROCESS filtered serving for small batches — the
    * reference's actual product scenario (filtered 100-query
    * closed-loop batches, filter_config.yaml × params_config.yaml:23)
    * with ZERO Spark jobs per call. Same measured dispatch rule and
    * integer over-fetch arithmetic as `serveFilteredExplained`; the
    * filter arrives as its attribute twin (`attrPred` over the
    * replica's resident attr column — the reference's filters are
    * one-column rating/label brackets) because a Column predicate
    * cannot evaluate without an executor. Branches:
    *
    *  - EXTREME → `AnnIvf.searchLocalExactQueries` (exact scan over
    *    the masked survivors; recall 1.0)
    *  - STRONG → `AnnIvf.searchLocalCellsQueries` (pre-filter scan of
    *    the probed cells — tagged `IvfPrefilterResident`, it IS the
    *    resident branch in-process)
    *  - MILD → beam k' on the local GRAPH replica, drop non-survivors
    *    by the attr of each fetched id, re-rank to k — the
    *    over-fetch branch with the semi-join replaced by an id-sorted
    *    attr lookup
    *
    * Each branch is row-identical to its distributed twin given the
    * same counts (ServingSpec pins all three, masked and unmasked).
    * Selectivity: pass the hint, or the counts come from ONE pass
    * over the replica's attrs (`selectivityCounts`, milliseconds at
    * 5M — the local twin of the column-pruned count aggregate).
    *
    * DUPLICATE qids: each occurrence in `queries` is served as its
    * OWN rank-1..k group (a batch is positional — two slots with the
    * same qid get two independent result groups, so the output can
    * hold duplicate (qid, rank) keys; pinned in ServingSpec). The
    * distributed dispatcher's mild branch would instead MERGE them
    * under one qid window — callers needing row-identity with the
    * distributed twin must send distinct qids per batch (every
    * serving fixture here does; the reference's batches are
    * positional the same way). */
  def serveFilteredLocalExplained(flat: AnnIvf.LocalCellReplica,
      graph: Option[NswGraph.LocalReplica],
      queries: Array[(Long, Array[Float])], k: Int,
      attrPred: Double => Boolean,
      nprobe: Int = 4, efSearch: Int = 64,
      overFetchMult: Int = 3, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = CostBased,
      maxOverFetchK: Int = 4096,
      metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None,
      proberOverride: Array[Float] => Array[Int] = null)
      : (Strategy, Array[(Long, Long, Long, Double)]) = {
    require(flat.attrs != null,
      "serveFilteredLocal needs an attr-built replica - build the " +
        "resident tier with servableCells(..., attrCol = Some(...)), " +
        "or serve the filter as an id-set (serveFilteredLocalIdSet*)")
    serveFilteredLocalCore(flat, graph, queries, k, attrPred, null,
      nprobe, efSearch, overFetchMult, selectivity, mild, extreme,
      maxOverFetchK, metric, tombstones, proberOverride)
  }

  /** `serveFilteredLocalExplained` for ANY filter, not just a
    * one-column numeric bracket: the filter arrives as a precomputed
    * SORTED survivor id-set — the reference's own bitset filter form
    * (utils_grid_search.py:238-247 precomputes a per-filter id mask
    * the same way) — produced ONCE per filter epoch by running an
    * arbitrary distributed `Column` predicate (`survivorIdSet`). Every
    * dispatch branch then serves from the
    * same machinery as the attr route with the per-row keep test
    * swapped for a binary-search membership check — the tombstone
    * mask's mechanism with the polarity flipped:
    *
    *  - EXTREME → exact scan over the id-set's members
    *  - STRONG → pre-filter probe-scan, id-set-checked per row
    *    (tagged `IvfPrefilterResident` — it IS the resident branch)
    *  - MILD → beam k' on the local graph replica, survivors kept by
    *    id-set membership, re-rank to k
    *
    * Row-identical to the distributed dispatcher evaluating the
    * Column predicate itself (ServingSpec pins a two-column
    * predicate; `serve_local_bitset` puts it under the full DuckDB
    * oracle). Needs NO attr-built replica. Selectivity: pass the
    * hint, or one pass over the replica's ids computes the same
    * integers as the dispatcher's column-pruned counts.
    *
    * SCALE NOTE — id-set size: 8 bytes/survivor on the serving heap
    * (the same budget class as the replica itself). The shape is
    * meant for the strong/extreme regimes where survivors are a
    * fraction of the corpus; a MILD filter's id-set approaches corpus
    * size — there the one-column attr route or the distributed
    * dispatcher is the right tier, and `survivorIdSet`'s `maxIds`
    * guard refuses a collect past its budget loudly. */
  def serveFilteredLocalIdSetExplained(flat: AnnIvf.LocalCellReplica,
      graph: Option[NswGraph.LocalReplica],
      queries: Array[(Long, Array[Float])], k: Int,
      idSet: Array[Long],
      nprobe: Int = 4, efSearch: Int = 64,
      overFetchMult: Int = 3, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = CostBased,
      maxOverFetchK: Int = 4096,
      metric: String = "sqeuclidean",
      tombstones: Option[Array[Long]] = None,
      proberOverride: Array[Float] => Array[Int] = null)
      : (Strategy, Array[(Long, Long, Long, Double)]) = {
    require(idSet != null, "idSet must be non-null (empty = no survivors)")
    serveFilteredLocalCore(flat, graph, queries, k, null, idSet,
      nprobe, efSearch, overFetchMult, selectivity, mild, extreme,
      maxOverFetchK, metric, tombstones, proberOverride)
  }

  /** The shared local dispatch: exactly one of `attrPred` / `idSet`
    * is non-null (the two public entries enforce it). */
  private def serveFilteredLocalCore(flat: AnnIvf.LocalCellReplica,
      graph: Option[NswGraph.LocalReplica],
      queries: Array[(Long, Array[Float])], k: Int,
      attrPred: Double => Boolean, idSet: Array[Long],
      nprobe: Int, efSearch: Int,
      overFetchMult: Int, selectivity: Option[Double],
      mild: Double, extreme: Double,
      maxOverFetchK: Int, metric: String,
      tombstones: Option[Array[Long]],
      proberOverride: Array[Float] => Array[Int])
      : (Strategy, Array[(Long, Long, Long, Double)]) = {
    require(overFetchMult >= 1, s"overFetchMult must be >= 1")
    val tomb: Array[Long] = tombstones.orNull
    val (sel, kFromCounts) = selectivity match {
      case Some(x) => (x, None)
      case None =>
        val (total, surv) =
          if (idSet != null) flat.selectivityCountsIdSet(idSet, tomb)
          else flat.selectivityCounts(attrPred, tomb)
        val s = if (total == 0L) 1.0 else surv.toDouble / total
        (s, if (surv > 0L)
          Some(((overFetchMult.toLong * k * total + surv - 1L) / surv).toInt)
        else None)
    }
    chooseStrategy(sel, graph.nonEmpty, mild,
      effectiveExtreme(extreme, mild, nprobe, flat.nCells.toLong)) match {
      case IvfPrefilterResident =>
        throw new IllegalStateException("unreachable: chooseStrategy " +
          "returns IvfPrefilter; the resident tag is applied below")
      case ExactScan =>
        (ExactScan, AnnIvf.searchLocalExactQueries(flat, queries, k,
          metric, Option(attrPred), tombstones, Option(idSet)))
      case IvfPrefilter =>
        // prober resolution: explicit override (r18) > cost-based
        // auto two-level (r19 — engages when the argmin dominates
        // the scan, `autoTwoLevel`) > flat argmin. The dial cuts the
        // coarse argmin; the in-cell scan stays exact either way.
        val prober =
          if (proberOverride != null) proberOverride
          // C = the MATRIX length (the argmin scans every centroid,
          // empty cells included) — the same C a split-sharded serve
          // resolves, keeping the two decisions identical
          else if (autoTwoLevel(
              flat.centroidMatrix.length.toLong, flat.size.toLong,
              flat.dim, nprobe, sel))
            flat.twoLevelProberAuto(nprobe)
          else null
        (IvfPrefilterResident, AnnIvf.searchLocalCellsQueries(flat,
          queries, k, nprobe, metric, Option(attrPred), tombstones,
          Option(idSet), prober))
      case GraphOverfetch =>
        val kF = math.min(maxOverFetchK,
          math.max(k, kFromCounts.getOrElse(
            math.ceil(overFetchMult * k / sel).toInt)))
        val efF = math.max(efSearch, kF)
        val fetched = NswGraph.searchLocalQueries(graph.get, queries,
          kF, nprobe, efF, metric, tombstones)
        // fetched rows arrive grouped per query, (dist, id)-ascending
        // (the local drain's order == the window's (dist, neighbor_id)
        // sort) — keep survivors, take k, renumber ranks. The keep
        // test is the attr lookup or the id-set membership search —
        // same sorted-array machinery as the tombstone mask, polarity
        // flipped. Group boundaries come from the RANK column
        // restarting at 1 (each query's rows start there), NOT from
        // qid run-lengths: a batch holding the same qid twice in
        // adjacent slots would otherwise collapse into one k-capped
        // group and silently drop the second query's results (r14
        // ADVICE; duplicate-qid contract in the entry scaladoc).
        val out = Array.newBuilder[(Long, Long, Long, Double)]
        out.sizeHint(queries.length * k)
        var i = 0
        while (i < fetched.length) {
          val qid = fetched(i)._1
          var kept = 0L
          var inGroup = true
          while (i < fetched.length && inGroup) {
            val row = fetched(i)
            val keep =
              if (attrPred != null) flat.attrSatisfies(row._3, attrPred)
              else java.util.Arrays.binarySearch(idSet, row._3) >= 0
            if (kept < k && keep) {
              kept += 1
              out += ((qid, kept, row._3, row._4))
            }
            i += 1
            inGroup = i < fetched.length && fetched(i)._2 != 1L
          }
        }
        (GraphOverfetch, out.result())
    }
  }

  /** `serveFilteredLocalExplained` behind the DataFrame contract —
    * collects the (small) query batch with one job, serves entirely
    * in-process, parallelizes the q×k rows back. The oracle entry
    * (`serve_local_filtered`) checks it against the same SQL as the
    * distributed dispatcher's branch. */
  def serveFilteredLocalDf(flat: AnnIvf.LocalCellReplica,
      graph: Option[NswGraph.LocalReplica], queries: DataFrame, k: Int,
      attrPred: Double => Boolean,
      nprobe: Int = 4, efSearch: Int = 64,
      overFetchMult: Int = 3, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = CostBased,
      maxOverFetchK: Int = 4096,
      metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None)
      : (Strategy, DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(org.apache.spark.sql.functions.col(qidCol).cast("long"),
        org.apache.spark.sql.functions.col(qvecCol))
      .as[(Long, Array[Float])].collect()
    val (strategy, rows) = serveFilteredLocalExplained(flat, graph,
      qRows, k, attrPred, nprobe, efSearch, overFetchMult, selectivity,
      mild, extreme, maxOverFetchK, metric, tombstones)
    (strategy, spark.createDataset(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
      .toDF("qid", "rank", "neighbor_id", "dist"))
  }

  /** `serveFilteredLocalIdSetExplained` behind the DataFrame contract
    * — the id-set twin of `serveFilteredLocalDf`. The oracle entry
    * (`serve_local_bitset`) checks a two-column predicate served this
    * way against the same SQL as the distributed dispatcher's branch. */
  def serveFilteredLocalIdSetDf(flat: AnnIvf.LocalCellReplica,
      graph: Option[NswGraph.LocalReplica], queries: DataFrame, k: Int,
      idSet: Array[Long],
      nprobe: Int = 4, efSearch: Int = 64,
      overFetchMult: Int = 3, selectivity: Option[Double] = None,
      mild: Double = 0.5, extreme: Double = CostBased,
      maxOverFetchK: Int = 4096,
      metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      tombstones: Option[Array[Long]] = None)
      : (Strategy, DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(org.apache.spark.sql.functions.col(qidCol).cast("long"),
        org.apache.spark.sql.functions.col(qvecCol))
      .as[(Long, Array[Float])].collect()
    val (strategy, rows) = serveFilteredLocalIdSetExplained(flat, graph,
      qRows, k, idSet, nprobe, efSearch, overFetchMult, selectivity,
      mild, extreme, maxOverFetchK, metric, tombstones)
    (strategy, spark.createDataset(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
      .toDF("qid", "rank", "neighbor_id", "dist"))
  }
}
