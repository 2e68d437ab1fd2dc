package graft.operators

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CellProbe, TopKBuffer}

/** Parameter-grid benchmark runner — the engine's equivalent of the
  * reference's sequential combo loop
  * (/root/reference/cuvs_bench_grid_search_v3.py:639-722): cartesian
  * parameter grid with constraint pruning (:136-138), one index build
  * per build-param combo, per-combo recall against the exact oracle,
  * one results row per combo (result dict :315-335).
  *
  * Scale design — shared-scan evaluation: the reference re-runs the
  * search once per search-param combo over the same index. Here all
  * `nprobe` levels of one build come from ONE narrow pass over the
  * index at max(nprobe) (`evalLevels`): a candidate in the cell a
  * query ranks r-th belongs to the smallest level >= r, and since the
  * levels nest, level p's top-k is the merge of the top-k's at levels
  * <= p and its candidate count their sum — one distance and one heap
  * insert per candidate. Only (level, query) partial top-k lists and
  * counts leave a task. With shared quantizers and precomputed truth
  * a call runs 5 Spark jobs: the filtered count (2), the query and
  * truth collects, the pass. recall and n_candidates are
  * deterministic, so downstream analytics (Pareto/brackets/argmax)
  * stay reproducible; search_time is the pass's wall clock attributed
  * cost-proportionally (by candidates), QPS is human-facing.
  */
object GridSearch {

  case class Combo(npartitions: Int, nprobe: Int)

  /** nprobe <= npartitions is the constraint-pruning analog. */
  def defaultGrid: Seq[Combo] =
    for {
      np <- Seq(8, 16)
      p <- Seq(1, 2, 4, 8)
      if p <= np
    } yield Combo(np, p)

  case class ResultRow(
      algo: String, npartitions: Int, nprobe: Int, k: Int,
      filter_name: String, total_vectors: Long, total_queries: Long,
      filtering_percentage: Double, build_time_seconds: Double,
      search_time_seconds: Double, queries_per_second: Double,
      recall: Double, n_candidates: Long,
      error: Option[String] = None)

  /** Exact oracle pre-grouped to (qid, gt_ids) — shareable across
    * both algo sweeps (the reference computes ground truth once per
    * run, utils_grid_search.py:521-583). */
  def truthSetsOf(data: DataFrame, queries: DataFrame, filterCol: Column,
      k: Int = 10): DataFrame =
    Knn.exact(data.filter(filterCol), queries, k)
      .groupBy("qid").agg(collect_list("neighbor_id").as("gt_ids"))

  /** One coarse quantizer (centroids, cached index, build seconds) per
    * npartitions value, shareable across BOTH algo sweeps: AnnIvf.train
    * is seeded/deterministic, so the shared result is bit-identical to
    * per-sweep retraining — only the wall clock changes (one train
    * instead of two). The centroid table stays an uncached local
    * relation, whose collects run no job; caller owns the index cache. */
  def trainQuantizers(filtered: DataFrame, nparts: Seq[Int],
      iterations: Int = 2): Map[Int, (DataFrame, DataFrame, Double)] = {
    // OVERLAPPED BUILDS (r20, guide §2.6): each npartitions build is an
    // independent seeded train, run from its own driver thread so one
    // build's jobs back-fill the other's stragglers; only the build
    // wall-clock carries scheduler contention.
    val built = scala.collection.concurrent.TrieMap
      .empty[Int, (DataFrame, DataFrame, Double)]
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = nparts.distinct.map { np =>
      Future {
        val t0 = System.nanoTime()
        val c = AnnIvf.train(filtered, np, iterations = iterations)
        val idx = AnnIvf.index(filtered, c).cache()
        built(np) = (c, idx, 0.0) // registered for cleanup pre-materialize
        idx.count()
        built(np) = (c, idx, (System.nanoTime() - t0) / 1e9)
      }
    }
    try {
      futures.foreach(Await.result(_, Duration.Inf))
      built.toMap
    } catch {
      // a failing np must not leak the caches of the nps built before
      // it (the caller never sees them); await the stragglers first so
      // no future races the cleanup
      case e: Throwable =>
        futures.foreach(f => scala.util.Try(Await.result(f, Duration.Inf)))
        built.values.foreach(_._2.unpersist(blocking = false))
        throw e
    }
  }

  def run(spark: SparkSession, data: DataFrame, queries: DataFrame,
      filterName: String, filterCol: Column, totalBase: Long,
      grid: Seq[Combo] = defaultGrid, k: Int = 10,
      precomputedTruth: Option[DataFrame] = None,
      sharedQuantizers: Map[Int, (DataFrame, DataFrame, Double)] =
        Map.empty): DataFrame = {
    import spark.implicits._
    val filtered = data.filter(filterCol)
    val nVec = filtered.count()
    // the queries and the exact oracle are read once, onto the driver
    val qs = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Option[Long], Array[Float])].collect()
    val (nQ, keptPct) = (qs.length.toLong, 100.0 * nVec / totalBase)
    // qid -> (|gt_ids|, its non-null ids), one row per qid (truthSetsOf)
    val truth = precomputedTruth.getOrElse(truthSetsOf(data, queries, filterCol, k))
      .select(col("qid").cast("long"), col("gt_ids").cast("array<bigint>"))
      .collect().collect { case r if !r.isNullAt(0) =>
        val gt = Option(r.getSeq[Any](1)).getOrElse(Nil)
        r.getLong(0) -> ((gt.size, gt.collect { case id: Long => id }.toSet))
      }.toMap

    // groups evaluated concurrently (r20, guide §2.6), assembled in
    // sorted-np order: the sequential loop's row order
    val rows = parallelGroups(grid.groupBy(_.npartitions).toSeq.sortBy(_._1)) {
      case (npart, combos) =>
        // P9 error-row pass-through: a failing build or evaluation
        // yields error rows for all its combos, never aborts the sweep
        // (cuvs_bench_grid_search_v3.py:706-722)
        scala.util.Try {
          val shared = sharedQuantizers.get(npart)
          val (centroids, indexed, buildSec) = shared.getOrElse(
            trainQuantizers(filtered, Seq(npart))(npart))
          try {
            val t1 = System.nanoTime()
            val recallByNp = evalLevels(indexed, centroids, qs, truth,
              combos.map(_.nprobe).distinct.sorted.toArray, k)
            val searchWall = (System.nanoTime() - t1) / 1e9
            val totalCand = math.max(recallByNp.values.map(_._2).sum, 1L)
            combos.sortBy(_.nprobe).map { c =>
              val (rec, nCand) = recallByNp(c.nprobe)
              // cost-proportional share of the pass's wall clock
              val searchSec = searchWall * nCand / totalCand
              ResultRow("ivf", npart, c.nprobe, k, filterName, nVec, nQ,
                keptPct, buildSec, searchSec, nQ / math.max(searchSec, 1e-9),
                math.rint(rec * 1e6) / 1e6, nCand)
            }
          } finally {
            // never leak a locally-trained index cache, success or throw
            if (shared.isEmpty) indexed.unpersist()
          }
        }.recover { case e =>
          combos.sortBy(_.nprobe).map(c =>
            ResultRow("ivf", npart, c.nprobe, k, filterName, nVec, nQ,
              keptPct, -1.0, -1.0, -1.0, -1.0, -1L,
              Some(e.toString.take(200))))
        }.get
    }
    rows.toDF()
  }

  /** (recall, n_candidates) per nprobe level (`levels` ascending) from
    * one pass over `indexed`: the top-level probe lists broadcast as a
    * cid -> (query, rank) index, one bounded heap and count per
    * (level, query) in each task, one reduceByKey, the cumulative merge
    * on the driver. A query counts at a level only if it has a
    * candidate there: recall = sum |found ∩ gt| / sum |gt| over those
    * queries (0 if that sum is 0). A level with no candidate is absent. */
  private def evalLevels(indexed: DataFrame, centroids: DataFrame,
      qs: Array[(Option[Long], Array[Float])],
      truth: Map[Long, (Int, Set[Long])], levels: Array[Int],
      k: Int): Map[Int, (Double, Long)] = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val (nQ, nL) = (qs.length, levels.length)
    val probe = new CellProbe(AnnIvf.collectCentroids(centroids), levels.last)
    val cells = AnnIvf.cellProbes(qs.map { case (qid, v) =>
      if (qid.isEmpty || v == null) null else probe(v) })
    val levelOf = Array.tabulate(levels.last + 1)(r => levels.indexWhere(_ >= r))
    val bc = spark.sparkContext.broadcast((qs.map(_._2), cells, levelOf))
    val partials = indexed
      .select(col("vec_id").cast("long"), col("embedding"), col("cid"))
      .as[(java.lang.Long, Array[Float], java.lang.Integer)].rdd
      .mapPartitions { rows =>
        val (qvecs, cells, levelOf) = bc.value
        val heaps = new Array[TopKBuffer](nL * nQ)
        val counts = new Array[Long](nL * nQ)
        rows.foreach { case (id, v, cid) =>
          val p = if (cid == null) null else cells.getOrElse(cid, null)
          var j = 0
          while (p != null && j < p.queries.length) {
            val q = p.queries(j)
            val s = levelOf(p.ranks(j)) * nQ + q
            counts(s) += 1
            // a null id or vector counts as a candidate but never ranks
            if (id != null && v != null) {
              if (heaps(s) == null) heaps(s) = new TopKBuffer(k)
              heaps(s).insert(Knn.distBounded(0, v, qvecs(q), heaps(s).bound), id)
            }
            j += 1
          }
        }
        Iterator.range(0, nL * nQ).filter(counts(_) > 0).map(s => (s,
          pack(counts(s), Option(heaps(s)).fold(Array.empty[(Double, Long)])(_.sorted))))
      }
    val merged = partials.reduceByKey((a, b) =>
      pack(a(0) + b(0), into(into(new TopKBuffer(k), a), b).sorted),
      math.max(1, math.min(nL * nQ,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))).collectAsMap()
    val hits, gtSum, cand = new Array[Long](nL)
    for (q <- 0 until nQ) {
      val (gtSize, gtIds) = qs(q)._1.flatMap(truth.get).getOrElse((0, Set.empty[Long]))
      val h = new TopKBuffer(k)
      var n = 0L
      for (l <- 0 until nL) {
        merged.get(l * nQ + q).foreach { a => n += a(0); into(h, a) }
        if (n > 0) {
          cand(l) += n; gtSum(l) += gtSize
          hits(l) += h.sorted.map(_._2).distinct.count(gtIds)
        }
      }
    }
    levels.indices.filter(cand(_) > 0).map(l => levels(l) ->
      ((if (gtSum(l) == 0) 0.0 else hits(l).toDouble / gtSum(l)), cand(l))).toMap
  }

  /** A (level, query) partial as one primitive array, the compact
    * shuffle record: (count, (id, dist bits)*) in (dist, id) order. */
  private def pack(n: Long, top: Array[(Double, Long)]): Array[Long] =
    n +: top.flatMap { case (d, id) => Array(id, doubleToRawLongBits(d)) }
  private def into(h: TopKBuffer, a: Array[Long]): TopKBuffer = {
    (1 until a.length by 2).foreach(i => h.insert(longBitsToDouble(a(i + 1)), a(i))); h }

  /** Evaluate independent sweep groups from concurrent driver threads
    * (guide §2.6 back-fill) and flatten IN INPUT ORDER, so the result
    * rows are exactly the sequential flatMap's. Each group's evaluator
    * already converts failures to P9 error rows; a thrown non-fatal
    * still propagates like the sequential loop's would. */
  private def parallelGroups[G, R](groups: Seq[G])(eval: G => Seq[R]): Seq[R] = {
    if (groups.size <= 1) groups.flatMap(eval)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fs = groups.map(g => Future(eval(g)))
      fs.flatMap(Await.result(_, Duration.Inf))
    }
  }

  /** HNSW-analog grid (the reference's second algo sweep,
    * params_config.yaml:11-15: M / efConstruction / efSearch). One
    * graph-index build per (npartitions, m); every efSearch level
    * re-searches the SAME built graphs — matching the reference's
    * build-once-search-per-efSearch loop (utils_grid_search.py:613-632).
    */
  case class NswCombo(npartitions: Int, m: Int, efSearch: Int)

  def defaultNswGrid: Seq[NswCombo] =
    for {
      np <- Seq(8)
      m <- Seq(8, 16)
      ef <- Seq(16, 48)
    } yield NswCombo(np, m, ef)

  case class NswResultRow(
      algo: String, npartitions: Int, m: Int, ef_search: Int, k: Int,
      filter_name: String, total_vectors: Long, total_queries: Long,
      filtering_percentage: Double, build_time_seconds: Double,
      search_time_seconds: Double, queries_per_second: Double,
      recall: Double, n_candidates: Long,
      error: Option[String] = None)

  def runNsw(spark: SparkSession, data: DataFrame, queries: DataFrame,
      filterName: String, filterCol: Column, totalBase: Long,
      grid: Seq[NswCombo] = defaultNswGrid, k: Int = 10,
      nprobe: Int = 4,
      precomputedTruth: Option[DataFrame] = None,
      sharedQuantizers: Map[Int, (DataFrame, DataFrame, Double)] =
        Map.empty): DataFrame = {
    import spark.implicits._
    val filtered = data.filter(filterCol)
    val nVec = filtered.count()
    val nQ = queries.count()
    val keptPct = 100.0 * nVec / totalBase
    val truthSets = precomputedTruth.getOrElse {
      val t = truthSetsOf(data, queries, filterCol, k).cache()
      t.count()
      t
    }

    def errorRows(npart: Int, combos: Seq[NswCombo], e: Throwable) =
      combos.sortBy(c => (c.m, c.efSearch)).map(c =>
        NswResultRow("nsw", npart, c.m, c.efSearch, k, filterName, nVec, nQ,
          keptPct, -1.0, -1.0, -1.0, -1.0, -1L, Some(e.toString.take(200))))
    val rows = grid.groupBy(_.npartitions).toSeq.sortBy(_._1)
      .flatMap { case (npart, npCombos) =>
        // ONE coarse quantizer per npartitions, shared by every m (a
        // seeded train, so every recall equals per-m retraining's); a
        // combo's build time is quantizer + graph. A quantizer failure
        // gives error rows for the whole npartitions group (P9).
        scala.util.Try(sharedQuantizers.getOrElse(npart,
          trainQuantizers(filtered, Seq(npart))(npart))) match {
          case scala.util.Failure(e) => errorRows(npart, npCombos, e)
          case scala.util.Success((centroids, indexed, quantSec)) => try {
            // probe lists depend only on (centroids, queries, nprobe):
            // collected once per group, reused by every (m, efSearch)
            val probed = NswGraph.probeQueries(centroids, queries,
              math.min(nprobe, npart))
            // per-m graph builds/searches overlap (r20), assembled in
            // order like the ivf groups
            parallelGroups(npCombos.groupBy(_.m).toSeq.sortBy(_._1)) {
              case (m, combos) => scala.util.Try {
                val t0 = System.nanoTime()
                val graphs = NswGraph.buildIndex(indexed, m,
                  efConstruction = 2 * m).cache()
                graphs.count()
                val buildSec = quantSec + (System.nanoTime() - t0) / 1e9
                val out = combos.sortBy(_.efSearch).map { c =>
                  val t1 = System.nanoTime()
                  val rec = NswGraph.searchIndexProbed(graphs, probed, k,
                      c.efSearch)
                    .groupBy(col("qid"))
                    .agg(collect_list("neighbor_id").as("found_ids"))
                    .join(broadcast(truthSets), "qid")
                    .agg((sum(size(array_intersect(col("found_ids"),
                      col("gt_ids")))) / sum(size(col("gt_ids")))).as("recall"))
                    .head().getDouble(0)
                  val searchSec = (System.nanoTime() - t1) / 1e9
                  // deterministic cost proxy: beam visits are bounded
                  // by nprobe x efSearch x M per query
                  val nCand = nQ * math.min(nprobe, npart).toLong * c.efSearch * m
                  NswResultRow("nsw", npart, m, c.efSearch, k, filterName,
                    nVec, nQ, keptPct, buildSec, searchSec,
                    nQ / math.max(searchSec, 1e-9),
                    math.rint(rec * 1e6) / 1e6, nCand)
                }
                graphs.unpersist()
                out
              }.recover { case e => errorRows(npart, combos, e) }.get
            }
          } finally {
            // success or throw (e.g. in probeQueries): never leak the
            // locally-trained index cache
            if (!sharedQuantizers.contains(npart)) indexed.unpersist()
          }
        }
      }
    if (precomputedTruth.isEmpty) truthSets.unpersist()
    rows.toDF()
  }
}
