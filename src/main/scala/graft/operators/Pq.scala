package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Product quantization (PQ) — the memory-compressed vector storage +
  * asymmetric-distance (ADC) search path.
  *
  * The reference ships a scalar-quantized copy of its corpus (the
  * `_scalar.npy` variant, /root/reference/utils_grid_search.py:358-363)
  * to trade precision for footprint; PQ is the stronger form of the
  * same trade used by every large-scale ANN system (IVF-PQ): split
  * each d-dim vector into `m` subvectors of d/m dims, k-means each
  * subspace to `ksub` centroids, store only the m one-byte centroid
  * codes. At m=8, ksub=256 a 64-dim fp32 vector compresses 256 B →
  * 8 B (32×): a 100 TB fp32 corpus becomes ~3 TB of codes — the
  * difference between spilling to disk and searching in memory.
  *
  * Search is ADC: per query, precompute LUT[sub][code] =
  * sqdist(query_sub, codebook[sub][code]) — m×ksub entries, once per
  * query — then each candidate's distance is m table lookups + adds,
  * no float math against the vector itself. Mathematically
  * ADC(q, codes) == sqdist(q, reconstruct(codes)) exactly (the
  * subspace squared distances partition the full squared distance), a
  * property PqSpec pins by comparing against exact k-NN over the
  * decoded vectors.
  *
  * Spark shape mirrors Knn.exact: codebooks + queries broadcast, one
  * narrow mapPartitions pass over the code table with per-query
  * bounded heaps, q×k partial rows into the shared TopKSmallest
  * merge. Training, assignment and search never shuffle data-side
  * rows.
  */
object Pq {

  /** Named PQ operating points — the measured knee shipped as product
    * configuration instead of scaladoc lore (round-13 verdict task 3).
    * A preset bundles the codebook shape (`m`, `ksub`) with the
    * refined-serving shortlist depth (`kfactor`); train with
    * `Pq.train(data, p.m, p.ksub)` and serve with `refineShortlist`
    * over a `searchPersistedAdc` shortlist of k·`p.kfactor`. The
    * sidecar (`PqMeta`) still records whatever shape a layout was
    * actually written with, so presets never reinterpret old layouts. */
  final case class Preset(m: Int, ksub: Int, kfactor: Int)

  /** The recall ≥ 0.8 serving preset: m=16 / ksub=256 (one-byte
    * codes) / kfactor=32 — measured 0.8925 recall@10 @ 181.7 qps at
    * 5M×64 (16 B/vec, 16× compression, `BENCH_scale_r13.json`
    * pq_knee). The knee sweep showed BYTES PER VECTOR, not shortlist
    * depth, binds refined recall: m=8's curve saturates at 0.80 even
    * at kfactor=64, so presets move `m` first. */
  val Recall08Preset: Preset = Preset(m = 16, ksub = 256, kfactor = 32)

  /** The maximum-compression preset: m=8 / ksub=256 / kfactor=16
    * (8 B/vec, 32×) — recall@10 0.607 at 310.8 qps at the same shape.
    * The right tier only when footprint outranks recall (e.g. a
    * coarse pre-filter ahead of an exact re-rank over a hotter
    * tier). */
  val Compress32xPreset: Preset = Preset(m = 8, ksub = 256, kfactor = 16)

  /** Per-subspace codebooks: codebooks(sub)(code) is a d/m-dim
    * centroid. */
  final case class Codebook(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Float]]]) {
    def reconstruct(codes: Array[Int]): Array[Float] = {
      val out = new Array[Float](m * dsub)
      var s = 0
      while (s < m) {
        System.arraycopy(codebooks(s)(codes(s)), 0, out, s * dsub, dsub)
        s += 1
      }
      out
    }
  }

  /** Train per-subspace k-means codebooks — all m subspaces JOINTLY:
    * one seeded hash-ranked sample seeds every subspace (same seed
    * rows AnnIvf.train would pick, sliced), and each Lloyd iteration
    * is ONE `AnnIvf.lloydStep` pass over m×ksub cells instead of m
    * independent jobs — 1 + iterations Spark jobs total vs
    * m·(1 + iterations). At scale: train on a bounded sample — PQ
    * codebooks need ~10^5-10^6 rows regardless of corpus size. */
  def train(data: DataFrame, m: Int = 8, ksub: Int = 16,
      iterations: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): Codebook = {
    require(ksub >= 1, s"Pq.train: ksub must be >= 1, got $ksub")
    val seeds = AnnIvf.seedRows(data, ksub, idCol, vecCol)
    require(seeds.nonEmpty, "cannot train PQ on an empty table")
    val dim = seeds(0).length
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = Iterator.iterate(Array.tabulate(m)(s =>
      seeds.map(_.slice(s * dsub, (s + 1) * dsub))))(
      AnnIvf.lloydStep(data, vecCol, _)).drop(iterations).next()
    Codebook(m, dsub, books)
  }

  /** Encode every vector to its m nearest-subspace-centroid codes:
    * (idCol, codes ARRAY<INT>). m narrow argmin expressions against
    * the broadcast codebooks — zero shuffle, codegen'd end to end. */
  def encode(data: DataFrame, cb: Codebook,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codeCols = (0 until cb.m).map { s =>
      GraftFunctions.nearestCentroid(
        slice(col(vecCol), s * cb.dsub + 1, cb.dsub), cb.codebooks(s))
    }
    data.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** Decode codes back to the reconstructed (quantized) vectors —
    * test/debug surface for the ADC identity. */
  def decode(codes: DataFrame, cb: Codebook,
      idCol: String = "vec_id"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    codes.select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Int])]
      .map { case (id, cs) => (id, bc.value.reconstruct(cs)) }
      .toDF(idCol, "embedding")
  }

  /** ADC top-k search over the code table. Exactly equivalent to
    * brute-force sqeuclidean k-NN over `decode(codes)` (same
    * tie-break: dist asc, id asc), at m lookups per candidate. */
  def searchAdc(codes: DataFrame, cb: Codebook, queries: DataFrame, k: Int,
      idCol: String = "vec_id",
      qidCol: String = "qid", qvecCol: String = "q_embedding"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])].collect()
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcCb = spark.sparkContext.broadcast(cb)
    val partials = codes
      .select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qs = bcQ.value
        val book = bcCb.value
        val m = book.m; val dsub = book.dsub; val ksub = book.codebooks(0).length
        // LUT(q)(sub*ksub + code) = sqdist(query subvector, centroid);
        // built once per (partition × query), amortized over the scan
        val luts = Array.tabulate(qs.length) { qi =>
          val q = qs(qi)._2
          val lut = new Array[Double](m * ksub)
          var s = 0
          while (s < m) {
            var c = 0
            while (c < ksub) {
              val cen = book.codebooks(s)(c)
              var acc = 0.0; var j = 0
              while (j < dsub) {
                val d = q(s * dsub + j).toDouble - cen(j).toDouble
                acc += d * d; j += 1
              }
              lut(s * ksub + c) = acc
              c += 1
            }
            s += 1
          }
          lut
        }
        val heaps = Array.fill(qs.length)(new graft.functions.TopKBuffer(k))
        it.foreach { case (id, cs) =>
          var qi = 0
          while (qi < qs.length) {
            val lut = luts(qi)
            var acc = 0.0; var s = 0
            while (s < m) { acc += lut(s * ksub + cs(s)); s += 1 }
            heaps(qi).insert(acc, id)
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sorted.iterator.map { case (d, id) => (qs(i)._1, id, d) }
        }
      }
      .toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, k, col("_dist"), col("_nnid"), col("qid"))
  }

  /** ADC shortlist + exact re-rank (the standard IVF-PQ "refine"
    * stage): the caller's ADC shortlist — `searchAdc` or
    * `searchPersistedAdc` at k·kfactor — is re-scored exactly over
    * only those rows' fp32 vectors (equi-join on id, q·k·kfactor rows,
    * queries broadcast). Recovers most of the recall PQ loses while
    * still scanning only codes. Taking the shortlist as input lets ONE
    * ADC scan feed both the pure-ADC metric (its rank <= k prefix: the
    * same (dist, id) total order makes top-k the head of
    * top-k·kfactor) and the refined serve within a single run. */
  def refineShortlist(shortlist: DataFrame, data: DataFrame,
      queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding"): DataFrame = {
    val candidates = shortlist
      .select(col("qid"), col("neighbor_id"))
      .join(data.select(col(idCol).as("neighbor_id"), col(vecCol)),
        "neighbor_id")
      .join(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol))),
        "qid")
    Knn.topKFrom(candidates, k,
      GraftFunctions.sqDist(col(vecCol), col(qvecCol)),
      col("neighbor_id"), col("qid"))
  }

  /** Residuals of indexed vectors against their assigned cell
    * centroid — the classic IVF-PQ refinement (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search" §IV; FAISS
    * IndexIVFPQ encodes residuals by default): on clustered data the
    * raw vector is dominated by the cell centroid every in-cell
    * neighbor shares, so raw-vector codes collapse within a cell and
    * ADC cannot rank inside it (measured on the 1000-cluster scale
    * workload: recall@10 0.18 raw). Quantizing vec − centroid(cid)
    * spends the whole codebook on the within-cell signal. The
    * subtraction is float32 (zip_with on float arrays) so it is
    * bit-reproducible across engines. Narrow: centroids broadcast,
    * no shuffle. */
  def residuals(indexed: DataFrame, centroids: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    indexed.join(broadcast(centroids), "cid")
      .withColumn("_resid",
        zip_with(col(vecCol), col("centroid"), (a, b) => a - b))
      .drop("centroid")

  /** Persist the FULL IVF-PQ index: coarse cell assignment + PQ codes,
    * clustered `partitionBy(cid)` — one parquet partition directory
    * per cell, rows are (id, codes) only. This is the production
    * 100-TB layout: a fp32 corpus stored as ~3% codes, AND probe-time
    * cell selection becomes parquet PARTITION PRUNING (the unprobed
    * ~1−nprobe/C of the files are never opened). Assignment and
    * encoding are both narrow expressions — building the index never
    * shuffles the corpus; the only cost is the clustered write.
    *
    * `extraCols` carries metadata columns (labels, ratings, …) into
    * the code table so serve-time predicates can push into the scan —
    * query-time filtered search over the compressed layout.
    *
    * RESIDUAL IS THE DEFAULT (`residual = true`): codes are
    * PQ(vec − centroid(cid)), not PQ(vec) — the classic IVF-PQ
    * (Jégou et al. 2011 §IV; FAISS IndexIVFPQ's default) and the only
    * mode that ranks inside a cell on clustered data. Raw-vector
    * codes collapse within a cell (every member shares the centroid
    * the codebook then re-encodes): measured at 5M×64, raw-ADC
    * recall@10 plateaus at ~0.23 and does NOT move from nprobe 4→16 —
    * the user-facing knob goes dead because reconstruction error, not
    * probe coverage, is the ceiling. Train the codebook on
    * `residuals(indexed, centroids)` (vecCol "_resid") and search
    * with the matching `residual` flag — all maintenance/search
    * defaults here agree, so default-to-default composition is
    * always consistent; pass `residual = false` everywhere explicitly
    * if you truly want raw codes (e.g. unclustered data).
    *
    * THE DOCUMENTED SERVING ENTRY for this layout is a residual
    * `searchPersistedAdc` shortlist of k·kfactor re-ranked exactly by
    * `refineShortlist`: the two-stage serve recovers the
    * recall PQ loses while still scanning only codes —
    * raw-ADC-only serving is a diagnostic mode, not the product
    * path.
    *
    * OPERATING POINT (the r13 kfactor × m sweep at 5M×64, nprobe=4,
    * BENCH_scale_r13.json pq_knee — all points one window): the
    * binding constraint on refined recall is BYTES PER VECTOR, not
    * the shortlist depth. At m=8 (8 B/vec, 32× compression) recall@10
    * saturates ~0.60/0.71/0.80 at kfactor 16/32/64 — deepening the
    * shortlist pays linearly in re-rank cost for a flattening curve.
    * m=16 (16 B/vec, 16× compression, 4-dim subvectors) DOMINATES the
    * m=8 tail: 0.84 @ kfactor=16, 0.89 @ 32, 0.94 @ 64 — higher
    * recall at comparable-or-better qps than m=8/kfactor=64. The
    * documented knee for recall ≥ 0.8 serving is therefore
    * m=16 / kfactor=16–32; reach for kfactor before m only below the
    * 0.8 line where m=8's 32× compression is the point of the tier. */
  def writeIvfPqIndex(data: DataFrame, centroids: DataFrame, cb: Codebook,
      path: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      extraCols: Seq[String] = Nil,
      residual: Boolean = true): Unit =
    writeIvfPqIndexed(AnnIvf.index(data, centroids, idCol, vecCol),
      centroids, cb, path, idCol, vecCol, extraCols, residual)

  /** `writeIvfPqIndex` for a corpus that already carries its `cid`
    * assignment (the output of `AnnIvf.index`) — a caller holding the
    * assigned index (as the coarse build always does) must not pay the
    * n × C argmin a second time just to write codes. */
  def writeIvfPqIndexed(indexed: DataFrame, centroids: DataFrame,
      cb: Codebook, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      extraCols: Seq[String] = Nil,
      residual: Boolean = true): Unit = {
    val (base, encCol) =
      if (residual) (residuals(indexed, centroids, vecCol), "_resid")
      else (indexed, vecCol)
    val codeCols = (0 until cb.m).map { s =>
      GraftFunctions.nearestCentroid(
        slice(col(encCol), s * cb.dsub + 1, cb.dsub), cb.codebooks(s))
    }
    base.select(col(idCol) +: array(codeCols: _*).as("codes") +:
        extraCols.map(col) :+ col("cid"): _*)
      // one shuffle by cid → one file per cell, not tasks × cells
      // files (see AnnIvf.writeIndex)
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    // the encode mode is INDEX state, not caller knowledge: a layout
    // written residual and searched raw (or vice versa) decodes
    // garbage with no error — FAISS serializes this flag inside the
    // index for the same reason. The sidecar records it next to the
    // codes; every search validates against it (dot-prefixed:
    // parquet scans never see it).
    writePqMeta(indexed.sparkSession, path,
      PqMeta(residual, cb.m, cb.dsub, cb.codebooks(0).length))
  }

  /** The persisted layout's encode parameters — written by
    * `writeIvfPqIndexed`, validated by `searchPersistedAdc*`. A flag
    * mismatch between writer and searcher is silent garbage (raw codes
    * decoded as residuals rank noise), so it must fail loudly
    * instead. */
  final case class PqMeta(residual: Boolean, m: Int, dsub: Int, ksub: Int)

  private val PqMetaFile = ".graft_pq_meta.json"

  private def writePqMeta(spark: SparkSession, path: String,
      meta: PqMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, PqMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"residual":${meta.residual},"m":${meta.m},"dsub":${meta.dsub},"ksub":${meta.ksub}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The persisted encode parameters, if the layout carries them
    * (layouts written before the sidecar existed return None and skip
    * validation — the caller's flags are trusted as before). */
  def readPqMeta(spark: SparkSession, path: String): Option[PqMeta] = {
    val p = new org.apache.hadoop.fs.Path(path, PqMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def num(key: String): Option[Int] =
        (s""""$key"\\s*:\\s*(\\d+)""".r).findFirstMatchIn(text)
          .map(_.group(1).toInt)
      val res = (""""residual"\s*:\s*(true|false)""".r)
        .findFirstMatchIn(text).map(_.group(1).toBoolean)
      for (r <- res; m <- num("m"); d <- num("dsub"); k <- num("ksub"))
        yield PqMeta(r, m, d, k)
    }
  }

  /** Fail loudly when the caller's encode flags disagree with what the
    * layout was written with — the silent-garbage hazard the sidecar
    * exists to close. No-op when the layout predates the sidecar. */
  private def validatePqMode(spark: SparkSession, path: String,
      cb: Codebook, residual: Boolean, what: String): Unit =
    readPqMeta(spark, path).foreach { meta =>
      require(meta.residual == residual,
        s"$what: this IVF-PQ layout was written with residual=" +
          s"${meta.residual} but the call passed residual=$residual — " +
          "decoding would silently rank garbage; pass residual=" +
          s"${meta.residual} (the sidecar ${PqMetaFile} records the " +
          "layout's encode mode)")
      require(meta.m == cb.m && meta.dsub == cb.dsub &&
          meta.ksub == cb.codebooks(0).length,
        s"$what: codebook shape (m=${cb.m}, dsub=${cb.dsub}, ksub=" +
          s"${cb.codebooks(0).length}) does not match the layout's " +
          s"(m=${meta.m}, dsub=${meta.dsub}, ksub=${meta.ksub}) — " +
          "the codes were written with a different codebook")
    }

  /** ADC search over the persisted clustered code table: per query,
    * probe the `nprobe` nearest coarse cells; the probed-cell filter
    * is a partition-column predicate (planning-time pruning); within
    * the scanned partitions each row is scored via the per-query LUT
    * ONLY against the queries that probed its cell. Equivalent to
    * `searchAdc` restricted to each query's probed cells — at
    * nprobe == C it is bit-identical to full ADC (pinned in PqSpec).
    *
    * Scale shape: queries/probe-map/codebook broadcast; the code scan
    * is narrow (no data-side shuffle); the only shuffle is the q×k
    * partial-heap merge, exactly as `Knn.exact`. */
  def searchPersistedAdc(spark: SparkSession, path: String,
      centroids: DataFrame, cb: Codebook, queries: DataFrame, k: Int,
      nprobe: Int, idCol: String = "vec_id",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      dataFilter: Option[org.apache.spark.sql.Column] = None,
      residual: Boolean = true,
      honorTombstones: Boolean = true,
      twoLevel: Option[AnnIvf.TwoLevelProbe] = None): DataFrame = {
    import spark.implicits._
    // encode-mode guard: searching a raw layout with residual LUTs
    // (or vice versa) silently ranks garbage — the sidecar written by
    // writeIvfPqIndexed makes the mismatch a loud error instead
    validatePqMode(spark, path, cb, residual, "Pq.searchPersistedAdc")
    // tombstone parity with AnnIvf.searchPersisted: spread deletes
    // recorded by AnnIvf.tombstone on this layout (layout-generic,
    // ids only) are masked below the top-k until folded
    val tombFilter: DataFrame => DataFrame =
      if (!honorTombstones) identity
      else AnnIvf.readTombstones(spark, path) match {
        case Some(t) => df => df.join(
          broadcast(t.select(col(t.columns.head).as(idCol))),
          Seq(idCol), "left_anti")
        case None => identity
      }
    val qRows = queries
      .select(col(qidCol).cast("long"), col(qvecCol))
      .as[(Long, Array[Float])].collect()
    val qIndex = qRows.iterator.map(_._1).zipWithIndex.toMap
    // residual mode scores codes against q − centroid(cell), so the
    // LUT is per (query, probed cell) instead of per query; the cell
    // centroids ride along in a broadcast map. float32 subtraction,
    // matching the encode side exactly.
    val cenMap: Map[Int, Array[Float]] =
      if (!residual) Map.empty
      else centroids.select(col("cid").cast("int"), col("centroid"))
        .as[(Int, Array[Float])].collect().toMap
    // (cell -> probing query positions), computed with the same
    // NearestCells expression the float IVF probes use
    val probePairs = AnnIvf
      .probeRanks(centroids, queries, nprobe, qidCol, qvecCol, twoLevel)
      .select(col(qidCol).cast("long"), col("cid")).as[(Long, Int)]
      .collect()
    val cellToQ: Map[Int, Array[Int]] = probePairs.groupBy(_._2)
      .map { case (c, arr) => c -> arr.map(p => qIndex(p._1)).sorted }
    val probedCells = cellToQ.keys.toSeq.sorted
    val bcQ = spark.sparkContext.broadcast(qRows)
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcCellToQ = spark.sparkContext.broadcast(cellToQ)
    val bcCen = spark.sparkContext.broadcast(cenMap)
    val partials = tombFilter(dataFilter
      .foldLeft(spark.read.parquet(path))(_.filter(_))
      .filter(col("cid").isin(probedCells: _*)))
      .select(col(idCol).cast("long"), col("codes"), col("cid"))
      .as[(Long, Array[Int], Int)]
      .mapPartitions { it =>
        val qs = bcQ.value
        val book = bcCb.value
        val toQ = bcCellToQ.value
        val cens = bcCen.value
        val m = book.m; val dsub = book.dsub
        val ksub = book.codebooks(0).length
        def buildLut(qi: Int, cen: Array[Float]): Array[Double] = {
          val q = qs(qi)._2
          val t = new Array[Double](m * ksub)
          var s = 0
          while (s < m) {
            var c = 0
            while (c < ksub) {
              val cw = book.codebooks(s)(c)
              var acc = 0.0; var j = 0
              while (j < dsub) {
                val idx = s * dsub + j
                // float32 query residual, mirroring encode's zip_with
                val qv = if (cen == null) q(idx).toDouble
                         else (q(idx) - cen(idx)).toDouble
                val d = qv - cw(j).toDouble
                acc += d * d; j += 1
              }
              t(s * ksub + c) = acc
              c += 1
            }
            s += 1
          }
          t
        }
        // LUTs built lazily: a partition only pays for the (query
        // [, cell]) pairs whose cells it actually holds. Non-residual
        // LUTs are cell-independent — a flat array by query position
        // keeps the hot loop at one array load. Residual LUTs are per
        // probe pair; rows arrive clustered by cid (one file per
        // cell), so a per-query (cid, lut) memo hits on every row
        // after the first of each cell — no map, no boxing.
        val residualMode = cens.nonEmpty
        val flatLuts = new Array[Array[Double]](qs.length)
        val memoCid = Array.fill(qs.length)(-1)
        def lut(qi: Int, cid: Int): Array[Double] =
          if (!residualMode) {
            var t = flatLuts(qi)
            if (t == null) { t = buildLut(qi, null); flatLuts(qi) = t }
            t
          } else {
            var t = flatLuts(qi)
            if (t == null || memoCid(qi) != cid) {
              t = buildLut(qi, cens(cid)); flatLuts(qi) = t
              memoCid(qi) = cid
            }
            t
          }
        val heaps = Array.fill(qs.length)(new graft.functions.TopKBuffer(k))
        it.foreach { case (id, cs, cid) =>
          toQ.get(cid).foreach { qis =>
            var i = 0
            while (i < qis.length) {
              val qi = qis(i)
              val t = lut(qi, cid)
              var acc = 0.0; var s = 0
              while (s < m) { acc += t(s * ksub + cs(s)); s += 1 }
              heaps(qi).insert(acc, id)
              i += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sorted.iterator.map { case (d, id) => (qs(i)._1, id, d) }
        }
      }
      .toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, k, col("_dist"), col("_nnid"), col("qid"))
  }
}
