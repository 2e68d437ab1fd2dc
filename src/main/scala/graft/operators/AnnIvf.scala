package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Partitioned (IVF-style) approximate nearest-neighbor index — the
  * Spark-native re-expression of the reference's graph indexes (CAGRA
  * /root/reference/cuvs_bench_grid_search_v3.py:197-207, HNSW
  * utils_grid_search.py:634-686). Graph builds are inherently
  * sequential; the idiomatic distributed equivalent of their
  * recall/throughput knob is coarse quantization:
  *
  *   build:  k-means centroids (Lloyd steps as dense partition passes,
  *           deterministic seeded init) → every vector assigned to its
  *           nearest centroid — a NARROW per-row argmin against the
  *           broadcast centroid matrix (NearestCentroid expression):
  *           zero shuffle on the data side. At scale, the index table
  *           is WRITTEN `partitionBy("cid")` so probes prune parquet
  *           partitions;
  *   search: queries probe their `nprobe` nearest centroids (tiny
  *           broadcast join against the centroid table) and scan only
  *           those cells — `nprobe` is the recall↔QPS knob, the analog
  *           of CAGRA's `itopk_size`/`search_width` and HNSW's
  *           `efSearch` (params_config.yaml:2-15).
  *
  * Shuffle accounting at 100 TB: assignment/index = 0 shuffles (narrow
  * expression); Lloyd update = one reduceByKey shuffling at most C
  * dense (n, sums) rows per partition; search = one hash agg of
  * q x k partial rows per cell partition. The only data-sized movement
  * is the one-time clustered write.
  *
  * Determinism: seeded xxhash64 ranking picks the initial centroids
  * (partition-count-independent, unlike rand()); Lloyd updates are
  * averages — order-independent up to fp addition order, and
  * assignments tie-break to the lowest cid.
  */
object AnnIvf {

  /** (cid INT, centroid ARRAY<FLOAT>) */
  def train(data: DataFrame, numCentroids: Int, iterations: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    val seeds = seedRows(data, numCentroids, idCol, vecCol)
    val centroids = if (seeds.isEmpty) seeds else Iterator.iterate(
      Array(seeds))(lloydStep(data, vecCol, _)).drop(iterations).next()(0)
    val spark = data.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map(_.swap).toSeq.toDF("cid", "centroid")
  }

  /** The seeded init both k-means trainers share: the first `n` rows
    * by (xxhash64(id, 42), id), a sort over n rows. One Spark job. */
  private[operators] def seedRows(data: DataFrame, n: Int, idCol: String,
      vecCol: String): Array[Array[Float]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val seeds = data
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_h", xxhash64(col("_id"), lit(42)))
      .orderBy(col("_h"), col("_id"))
      .limit(n)
      .select(col("_v")).as[Array[Float]].collect()
    checkSeeds(seeds, vecCol)
    seeds
  }

  private def checkSeeds(seeds: Array[Array[Float]], vecCol: String): Unit = {
    require(!seeds.contains(null), s"k-means: null $vecCol in a seed row")
    require(seeds.forall(_.length == seeds(0).length), s"k-means: seed " +
      s"$vecCol lengths differ: ${seeds.map(_.length).distinct.mkString(",")}")
  }

  /** One Lloyd update of k-means problems over consecutive dsub-dim
    * slices of each row (AnnIvf: one slice; PQ: m), as ONE dense
    * partition pass: each task runs `lloydPartials` over its rows;
    * non-empty cells shuffle as (cell, n, sums), at most P×C rows, and
    * one reduceByKey merges them in map order: the addition order of
    * the per-dimension sum() aggregate it replaced, so the means are
    * bit-identical (LloydParitySpec), with 1 job per step, not 2: on
    * 4 vCPUs (local[4]) serve_local's AnnIvf.train_s fell from 1.4 s
    * to 0.64 s. Empty cells keep their centroid. */
  private[operators] def lloydStep(data: DataFrame, vecCol: String,
      books: Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val partials = data.select(col(vecCol)).as[Array[Float]].rdd
      .mapPartitions(lloydPartials(_, books, vecCol))
    val reducers = math.min(books.length * books(0).length,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val means = try partials.reduceByKey(addPartial _, reducers).collect()
    catch { // a bad row's check, not the abort
      case e: org.apache.spark.SparkException
          if e.getCause.isInstanceOf[IllegalArgumentException] =>
        throw e.getCause
    }
    nextBooks(books, means)
  }

  /** One partition's Lloyd partials, shared by the Spark task and the
    * driver-local step: assign each row with NearestCentroid's kernel
    * and add it, in row order, into C×dsub doubles + C counts; emit
    * one flat (n, sums...) array per non-empty cell (the count is
    * exact as a double up to 2^53 rows). */
  private[operators] def lloydPartials(rows: Iterator[Array[Float]],
      books: Array[Array[Array[Float]]],
      vecCol: String): Iterator[(Int, Array[Double])] = {
    val (m, k, dsub) =
      (books.length, books(0).length, books(0)(0).length)
    // the child is never evaluated: only the assignment kernel runs
    val kernels = books.map(b => graft.functions.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal(0), b))
    val sums = new Array[Double](m * k * dsub)
    val counts = new Array[Long](m * k)
    val sub = new Array[Float](dsub)
    rows.foreach { v =>
      require(v != null, s"k-means: null $vecCol")
      require(v.length == m * dsub, s"k-means: a row's $vecCol has" +
        s" length ${v.length}, but the seeds have length ${m * dsub}")
      var s = 0
      while (s < m) {
        val x = if (m == 1) v
          else { System.arraycopy(v, s * dsub, sub, 0, dsub); sub }
        val cell = s * k + kernels(s).assignOne(x)
        counts(cell) += 1
        var j = 0
        while (j < dsub) { sums(cell * dsub + j) += x(j); j += 1 }
        s += 1
      }
    }
    Iterator.range(0, m * k).filter(counts(_) > 0).map(c => (c,
      counts(c).toDouble +: sums.slice(c * dsub, (c + 1) * dsub)))
  }

  /** Merge a later partial into an earlier one, in place. */
  private def addPartial(a: Array[Double], b: Array[Double]): Array[Double] = {
    var j = 0
    while (j < a.length) { a(j) += b(j); j += 1 }
    a
  }

  /** The books after a step: each merged cell's mean, empty cells
    * keep their centroid. */
  private def nextBooks(books: Array[Array[Array[Float]]],
      means: Iterable[(Int, Array[Double])]): Array[Array[Array[Float]]] = {
    val (k, dsub) = (books(0).length, books(0)(0).length)
    val next = books.map(_.clone())
    means.foreach { case (c, a) =>
      next(c / k)(c % k) = Array.tabulate(dsub)(j => (a(j + 1) / a(0)).toFloat) }
    next
  }

  /** Centroid matrix (cid-ordered) from a centroid table. */
  def collectCentroids(centroids: DataFrame): Array[Array[Float]] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.select(col("cid"), col("centroid")).as[(Int, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
  }

  /** Nearest-centroid assignment: (idCol, cid) — narrow, no shuffle. */
  def assign(data: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val matrix = collectCentroids(centroids)
    data.select(col(idCol),
      GraftFunctions.nearestCentroid(col(vecCol), matrix).as("cid"))
  }

  /** Index = data + cid (narrow). At 100 TB this is persisted
    * `write.partitionBy("cid").parquet(...)` so probe-time cell
    * selection becomes parquet partition pruning. */
  def index(data: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val matrix = collectCentroids(centroids)
    data.withColumn("cid",
      GraftFunctions.nearestCentroid(col(vecCol), matrix))
  }

  /** Super-centroid table (sid INT, centroid ARRAY<FLOAT>) for the
    * two-level coarse quantizer: k-means over the SUB-CENTROID matrix
    * itself (C rows — trivially cheap at any corpus size; the data is
    * never rescanned). √C supers by default.
    *
    * Trained ON THE DRIVER, bit-identical to `train` over the same
    * table: its partitions are collected once, in order (one job on a
    * cached table), the seeds are ranked by the same
    * (xxhash64(cid, 42), cid) key `seedRows` sorts on, and each step
    * runs `lloydPartials` per partition and merges the partials in
    * partition order, as `lloydStep`'s reduceByKey does — no Spark
    * job per step. */
  def trainSupers(centroids: DataFrame, numSupers: Int = 0,
      iterations: Int = 4): DataFrame = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val parts = centroids.select(col("cid"), col("centroid"))
      .as[(Int, Array[Float])].rdd.glom().collect()
    val c = parts.iterator.map(_.length).sum
    val nS = if (numSupers > 0) numSupers
      else math.max(1, math.ceil(math.sqrt(c.toDouble)).toInt)
    val seeds = parts.flatten.map { case (cid, v) =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      (XxHash64(Seq(Literal(cid), Literal(42)), 42).eval()
        .asInstanceOf[Long], cid, v)
    }.sortBy(r => (r._1, r._2)).take(nS).map(_._3)
    checkSeeds(seeds, "centroid")
    val rows = parts.map(_.map(_._2))
    val supers = if (seeds.isEmpty) seeds else Iterator.iterate(
      Array(seeds))(books => nextBooks(books, rows.toSeq
        .flatMap(p => lloydPartials(p.iterator, books, "centroid"))
        .groupMapReduce(_._1)(_._2)(addPartial))).drop(iterations).next()(0)
    supers.zipWithIndex.map(_.swap).toSeq.toDF("sid", "centroid")
  }

  /** members(sid) = ascending cids whose sub-centroid's nearest super
    * is sid — the same (dist, id) tie rule as every assignment here.
    * O(C·C1·dim) on the driver: microseconds next to any data scan. */
  def memberLists(supers: Array[Array[Float]],
      centroids: Array[Array[Float]]): Array[Array[Int]] = {
    val lists = Array.fill(supers.length)(
      new scala.collection.mutable.ArrayBuffer[Int])
    var c = 0
    while (c < centroids.length) {
      var best = -1; var bestD = Double.MaxValue
      var s = 0
      while (s < supers.length) {
        var acc = 0.0; var i = 0
        val n = math.min(centroids(c).length, supers(s).length)
        while (i < n) {
          val d = centroids(c)(i).toDouble - supers(s)(i).toDouble
          acc += d * d; i += 1
        }
        if (acc < bestD) { bestD = acc; best = s } // strict <: lowest sid
        s += 1
      }
      lists(best) += c
      c += 1
    }
    lists.map(_.toArray) // ascending cid by construction
  }

  /** TWO-LEVEL local probe (r18 — the measured next lever after the
    * sharded bound warming): the A-B-A comparator showed the sharded
    * mid bucket's remaining iso-work gap is the coarse argmin itself
    * (at 0.77% kept there is almost no distance work — per-query cost
    * is C centroid dots per shard, and K independent shards pay K×C
    * vs the single replica's K·C/2... see BENCH_scale_r18). This
    * prober is the ASSIGNMENT path's own device (`indexTwoLevel`'s
    * `NearestCentroid2`) applied at serve time: beam the `wSuper`
    * nearest supers (√C dots), then argmin over ONLY their member
    * cells — O((√C + wSuper·C/√C)·dim) per query instead of O(C·dim),
    * ~6–8× fewer dots at C=1024/wSuper=4.
    *
    * A DIAL, not a drop-in: the probe set can differ from the flat
    * argmin's when a query's true nearest cell lives under a
    * non-beamed super, so it is a new (recall, qps) operating point —
    * measured like any dial (`BENCH_scale_r18.json`
    * two_level_probe_20m),
    * opt-in via `proberOverride`/`probers`, never a silent default.
    * With `wSuper >= supers.length` the beam covers every member list
    * and the probe list equals the flat argmin's exactly (ShardedSpec
    * pin). Tie-breaks: (dist, id) ascending at both levels — the
    * house total order. */
  def twoLevelProberLocal(supers: Array[Array[Float]],
      centroids: Array[Array[Float]], members: Array[Array[Int]],
      wSuper: Int, nprobe: Int): Array[Float] => Array[Int] = {
    require(supers.nonEmpty && members.length == supers.length,
      "twoLevelProberLocal: members must align with supers")
    require(wSuper >= 1 && nprobe >= 1,
      s"twoLevelProberLocal: wSuper and nprobe must be >= 1, " +
        s"got wSuper=$wSuper nprobe=$nprobe")
    qv => {
      val sheap = new graft.functions.TopKBuffer(wSuper)
      var s = 0
      while (s < supers.length) {
        sheap.insert(Knn.distBounded(0, supers(s), qv, sheap.bound),
          s.toLong)
        s += 1
      }
      val cheap = new graft.functions.TopKBuffer(nprobe)
      val beam = sheap.sorted
      var b = 0
      while (b < beam.length) {
        val m = members(beam(b)._2.toInt)
        var i = 0
        while (i < m.length) {
          cheap.insert(Knn.distBounded(0, centroids(m(i)), qv, cheap.bound),
            m(i).toLong)
          i += 1
        }
        b += 1
      }
      cheap.sorted.map(_._2.toInt)
    }
  }

  /** The DISTRIBUTED two-level probe dial (r19 — the r18 local dial
    * pushed through the whole engine): carries the super-centroid
    * matrix + beam width for `probeCellsCol`, the probe-ranking
    * column shared by every distributed search path
    * (`searchPersisted`/`searchPersistedShuffled`/`searchShuffledFast`
    * /NSW/PQ). Member lists derive deterministically from
    * (supers, centroids) via `memberLists` — same device as the
    * assignment path's `NearestCentroidTwoLevel` and the local
    * tier's `twoLevelProberLocal`, same (dist, id) tie order, so the
    * serve_twolevel_* oracle replays all three. Opt-in at every call
    * site: the probe set is a new (recall, qps) operating point,
    * never a silent default (`Serving.autoTwoLevel` encodes the
    * measured geometry crossover for deployments that want the
    * choice made for them). */
  case class TwoLevelProbe(supers: Array[Array[Float]], wSuper: Int = 4) {
    // MEMBER-LIST MEMO (r20, ADVICE item): memberLists(supers, matrix)
    // is O(C·√C·dim) driver work and every probeCellsCol /
    // searchServableCellsAuto invocation recomputed it — the same
    // recompute the replica tier's derivedMembers memo already
    // avoids. One (matrix → members) slot per probe object, keyed by
    // reference identity (centroid matrices are collected once per
    // index epoch and reused by reference), derivation unchanged.
    @transient private var memoMatrix: Array[Array[Float]] = _
    @transient private var memoMembers: Array[Array[Int]] = _
    private[graft] def membersFor(
        matrix: Array[Array[Float]]): Array[Array[Int]] = synchronized {
      if (memoMatrix ne matrix) {
        memoMembers = memberLists(supers, matrix)
        memoMatrix = matrix
      }
      memoMembers
    }
  }

  /** Probe-ranking column: the flat O(C·dim) `NearestCells` argmin,
    * or — when the dial is set — the O((√C + w·C/√C)·dim)
    * `NearestCellsTwoLevel` beam. */
  def probeCellsCol(qvec: org.apache.spark.sql.Column,
      matrix: Array[Array[Float]], nprobe: Int,
      twoLevel: Option[TwoLevelProbe]): org.apache.spark.sql.Column =
    twoLevel match {
      case Some(tl) => GraftFunctions.nearestCells2(qvec, tl.supers,
        matrix, tl.membersFor(matrix), tl.wSuper, nprobe)
      case None => GraftFunctions.nearestCells(qvec, matrix, nprobe)
    }

  /** Matrix from a (idCol, vecCol) table, ordered by idCol. */
  def collectMatrix(df: DataFrame, idCol: String,
      vecCol: String): Array[Array[Float]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("int"), col(vecCol))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
  }

  /** Two-level analog of `index` — the scale path past ~100M rows,
    * where the flat n×C argmin (even with the exact group pruning in
    * NearestCentroid) dominates build time. */
  def indexTwoLevel(data: DataFrame, supers: DataFrame,
      centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", wSuper: Int = 4): DataFrame = {
    val supM = collectMatrix(supers, "sid", "centroid")
    val subM = collectCentroids(centroids)
    data.withColumn("cid",
      GraftFunctions.nearestCentroid2(col(vecCol), supM, subM,
        memberLists(supM, subM), wSuper))
  }

  /** Persist the index clustered by cell: one parquet partition
    * directory per cid. Probes against the persisted layout become
    * parquet PARTITION PRUNING — a search at nprobe touches only
    * nprobe/C of the files on disk, before any row is read.
    *
    * One shuffle by cid precedes the write: without it every write
    * task emits a file into every cell directory it sees — tasks ×
    * cells files (65K at 2048 cells on 32 tasks; millions at cluster
    * scale), which breaks the filesystem long before the data does.
    * Hashing cid to the shuffle partitions yields exactly one file per
    * cell instead, at the cost of the one shuffle a clustered layout
    * fundamentally requires. */
  def writeIndex(indexed: DataFrame, path: String): Unit = {
    // sub-split guard (r21): repartition(col) with no explicit count
    // lets AQE coalesce the pre-write exchange to ONE task at small
    // sizes, serializing the whole clustered write (profiled: 1.1 s
    // single-task at sf0.1). Pinning the count under the guard keeps
    // the one-file-per-cell layout (a cell's rows still hash to
    // exactly one task) while cells write in parallel; past the
    // threshold the AQE-managed exchange is unchanged.
    val spark = indexed.sparkSession
    val threshold = spark.sessionState.conf.filesMaxPartitionBytes
    val small =
      indexed.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    val clustered =
      if (small)
        indexed.repartition(spark.sparkContext.defaultParallelism, col("cid"))
      else indexed.repartition(col("cid"))
    clustered.write.mode("overwrite").partitionBy("cid").parquet(path)
  }

  /** `writeIndex` with the vector column stored as PACKED binary16
    * (r18) — the reference's own on-disk precision (`_fp16.npy`,
    * /root/reference/utils_grid_search.py:364-365): the embedding
    * column becomes 2 bytes/dim little-endian BINARY via the
    * `Fp16Encode` codegen codec, halving index bytes at rest and
    * every replica-build read. Same clustered one-file-per-cell
    * layout; probes still prune partitions. Serve it pruned via
    * `searchPersisted(..., packedVec = true)`, or decode STRAIGHT to
    * a packed replica with `servableCellsPacked` (no fp32
    * materialization anywhere). Values are fp16-rounded at write
    * time (round-to-nearest-even); on fp16-exact inputs the roundtrip
    * is lossless and every downstream distance is bit-equal to the
    * fp32 layout's (KnnSpec pins; `ann_packed_persist` puts the
    * layout under the full DuckDB oracle). */
  def writeIndexPacked(indexed: DataFrame, path: String,
      vecCol: String = "embedding"): Unit =
    writeIndex(indexed.withColumn(vecCol,
      GraftFunctions.fp16Encode(col(vecCol))), path)

  /** Incremental maintenance: assign NEW vectors against the frozen
    * centroid table (narrow, deterministic — identical cells to a full
    * rebuild) and append into the clustered layout. Each batch adds
    * files inside the cell directories it touches; no existing data is
    * rewritten, and probes keep pruning. Re-train + rewrite only when
    * drift degrades cell balance (an offline decision, as in any IVF
    * system). */
  def appendToIndex(newData: DataFrame, centroids: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      supers: Option[DataFrame] = None, wSuper: Int = 4,
      clearTombstones: Boolean = false): Array[Int] = {
    // clearTombstones: tombstone masking is BY ID, so a re-appended id
    // would stay invisible until the next fold — a retract-then-
    // reinsert feed passes true. Erasing the side-table entry alone
    // would be WRONG: the retracted rows are still physically present
    // (tombstoning never rewrites cells), so unmasking the id would
    // serve the OLD vectors next to the new ones. The correct sequence
    // is (1) eagerly delete the batch's ids (physically removes the
    // retracted rows — O(cells the old rows touch), the one-off honest
    // cost of re-ingesting a lazily-deleted id), (2) erase them from
    // the side-table, (3) append the new rows. A crash between the
    // steps can only under-serve the re-ingested id (rows gone /
    // still masked), never resurrect a retracted row.
    if (clearTombstones) {
      val spark = newData.sparkSession
      val batchIds = newData.select(col(idCol))
      deleteFromIndex(spark, path, batchIds, idCol)
      clearTombstoneIds(spark, path, batchIds, idCol)
    }
    // `supers` = the base index was built with indexTwoLevel: batches
    // must assign through the SAME hierarchical expression AT THE SAME
    // wSuper (parity with the persisted cells is the contract; a flat
    // re-assign — or a different super beam width — could land a
    // boundary row in a different cell than the build did). It also
    // keeps the per-batch cost at O(2·sqrt(C)·dim) per row — at
    // serving-scale C the flat n×C argmin would put the build
    // asymptote this path exists to avoid back into every micro-batch.
    val assigned = supers
      .fold(index(newData, centroids, idCol, vecCol))(sup =>
        indexTwoLevel(newData, sup, centroids, idCol, vecCol, wSuper))
      .repartition(col("cid")) // one file per touched cell per batch
      .cache() // micro-batch-sized; consumed by the write + cid list
    try {
      assigned.write.mode("append").partitionBy("cid").parquet(path)
      // the touched cell ids — returned so a maintenance loop can
      // compact exactly the cells this batch crowded (`compactIndex`'s
      // `cells` hint), keeping the whole append→compact cycle
      // O(touched cells) with no full-tree listing anywhere
      assigned.select(col("cid")).distinct().collect().map(_.getInt(0))
    } finally assigned.unpersist()
  }

  /** TARGETED DELETION from the persisted clustered index — the
    * retraction / right-to-be-forgotten maintenance op, the inverse
    * of `appendToIndex`: remove the given ids and rewrite ONLY the
    * touched cells' partitions. Untouched cell directories keep their
    * files byte-identical, so probes, pruning, and the layout
    * contract are unchanged; centroids are NOT retrained (as in any
    * IVF system — re-train offline when drift warrants).
    *
    * Scale design: the deletion batch is small by nature, so it
    * BROADCASTS into (1) one column-pruned (cid, id) scan that finds
    * the touched cells and (2) the anti-join over only those cells'
    * rows. EVERY filesystem interaction scales with the TOUCHED
    * cells, not the total cell count: the hinted discovery and the
    * survivor scan are built from the touched `cid=` subdirectories
    * directly (explicit path list + `basePath`, so planning never
    * lists the full tree — at 10⁵–10⁶ cells a per-call full listing
    * was the measured floor of an otherwise-localized delete), and
    * the commit stages survivors into a dot-prefixed scratch tree
    * beside the index (same filesystem, invisible to readers — Spark
    * skips dot-paths) then swaps each touched directory with one
    * FileSystem rename. A cell whose every row was deleted has no
    * staged directory and simply stays removed. Returns the number of
    * rows deleted.
    *
    * Layout-generic: only (cid, idCol) are touched and whole rows are
    * rewritten, so the same call maintains ANY partitionBy(cid) table
    * carrying the id — the IVF-PQ code table included (pinned in
    * PqSpec).
    *
    * If `ids` carries a `cid` column (a retraction feed that kept the
    * assignment, or ids re-assigned through the frozen quantizer —
    * cells are a pure function of the vector), the touched-cell
    * discovery skips the corpus-wide (cid, id) scan and reads ONLY
    * the named cells' partitions: the whole delete then costs
    * touched-fraction × corpus, with no full-scan floor. */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Long =
    deleteFromIndexDetailed(spark, path, ids, idCol)._1

  /** `deleteFromIndex` returning `(rowsDeleted, distinctIdsMatched)`.
    * The second count is the under-delete audit signal: the index can
    * hold several rows per id (`appendToIndex` never dedupes), so a
    * row count equal to the batch size does NOT prove every id was
    * found — only the distinct-id count does. The streaming
    * retraction guard compares it against the batch's id count. */
  def deleteFromIndexDetailed(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): (Long, Long) = {
    val del = ids.select(col(idCol).cast("long").as(idCol))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touched = (if (ids.columns.contains("cid")) {
      // hinted discovery: read ONLY the named cells' directories —
      // no full-tree listing anywhere on this path
      val cids = ids.select(col("cid").cast("int")).distinct()
        .collect().map(_.getInt(0))
      val dirs = cids.map(c => s"$path/cid=$c")
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
      if (dirs.isEmpty) return (0L, 0L)
      readCells(spark, path, dirs).select(col("cid"), col(idCol))
    } else {
      // id-only feed: the corpus-wide (cid, id) discovery scan is the
      // honest floor — plumb a cid hint from upstream to avoid it
      spark.read.parquet(path).select(col("cid"), col(idCol))
    })
      .join(broadcast(del), idCol)
      // per-cell row count drives the rewrite; the distinct-id count
      // rides the same shuffle (exact distinct per cell is safe to sum
      // globally because an id's rows can only span cells if the same
      // id was appended with different vectors — counted per cell,
      // then deduped below by summing over a global distinct instead)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_del"), collect_set(col(idCol)).as("id_set"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    if (touched.isEmpty) return (0L, 0L)
    val touchedCids = touched.map(_._1)
    // global distinct across cells: the deletion batch is small by
    // contract, so the matched id sets are driver-sized
    val distinctIds = touched.iterator.flatMap(_._3).toSet.size.toLong
    val survivors =
      readCells(spark, path, touchedCids.map(c => s"$path/cid=$c"))
        .join(broadcast(del), Seq(idCol), "left_anti")
    stagedCellCommit(spark, fs, path, survivors, touchedCids)
    (touched.map(_._2).sum, distinctIds)
  }

  /** TOMBSTONE side-table name — a dot-prefixed child of the index
    * root, so index scans (which skip dot-paths) never see it. */
  private[operators] val TombstoneDir = ".graft_tombstones"

  /** Record spread deletes WITHOUT rewriting any cell: append the ids
    * to the tombstone side-table — O(batch) cost no matter how many
    * cells the ids touch. The eager `deleteFromIndex` is the right
    * call when a batch's ids cluster in a few cells (hinted, it
    * rewrites only those); a UNIFORM-SPREAD batch (a GDPR feed of
    * random users) touches ~every cell and pays a near-full rewrite
    * per batch (measured 35.2 s at 5M/2048 cells; tombstoning the
    * same batch: 0.61 s) — tombstoning makes that O(batch), with the
    * masked rows anti-joined out at query time
    * (`searchPersisted`/`searchPersistedShuffled` and the PQ tier's
    * `Pq.searchPersistedAdc*`, all `honorTombstones = true` by
    * default) and physically removed only at `foldTombstones` /
    * unhinted compaction.
    *
    * Masking is by ID: re-appending a tombstoned id stays invisible
    * until the tombstones are folded — a retract-then-reinsert feed
    * must fold (or use the eager delete) between the two, or append
    * with `appendToIndex(..., clearTombstones = true)`, which erases
    * the batch's ids from the side-table so the re-ingested rows are
    * served again (KnnSpec pins both behaviors). Returns the number
    * of ids recorded.
    *
    * RESIDENT TIERS are epoch snapshots: `servableCells` /
    * `NswGraph.servableIndex` decode the index ONCE and hold it in
    * memory, so a tombstone recorded after the decode is NOT observed
    * by that tier automatically — pass the current mask to the serve
    * calls (`searchServableCells(..., tombstones = tombstoneIds(…))`,
    * `NswGraph.searchServable(..., tombstones = …)`) or refresh it on
    * `Serving.Artifacts.refreshTombstones`. The mask is serve-time
    * state (an id array checked per row/result), so refreshing it
    * never re-decodes the tier. */
  def tombstone(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String = "vec_id"): Long = {
    val del = ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .localCheckpoint() // count + write from one materialization
    del.coalesce(1).write.mode("append")
      .parquet(s"$path/$TombstoneDir")
    del.count()
  }

  /** The tombstoned ids, if any — one existence probe, no listing of
    * the cell tree. The single stored column carries the idCol name
    * the `tombstone` caller used (= the index's id column), so
    * downstream joins and the fold need no idCol plumbing. */
  def readTombstones(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(path, TombstoneDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir))
      Some(spark.read.parquet(dir.toString).distinct())
    else None
  }

  /** The tombstoned ids as a SORTED primitive array — the broadcast-
    * able serve-time mask for the RESIDENT tiers (binary-searched per
    * row in `searchServableCells`, per beam result in
    * `NswGraph.searchServable*`). Driver-sized by the same contract
    * that lets the persisted paths broadcast the anti-join side; None
    * when no tombstones are recorded. An accumulation past
    * `foldTombstones`'s `broadcastLimit` has outgrown an in-task mask
    * too — fold first (the shuffled route never materializes the id
    * set), then refresh the (now empty) mask. */
  def tombstoneIds(spark: SparkSession, path: String,
      broadcastLimit: Long = 1000000L): Option[Array[Long]] =
    readTombstones(spark, path).map { t =>
      import spark.implicits._
      // the side-table is driver-sized BY CONTRACT; enforce it (r13
      // ADVICE) — past the same limit foldTombstones switches away
      // from broadcasts, an accumulation that big must not silently
      // become a multi-MB driver array riding every task closure
      val n = t.count()
      require(n <= broadcastLimit,
        s"tombstone side-table holds $n ids > broadcastLimit " +
          s"$broadcastLimit - fold first (AnnIvf.foldTombstones routes " +
          "the delete through a shuffle join, nothing id-set-sized on " +
          "the driver), then refresh the (now empty) mask")
      val ids = t.select(col(t.columns.head).cast("long"))
        .as[Long].collect()
      java.util.Arrays.sort(ids)
      ids
    }

  /** Erase `ids` from the tombstone side-table (the re-ingest hook:
    * `appendToIndex(..., clearTombstones = true)` routes here so a
    * retract-then-reinsert feed's re-appended rows are served again
    * without waiting for a fold). The side-table is driver-sized by
    * contract; the survivors are materialized (localCheckpoint)
    * before the overwrite so the read never races its own rewrite. */
  private[operators] def clearTombstoneIds(spark: SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit =
    readTombstones(spark, path).foreach { t =>
      val tidCol = t.columns.head
      val kept = t.join(
        broadcast(ids.select(col(idCol).cast("long").as(tidCol)).distinct()),
        Seq(tidCol), "left_anti")
        .localCheckpoint()
      // a batch that erases the LAST tombstone removes the side-table
      // entirely (as foldTombstones does) — an empty parquet would
      // make readTombstones/tombstoneIds return Some(empty) against
      // their documented 'None when none recorded', keeping serves on
      // the masked paths for a mask with nothing in it (r13 ADVICE)
      if (kept.isEmpty) {
        val dir = new org.apache.hadoop.fs.Path(path, TombstoneDir)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(dir, true)
      } else
        kept.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/$TombstoneDir")
    }

  /** Fold the tombstones into the layout: one eager delete of every
    * recorded id (corpus-wide discovery — the honest fold cost,
    * amortized over every batch that only appended to the side-table)
    * and drop the side-table. Serving results are unchanged by
    * construction (the serve-time anti-join was already masking these
    * rows); only the physical layout and the per-query anti-join cost
    * change. Runs automatically in the unhinted `compactIndex` pass.
    *
    * The accumulated side-table is the UNION of every batch since the
    * last fold — no longer "small by contract" — so past
    * `broadcastLimit` distinct ids the fold switches from the
    * interactive broadcast + collect_set delete to
    * `deleteFromIndexShuffled` (shuffle join discovery, aggregate
    * counts, no per-cell id sets on the driver): a long accumulation
    * window can exceed the driver/broadcast budget exactly because
    * tombstoning made accumulating cheap. Returns rows physically
    * removed. */
  def foldTombstones(spark: SparkSession, path: String,
      broadcastLimit: Long = 1000000L): Long =
    readTombstones(spark, path) match {
      case None => 0L
      case Some(t) =>
        val idc = t.columns.head
        val n =
          if (t.count() <= broadcastLimit)
            deleteFromIndex(spark, path, t, idCol = idc)
          else
            deleteFromIndexShuffled(spark, path, t, idCol = idc)._1
        val dir = new org.apache.hadoop.fs.Path(path, TombstoneDir)
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(dir, true)
        n
    }

  /** `deleteFromIndexDetailed` for deletion sets past the broadcast /
    * driver budget (the accumulated tombstone fold is the motivating
    * caller): touched-cell discovery is a SHUFFLE join of the
    * column-pruned (cid, id) scan against the id set, the two audit
    * counts are aggregates over that join (count + distinct-id count —
    * never a per-cell collect_set on the driver), and the survivor
    * anti-join carries no broadcast hint (AQE picks the join strategy
    * from the measured sizes). Only the touched-CELL list lands on the
    * driver — bounded by the cell count, not the batch. Semantically
    * identical to the broadcast path (KnnSpec pins equality). */
  def deleteFromIndexShuffled(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): (Long, Long) = {
    val del = ids.select(col(idCol).cast("long").as(idCol)).distinct()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = spark.read.parquet(path)
      .select(col("cid"), col(idCol))
      .join(del, Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = matched
        .agg(count(lit(1)), countDistinct(col(idCol))).head()
      val (rowsDel, distinctIds) = (stats.getLong(0), stats.getLong(1))
      if (rowsDel == 0L) return (0L, 0L)
      val touchedCids = matched.select(col("cid").cast("int")).distinct()
        .collect().map(_.getInt(0))
      val survivors =
        readCells(spark, path, touchedCids.map(c => s"$path/cid=$c"))
          .join(del, Seq(idCol), "left_anti")
      stagedCellCommit(spark, fs, path, survivors, touchedCids)
      (rowsDel, distinctIds)
    } finally matched.unpersist()
  }

  /** Scan of an explicit list of `cid=` partition directories: the
    * `basePath` option recovers the partition column from the
    * directory names while planning lists ONLY the given paths —
    * maintenance stays O(touched cells) where a naive
    * `read.parquet(root).filter(cid.isin(…))` pays a full-tree
    * listing before the partition filter prunes anything. */
  private[operators] def readCells(spark: SparkSession, basePath: String,
      dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", basePath).parquet(dirs: _*)

  /** Commit a touched-cell rewrite: stage `rows` (partitioned by cid)
    * into a dot-prefixed scratch tree INSIDE the index directory —
    * same filesystem, so the swap is two metadata renames; invisible
    * to concurrent readers, which skip dot-paths — then replace each
    * touched `cid=` directory with its staged twin. A touched cell
    * with no staged directory (every row deleted) is removed. The
    * staging tree is always cleaned up. Listing + commit cost is
    * O(touched cells); nothing here ever lists the full tree.
    *
    * CRASH SAFETY: a cell is never deleted before its replacement is
    * in place — the swap renames the live directory aside into a
    * dot-prefixed trash tree, renames the staged twin in, and only
    * then drops the trash (all cells at once, after every swap
    * succeeded). An in-JVM failure mid-swap rolls the displaced cells
    * back before rethrowing; a hard process crash leaves
    * `.graft_trash_*` / `.graft_staging_*` directories that
    * `recoverIndex` rolls back on the next maintenance call (readers
    * skip dot-paths, so a torn commit is never visible as a missing
    * cell — the old content is always at either the live path or the
    * trash path).
    *
    * CONCURRENCY CONTRACT: maintenance ops (delete / compact /
    * recover) on one index path must be externally serialized against
    * each other AND against `appendToIndex` — the staged rows are a
    * snapshot, so a concurrent append into a touched cell between the
    * staging read and the swap would be silently dropped. Rename
    * semantics here target HDFS/local filesystems where directory
    * rename is an atomic metadata op; on rename-as-copy object stores
    * (S3A) prefer a manifest-committer layout. */
  private[operators] def stagedCellCommit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      rows: DataFrame, touchedCids: Array[Int]): Unit = {
    val token = java.util.UUID.randomUUID.toString.take(12)
    val staging = new org.apache.hadoop.fs.Path(path, s".graft_staging_$token")
    val trash = new org.apache.hadoop.fs.Path(path, s".graft_trash_$token")
    // one shuffle by cid → one file per staged cell (writeIndex's
    // small-files rationale); reads source dirs while they still
    // exist, so no localCheckpoint / self-overwrite hazard
    try {
      rows.repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(staging.toString)
      fs.mkdirs(trash)
      try {
        touchedCids.foreach { cid =>
          val dst = new org.apache.hadoop.fs.Path(s"$path/cid=$cid")
          val src = new org.apache.hadoop.fs.Path(staging, s"cid=$cid")
          val aside = new org.apache.hadoop.fs.Path(trash, s"cid=$cid")
          if (fs.exists(dst) && !fs.rename(dst, aside))
            throw new java.io.IOException(
              s"stagedCellCommit: rename $dst -> $aside failed")
          if (fs.exists(src) && !fs.rename(src, dst))
            throw new java.io.IOException(
              s"stagedCellCommit: rename $src -> $dst failed")
        }
      } catch {
        case e: Throwable =>
          rollBackTrash(fs, path, trash) // restore displaced cells
          throw e
      }
      // every swap landed: the displaced content is dead, drop it
      fs.delete(trash, true)
    } finally fs.delete(staging, true)
  }

  /** Roll back a trash tree: every `cid=` directory inside it whose
    * live twin is MISSING is renamed back (the swap displaced it but
    * never replaced it); cells whose live twin exists committed, so
    * their trash copy is dead. The tree is removed afterwards. */
  private def rollBackTrash(fs: org.apache.hadoop.fs.FileSystem,
      path: String, trash: org.apache.hadoop.fs.Path): Long = {
    var restored = 0L
    if (fs.exists(trash)) {
      fs.listStatus(trash).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("cid=")) {
          val live = new org.apache.hadoop.fs.Path(s"$path/$name")
          if (!fs.exists(live)) {
            if (!fs.rename(st.getPath, live))
              throw new java.io.IOException(
                s"recover: rename ${st.getPath} -> $live failed")
            restored += 1
          }
        }
      }
      fs.delete(trash, true)
    }
    restored
  }

  /** Recover a clustered index path after a hard crash mid-commit:
    * leftover `.graft_trash_*` trees are rolled back (any displaced
    * cell whose live directory is missing is restored — see
    * `stagedCellCommit`'s crash-safety note) and leftover
    * `.graft_staging_*` trees are deleted (staged rows that never
    * committed; the source cells are intact, so the interrupted
    * delete/compaction simply re-runs). Idempotent; one `listStatus`
    * of the base directory. Call at deployment startup or before a
    * maintenance cycle — the unhinted `compactIndex` path runs it
    * automatically (it lists the tree anyway); the hinted O(touched)
    * paths do not, to preserve their no-full-listing contract.
    * Returns the number of cells restored. */
  def recoverIndex(spark: SparkSession, path: String): Long = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0L
    var restored = 0L
    fs.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".graft_trash_"))
        restored += rollBackTrash(fs, path, st.getPath)
      else if (name.startsWith(".graft_staging_"))
        fs.delete(st.getPath, true)
    }
    restored
  }

  /** COMPACTION for the persisted clustered layout — the small-files
    * lifecycle step: every `appendToIndex` batch adds one file per
    * touched cell, so a long-lived streaming refresh accumulates many
    * small files per cell directory and scan/listing cost creeps up.
    * Rewrites cells holding at least `minFiles` files back to one
    * file each through the same touched-cell staged commit as
    * `deleteFromIndex` — scan, write, and swap all scale with the
    * compacted cells. Row content is unchanged; search results are
    * identical by construction. Like `deleteFromIndex`, this is
    * layout-generic over any partitionBy(cid) table (PQ code table
    * included). Returns the number of cells compacted.
    *
    * `cells`: the candidate set to inspect — pass the cid list a
    * maintenance loop already knows (`appendToIndex` RETURNS its
    * batch's touched cells precisely for this) and the whole
    * append→compact cycle is O(touched cells). Without the hint the
    * candidate discovery lists every cell directory — one cheap
    * listStatus per cell, no parquet footers, but at 10⁵–10⁶ cells
    * that tree walk is exactly the floor the hinted path removes. */
  def compactIndex(spark: SparkSession, path: String,
      minFiles: Int = 2, cells: Option[Seq[Int]] = None): Long = {
    require(minFiles >= 2)
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(conf)
    val candidates = cells match {
      case Some(cs) => cs.distinct
        .map(c => new org.apache.hadoop.fs.Path(s"$path/cid=$c"))
        .filter(fs.exists)
      case None =>
        // the unhinted path lists the tree anyway — piggyback crash
        // recovery (roll back any torn commit a prior crash left) and
        // the tombstone fold (spread deletes accumulated O(batch) by
        // `tombstone` are physically removed here, where the full
        // pass is already being paid — see foldTombstones)
        recoverIndex(spark, path)
        foldTombstones(spark, path)
        fs.listStatus(base).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
          .map(_.getPath)
    }
    val crowded = candidates
      .filter { d =>
        fs.listStatus(d)
          .count(f => f.getPath.getName.endsWith(".parquet")) >= minFiles
      }
      .map(_.getName.stripPrefix("cid=").toInt)
    if (crowded.isEmpty) return 0L
    val rows = readCells(spark, path, crowded.map(c => s"$path/cid=$c"))
    stagedCellCommit(spark, fs, path, rows, crowded.toArray)
    crowded.length.toLong
  }

  /** Observability for the persisted layout: per-cell row counts and
    * id ranges (one column-pruned scan — vectors never read) plus the
    * per-cell FILE count from the FileSystem listing. The numbers
    * that drive the maintenance decisions: file count → compact, row
    * skew → re-train, id ranges → audit appends/deletions. */
  def indexStats(spark: SparkSession, path: String,
      idCol: String = "vec_id"): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(conf)
    val files = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
      .map { d =>
        (d.getPath.getName.stripPrefix("cid=").toInt,
          fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")).toLong)
      }.toDF("cid", "n_files")
    spark.read.parquet(path)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .join(files, "cid")
      .select(col("cid").cast("long").as("cid"), col("n_rows"),
        col("min_id"), col("max_id"), col("n_files"))
  }

  /** Search the persisted clustered index: the probed-cell filter is a
    * partition-column predicate, so Catalyst prunes unprobed cell
    * directories at planning time (PartitionFilters in the scan —
    * asserted in KnnSpec). Semantics identical to search/searchFast.
    *
    * `dataFilter` is the QUERY-TIME metadata predicate — the 100-TB
    * form of the reference's filtered search: ONE shared clustered
    * index over the whole corpus serves every filter configuration,
    * with the predicate pushed into the index scan (PushedFilters next
    * to the cid PartitionFilters) instead of one index per filter.
    * Pre-filter semantics hold by construction: the predicate sits
    * below the top-k aggregate, so at any selectivity the search
    * ranks only surviving rows. */
  def searchPersisted(spark: SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean",
      dataFilter: Option[org.apache.spark.sql.Column] = None,
      honorTombstones: Boolean = true,
      packedVec: Boolean = false,
      twoLevel: Option[TwoLevelProbe] = None): DataFrame = {
    val matrix = collectCentroids(centroids)
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(probeCellsCol(col(qvecCol), matrix, nprobe, twoLevel))
        .as("_pcid"))
    val probedCells = probes.select(col("_pcid")).distinct()
      .collect().map(_.getInt(0))
    // packedVec: a writeIndexPacked tree — the binary16 column
    // decodes ABOVE the pruned scan (projection), so the probed-cell
    // partition pruning below is identical to the fp32 layout's, and
    // the scan reads HALF the vector bytes
    val raw = spark.read.parquet(path)
    val decoded =
      if (packedVec) raw.withColumn(vecCol,
        GraftFunctions.fp16Decode(col(vecCol)))
      else raw
    val indexed = withTombstonesMasked(spark, path, idCol, honorTombstones,
      dataFilter
        .foldLeft(decoded)(_.filter(_))
        .filter(col("cid").isin(probedCells.toSeq: _*)))
    val candidates = indexed.join(
      broadcast(probes), indexed("cid") === probes("_pcid"))
    Knn.topKFrom(candidates, k,
      Knn.distance(metric, col(vecCol), col(qvecCol)),
      col(idCol), col(qidCol))
  }

  /** Anti-join the tombstone side-table (if present) below the top-k:
    * the deletion batch is small by contract, so the mask broadcasts;
    * pre-filter semantics hold exactly as for `dataFilter`. */
  private def withTombstonesMasked(spark: SparkSession, path: String,
      idCol: String, honor: Boolean, indexed: DataFrame): DataFrame =
    if (!honor) indexed
    else readTombstones(spark, path) match {
      case Some(t) => indexed.join(
        broadcast(t.select(col(t.columns.head).as(idCol))),
        Seq(idCol), "left_anti")
      case None => indexed
    }

  /** (qid, probe-rank r [1-based], cid) — narrow NearestCells
    * projection, no join/agg/shuffle. */
  def probeRanks(centroids: DataFrame, queries: DataFrame, nprobe: Int,
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      twoLevel: Option[TwoLevelProbe] = None): DataFrame = {
    val matrix = collectCentroids(centroids)
    queries.select(col(qidCol),
        posexplode(probeCellsCol(col(qvecCol), matrix, nprobe, twoLevel))
          .as(Seq("r0", "cid")))
      .select(col(qidCol), (col("r0") + 1).as("r"), col("cid"))
  }

  /** The queries probing one cell (indices into the probe lists, in
    * query order) and the 1-based rank each gives it. */
  private[graft] final case class CellProbes(queries: Array[Int], ranks: Array[Int])

  /** cid -> CellProbes over per-query probe lists (a null list probes
    * nothing): the broadcast side of every probe-and-scan pass
    * (`searchFast`, `searchServableCells`, `GridSearch.run`). */
  private[graft] def cellProbes(probes: Array[Array[Int]]): Map[Int, CellProbes] =
    probes.indices.flatMap(qi => Option(probes(qi)).toSeq.flatMap(cs =>
      cs.indices.map(r => (cs(r), qi, r + 1))))
      .groupBy(_._1).map { case (c, ps) =>
        c -> CellProbes(ps.map(_._2).toArray, ps.map(_._3).toArray) }

  /** Probe-and-scan search, heap lowering: same semantics as `search`
    * (exact top-k within the nprobe nearest cells per query,
    * deterministic tie-break) but the candidate stream is never
    * materialized as join rows. Queries + their probed cell lists are
    * broadcast as a cid→queries index; one narrow pass over the data
    * updates per-query bounded heaps for the queries probing that
    * row's cell; only q x k partial rows shuffle into the shared
    * TopKSmallest merge. At the reference workload (5M x 64, 10K
    * queries, nprobe 16) this is the difference between streaming
    * ~8x10^8 pairs at ~30ns each and shuffling them as rows. */
  def searchFast(indexed: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean"): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    // probe ranking as a narrow per-row expression, then collected:
    // (qid, vec, probed cells)
    val probed = NswGraph.probeQueries(centroids, queries, nprobe, qidCol, qvecCol)
    val bc = spark.sparkContext.broadcast((probed, cellProbes(probed.map(_._3))))
    val met = metric
    val partials = indexed
      .select(col(idCol).cast("long"), col(vecCol), col("cid"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val (qs, cells) = bc.value
        val heaps = Array.fill(qs.length)(new graft.functions.TopKBuffer(k))
        val code = Knn.metricCode(met)
        it.foreach { case (id, v, cid) =>
          cells.get(cid) match {
            case Some(CellProbes(qids, _)) =>
              var j = 0
              while (j < qids.length) {
                val q = qids(j)
                // abandon against the heap's k-th best (distBounded
                // contract: a partial strictly above it is rejected
                // by insert either way)
                val h = heaps(q)
                h.insert(Knn.distBounded(code, v, qs(q)._2, h.bound), id)
                j += 1
              }
            case None => ()
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sorted.iterator.map { case (d, id) => (qs(i)._1, id, d) }
        }
      }
      .toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, k, col("_dist"), col("_nnid"), col("qid"))
  }

  /** DECODED-IN-RAM serving block for the flat IVF tier: one
    * partition's rows with ids, cell ids, and vectors flattened into
    * parallel primitive arrays (`rows` is the ragged/oversize
    * fallback). The IVF twin of `NswGraph.ServableCell` — same
    * rationale: a cached `Dataset`/`DataFrame` stores serialized
    * rows, so every `searchFast` call re-decodes the whole relation
    * (~1.3 GB of float arrays at 5M×64) before scanning; a serving
    * deployment holds the decoded form resident instead.
    *
    * Deliberately a BLOCK (hash-mixed rows), not one unit per cell:
    * probe load is skewed — popular cells draw many more queries —
    * and cell-atomic units turn that into straggler partitions (a
    * cell-grouped variant measured 2.7× slower than searchFast at
    * nprobe=16, 5M/1024, entirely wall-clocked on its hottest
    * partitions). Hash-mixed blocks split every cell's rows across
    * all partitions, so per-partition work is balanced no matter how
    * probes skew — exactly `searchFast`'s geometry.
    *
    * `attrs` optionally carries ONE primitive filter attribute per
    * row (the reference's serving filter is a rating bracket — one
    * double column), decoded alongside the vectors so FILTERED
    * serving never leaves the resident tier: `searchServableCells`'s
    * `attrPred` skips non-survivors before the distance, which is
    * pre-filter semantics at resident speed. */
  final case class FlatBlock(ids: Array[Long], cids: Array[Int], dim: Int,
      flat: Array[Float], rows: Array[Array[Float]],
      attrs: Array[Double] = null,
      // fp16-PACKED vector form (r18, `servableCellsPacked` over a
      // writeIndexPacked tree): when set, flat/rows are null and the
      // scan decodes per element through Knn.distBoundedHalf's LUT
      half: Array[Short] = null)

  /** Build the RESIDENT flat-IVF serving index: decode each partition
    * of the indexed relation once into a FlatBlock (NARROW — no
    * shuffle; the blocks inherit the relation's row-hash mix) and
    * persist as DESERIALIZED objects. Serve with `searchServableCells`
    * — bit-identical to `searchFast` (KnnSpec) with no per-call
    * decode.
    *
    * MEMORY GUARD (see `Resident.persistSized`): by default the
    * decode runs once, persisted `MEMORY_ONLY` by a job that also
    * folds the blocks' (rows, widest dim) and checks the decoded
    * footprint against the free executor storage read before the
    * build — fits → the tier is returned built (the resident
    * contract); doesn't → `MEMORY_AND_DISK` with a loud warning, so
    * an undersized deployment degrades to bounded disk re-reads
    * instead of silently re-decoding the corpus on every eviction.
    * Pass `storage = Some(level)` to skip the pass. */
  def servableCells(indexed: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCol: Option[String] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] = None)
      : org.apache.spark.rdd.RDD[FlatBlock] = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val decoded = indexed
      .select(col("cid").cast("int"), col(idCol).cast("long"), col(vecCol),
        attrCol.map(c => col(c).cast("double")).getOrElse(lit(0.0)))
      .as[(Int, Long, Array[Float], Double)]
      .mapPartitions { it =>
        val members = it.toArray
        val n = members.length
        if (n == 0) Iterator.empty
        else {
          val ids = new Array[Long](n)
          val cids = new Array[Int](n)
          val vecs = new Array[Array[Float]](n)
          val attrs = new Array[Double](n)
          var i = 0
          while (i < n) {
            cids(i) = members(i)._1; ids(i) = members(i)._2
            vecs(i) = members(i)._3; attrs(i) = members(i)._4; i += 1
          }
          val flat = Knn.flattenUniform(vecs)
          Iterator.single(FlatBlock(ids, cids, vecs(0).length, flat,
            if (flat != null) null else vecs,
            if (attrCol.isDefined) attrs else null))
        }
      }
      .rdd
    Resident.persistSized(decoded, storage, "AnnIvf.servableCells")(
      blockStats)(t => Resident.estimateFlatBytes(t.rows, t.dim,
      attrCol.isDefined))
  }

  /** One resident block's share of the tier and replica guards: rows,
    * the widest row's dim, its rows in the packed fp16 form, and
    * whether it carries filter attributes. */
  private[operators] def blockStats(b: FlatBlock): Resident.TierStats = {
    val n = b.ids.length.toLong
    val dim = if (b.rows == null) b.dim
      else b.rows.iterator.filter(_ != null).map(_.length)
        .foldLeft(b.dim)(math.max)
    Resident.TierStats(n, dim, 0L, if (b.flat != null) n else 0L,
      if (b.half != null) n else 0L, b.attrs != null)
  }

  /** `servableCells` for a `writeIndexPacked` tree: the binary16
    * vector column decodes STRAIGHT into packed `half` blocks — the
    * fp32 form is never materialized anywhere (2 bytes/dim from disk
    * to replica), so both the read bytes and the resident footprint
    * are half the fp32 layout's. Serve with the same
    * `searchServableCells` / `localCellReplica` paths (they branch on
    * `half` per row through `Knn.distBoundedHalf`'s LUT — on
    * fp16-exact vectors, bit-identical to the fp32 layout, KnnSpec).
    * Per-partition mixed dims (ragged corpora) fall back to decoded
    * fp32 rows, exactly like `servableCells`' non-flattenable branch. */
  def servableCellsPacked(indexed: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      attrCol: Option[String] = None,
      storage: Option[org.apache.spark.storage.StorageLevel] = None)
      : org.apache.spark.rdd.RDD[FlatBlock] = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val decoded = indexed
      .select(col("cid").cast("int"), col(idCol).cast("long"), col(vecCol),
        attrCol.map(c => col(c).cast("double")).getOrElse(lit(0.0)))
      .as[(Int, Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val members = it.toArray
        val n = members.length
        if (n == 0) Iterator.empty
        else {
          val ids = new Array[Long](n)
          val cids = new Array[Int](n)
          val attrs = new Array[Double](n)
          var i = 0
          while (i < n) {
            cids(i) = members(i)._1; ids(i) = members(i)._2
            attrs(i) = members(i)._4; i += 1
          }
          val dim = members(0)._3.length / 2
          val flattenable = dim > 0 && n.toLong * dim <= Int.MaxValue &&
            members.forall(_._3.length == 2 * dim)
          if (flattenable) {
            // bulk little-endian view get per row (r19) — bit-
            // identical to the per-element assembly
            val half = new Array[Short](n * dim)
            i = 0
            while (i < n) {
              graft.functions.Fp16.bytesToShorts(members(i)._3, half,
                i * dim, dim)
              i += 1
            }
            Iterator.single(FlatBlock(ids, cids, dim, null, null,
              if (attrCol.isDefined) attrs else null, half))
          } else {
            // ragged fallback: decode to fp32 rows (the exact
            // servableCells non-flattenable shape)
            val rows = members.map(m =>
              graft.functions.Fp16.bytesToFloats(m._3))
            Iterator.single(FlatBlock(ids, cids, dim, null, rows,
              if (attrCol.isDefined) attrs else null))
          }
        }
      }
      .rdd
    // the packed form stores 2 bytes/dim where the fp32 estimate
    // assumes 4 — subtract the difference
    Resident.persistSized(decoded, storage, "AnnIvf.servableCellsPacked")(
      blockStats)(t => Resident.estimateFlatBytes(t.rows, t.dim,
      attrCol.isDefined) - 2L * t.rows * t.dim)
  }

  /** Serve a query batch from the resident blocks: probes are
    * collected and INVERTED driver-side (cell → probing query
    * indices), broadcast once; each partition then runs exactly
    * `searchFast`'s scan — row-major over hash-mixed rows, per-QUERY
    * bounded heaps whose early-abandon bound is the query's k-th best
    * so far across everything the partition has seen, (dist, id)
    * tie-break — minus the per-call decode. Results bit-identical to
    * `searchFast` (pinned in KnnSpec); the q×k partials merge through
    * the shared `topKFrom`.
    *
    * `attrPred` (requires an `attrCol`-built index) applies a
    * per-row PRE-FILTER on the resident attribute before the
    * distance: identical semantics to `searchFast` over
    * `indexed.filter(pred)` — the reference's rating-bracket filtered
    * search — without ever leaving the decoded tier or building a
    * per-filter index.
    *
    * `tombstones` (a SORTED id array — `AnnIvf.tombstoneIds` returns
    * it ready) is the serve-time deletion mask for this epoch
    * snapshot: the resident tier decodes once, so ids tombstoned
    * AFTER the decode must be masked here to keep resident serving
    * consistent with the persisted paths' anti-join (binary-searched
    * per row BEFORE the distance — exactly `searchFast` over the
    * masked relation, so resident-masked == persisted-masked ==
    * eager-delete, pinned in KnnSpec). Refreshing the mask is free:
    * it is an argument, not tier state — no re-decode. */
  def searchServableCells(idx: org.apache.spark.rdd.RDD[FlatBlock],
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      attrPred: Option[Double => Boolean] = None,
      tombstones: Option[Array[Long]] = None,
      twoLevel: Option[TwoLevelProbe] = None): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val probed = NswGraph.probeQueries(centroids, queries, nprobe, qidCol,
      qvecCol, twoLevel)
    val inv = cellProbes(probed.map(_._3)).map { case (c, p) => c -> p.queries }
    val bc = spark.sparkContext.broadcast((probed.map(_._1),
      probed.map(_._2), inv))
    val (mcode, kk) = (Knn.metricCode(metric), k)
    // Double => Boolean is a specialized Function1: the per-row call
    // below stays primitive (no boxing in the scan)
    val pred: Double => Boolean = attrPred.orNull
    // sorted mask rides the task closure (small by the tombstone
    // contract); binary search keeps the per-row check allocation-free
    val tomb: Array[Long] = tombstones.orNull
    val partials = idx.mapPartitions { it =>
      val (qids, qvecs, byCell) = bc.value
      val heaps = Array.fill(qids.length)(new graft.functions.TopKBuffer(kk))
      var touched = false
      it.foreach { block =>
        if (pred != null && block.attrs == null)
          throw new IllegalArgumentException(
            "attrPred given but the resident index was built without " +
              "attrCol — rebuild with servableCells(..., attrCol = Some(...))")
        val n = block.ids.length
        var i = 0
        while (i < n) {
          val probing =
            if (pred != null && !pred(block.attrs(i))) null
            else if (tomb != null &&
              java.util.Arrays.binarySearch(tomb, block.ids(i)) >= 0) null
            else byCell.getOrElse(block.cids(i), null)
          if (probing != null) {
            touched = true
            var p = 0
            while (p < probing.length) {
              val qi = probing(p)
              val h = heaps(qi)
              val d =
                if (block.flat != null)
                  Knn.distBoundedFlat(mcode, block.flat, i * block.dim,
                    block.dim, qvecs(qi), h.bound)
                else if (block.half != null)
                  Knn.distBoundedHalf(mcode, block.half, i * block.dim,
                    block.dim, qvecs(qi), h.bound)
                else Knn.distBounded(mcode, block.rows(i), qvecs(qi), h.bound)
              h.insert(d, block.ids(i))
              p += 1
            }
          }
          i += 1
        }
      }
      if (!touched) Iterator.empty
      else heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.sorted.iterator.map { case (d, id) => (qids(qi), id, d) }
      }
    }.toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, kk, col("_dist"), col("_nnid"), col("qid"))
  }

  /** DRIVER-LOCAL replica of the flat-IVF tier — the small-batch
    * serving shape for the pre-filter/exact branches (the graph
    * tier's twin is `NswGraph.LocalReplica`; same motivation: every
    * distributed serve pays a ~0.3–0.5 s per-call job floor that
    * dominates below ~10K queries/batch). Unlike the hash-mixed
    * `FlatBlock`s — whose whole-corpus row-major scan is the right
    * geometry when a BATCH of probes amortizes it — the local replica
    * regroups rows BY CELL (CSR offsets into contiguous arrays), so
    * one query's probed cells scan exactly their members: per-query
    * cost ~nprobe·(n/C)·dim flops with no batch to amortize against.
    * Carries the resident attribute column when the source tier was
    * built with `attrCol` (the reference's rating/label brackets), so
    * filtered serving stays in-process too; `attrSatisfies` answers the
    * mild branch's survivor-membership lookups from a globally
    * id-sorted view. Regrouping is semantics-free: per-row distances
    * are pure functions and the top-k merge's (dist, id) total order
    * is scan-order independent, so results stay bit-identical to
    * `searchServableCells` (KnnSpec pin). */
  final class LocalCellReplica private[operators] (
      private[operators] val byCid: java.util.HashMap[Integer, Integer],
      val cellOff: Array[Int],
      val ids: Array[Long],
      val attrs: Array[Double], // null when built without attrCol
      val dim: Int,
      val flat: Array[Float], // null when ragged -> rows
      val rows: Array[Array[Float]],
      val centroidMatrix: Array[Array[Float]],
      // fp16-PACKED vector form (`servableCellsPacked` blocks): when
      // set, flat/rows are null and the scan kernels decode per
      // element through Knn.distBoundedHalf's LUT
      val half: Array[Short] = null) extends Serializable {
    def size: Int = ids.length
    def nCells: Int = cellOff.length - 1
    // globally id-sorted view for the mild branch's membership/attr
    // lookups (built once; ids are unique by the index contract)
    private[operators] val (sortedIds, attrsBySorted)
        : (Array[Long], Array[Double]) =
      if (attrs == null) (null, null)
      else {
        val order = Array.range(0, ids.length)
          .sortBy(ids(_))
        (order.map(ids(_)), order.map(attrs(_)))
      }
    /** Whether `id` is present in the replica AND its attr passes
      * `pred` — the survivor-membership test the mild over-fetch
      * branch runs per fetched id (an id absent from the replica —
      * e.g. a graph/flat replica epoch mismatch — is never a
      * survivor, whatever the predicate's polarity). */
    def attrSatisfies(id: Long, pred: Double => Boolean): Boolean = {
      val p = java.util.Arrays.binarySearch(sortedIds, id)
      p >= 0 && pred(attrsBySorted(p))
    }
    /** Derived √C super-quantizer over THIS replica's centroid
      * matrix (r19, the cost-based auto two-level dial): group
      * centers from the same deterministic local Lloyd device as
      * `NearestCentroid`'s exact pruning index
      * (`CentroidGroups.build` — microseconds, memoized per
      * replica). A PURE function of the matrix, so split shards
      * sharing a centroid matrix derive identical supers — and
      * therefore identical probe lists — keeping split-sharded
      * serving row-identical to the unsharded serve under the auto. */
    @transient lazy val derivedSupers: Array[Array[Float]] =
      graft.functions.CentroidGroups.build(centroidMatrix).centers
    /** Member lists of the derived supers — memoized WITH them: the
      * dispatcher resolves the auto prober per serve call, and
      * recomputing the C×√C×dim assignment per call measured 3×
      * slower than the prober itself at batch=1000. */
    @transient private lazy val derivedMembers: Array[Array[Int]] =
      AnnIvf.memberLists(derivedSupers, centroidMatrix)
    /** The two-level prober over the derived supers — what the
      * dispatchers install when `Serving.autoTwoLevel` says the
      * geometry wins (an explicit `proberOverride` always beats it). */
    def twoLevelProberAuto(nprobe: Int,
        wSuper: Int = 4): Array[Float] => Array[Int] =
      AnnIvf.twoLevelProberLocal(derivedSupers, centroidMatrix,
        derivedMembers, wSuper, nprobe)
    /** (maskedTotal, maskedSurvivors) under `pred` and an optional
      * sorted tombstone mask — the local twin of the dispatcher's two
      * column-pruned counts (one pass over the resident attrs). */
    private[graft] def selectivityCounts(pred: Double => Boolean,
        tomb: Array[Long]): (Long, Long) = {
      require(attrs != null,
        "selectivityCounts needs an attr-built replica")
      var total = 0L; var surv = 0L; var i = 0
      while (i < ids.length) {
        if (tomb == null ||
          java.util.Arrays.binarySearch(tomb, ids(i)) < 0) {
          total += 1
          if (pred(attrs(i))) surv += 1
        }
        i += 1
      }
      (total, surv)
    }
    /** `selectivityCounts` for a precomputed SORTED survivor id-set
      * (the bitset filter form — needs no resident attrs): one pass
      * over the positional mask (below), membership per row a bit
      * probe. */
    private[graft] def selectivityCountsIdSet(idSet: Array[Long],
        tomb: Array[Long]): (Long, Long) = {
      val bits = positionalMask(idSet)
      var total = 0L; var surv = 0L; var i = 0
      while (i < ids.length) {
        if (tomb == null ||
          java.util.Arrays.binarySearch(tomb, ids(i)) < 0) {
          total += 1
          if ((bits(i >> 6) >>> (i & 63) & 1L) != 0L) surv += 1
        }
        i += 1
      }
      (total, surv)
    }

    /** POSITIONAL survivor mask of an id-set — the form the scan
      * kernels actually test: one bit per replica ROW POSITION
      * (n/8 bytes — 625 KB at 5M), so the per-row keep test is a
      * single bit probe instead of a ~log₂|idSet| binary search whose
      * cache misses measured 4× slower than the attr route at the
      * pre-filter scan's row rate (this IS the reference's bitset
      * filter: a positional mask over the corpus,
      * utils_grid_search.py:238-247). Built in ONE parallel pass
      * (n binary searches, range-chunked over the pool) and memoized
      * per id-set ARRAY INSTANCE — a caller that holds one
      * `survivorIdSet` array per filter epoch pays the build once;
      * fresh arrays (ad-hoc callers) rebuild. Identity
      * keying is sound because the mask is a pure function of the
      * array's contents and an aliased key can only rebuild, never
      * return a stale mask; the cache evicts the LEAST-RECENTLY-USED
      * mask past 16 entries (r18, r17 ADVICE: hash-order eviction
      * could evict the hottest mask first under a workload
      * alternating a hot predicate with ad-hoc ones, rebuilding it
      * every cycle — the stamps below make eviction recency-ordered).
      * Tombstones stay a
      * separate compose-at-scan test — one id-set mask epoch outlives
      * any number of tombstone epochs. */
    private val posMaskCache =
      scala.collection.concurrent.TrieMap.empty[Array[Long], Array[Long]]
    private val posMaskStamps =
      scala.collection.concurrent.TrieMap.empty[Array[Long], Long]
    private val posMaskClock = new java.util.concurrent.atomic.AtomicLong()
    /** Number of mask builds actually run — observability (pinned in
      * KnnSpec: the memo must make repeat serves free). Atomic: the
      * memo's op may evaluate concurrently (distinct keys, or the
      * same key under contention), and a plain volatile increment
      * would lose counts (r16 ADVICE). */
    private val posMaskBuildCount =
      new java.util.concurrent.atomic.AtomicInteger()
    private[graft] def posMaskBuilds: Int = posMaskBuildCount.get()
    private[graft] def positionalMask(idSet: Array[Long])
        : Array[Long] = {
      val mask = posMaskCache.getOrElseUpdate(idSet, buildPosMask(idSet))
      // stamp every access (hit or fresh build) — eviction below
      // drops the OLDEST-stamped mask, so a hot predicate's mask
      // survives any number of ad-hoc one-off sets (r17 ADVICE)
      posMaskStamps.put(idSet, posMaskClock.incrementAndGet())
      // evict ONE entry past the cap, not clear-all (r16 ADVICE):
      // the LRU victim by stamp; the just-stamped key holds the max
      // stamp, so it is never its own victim while others remain
      while (posMaskCache.size > 16) {
        val victim = posMaskCache.keysIterator
          .minBy(k => posMaskStamps.getOrElse(k, 0L))
        posMaskCache.remove(victim)
        posMaskStamps.remove(victim)
      }
      mask
    }
    private def buildPosMask(idSet: Array[Long]): Array[Long] = {
      posMaskBuildCount.incrementAndGet()
      val n = ids.length
      val bits = new Array[Long]((n + 63) >> 6)
      if (idSet.length > 0 && n > 0) {
        // word-aligned chunks: two workers never write the same long
        val nWords = bits.length
        val workers = math.max(1, math.min(
          Runtime.getRuntime.availableProcessors(), nWords / 1024))
        val wordsPer = (nWords + workers - 1) / workers
        val wNext = new java.util.concurrent.atomic.AtomicInteger(0)
        NswGraph.runOnLocalPool(workers) { () =>
          var w = wNext.getAndIncrement()
          while (w < workers) {
            var i = w * wordsPer * 64
            val until = math.min((w * wordsPer + wordsPer) * 64L, n).toInt
            while (i < until) {
              if (java.util.Arrays.binarySearch(idSet, ids(i)) >= 0)
                bits(i >> 6) |= 1L << (i & 63)
              i += 1
            }
            w = wNext.getAndIncrement()
          }
        }
      }
      bits
    }
  }

  /** Build the local flat replica from the resident blocks through
    * `Resident.collectReplica`, like `NswGraph.localReplica`: one job
    * sizes every partition and the heap guard refuses before any
    * collect; the blocks then arrive in partition order in batches
    * bounded by a share of `spark.driver.maxResultSize`, which never
    * sees the whole corpus. One-time regroup: count per cell,
    * prefix-sum offsets, fill. An empty tier gives an empty replica
    * that serves every predicate with no rows. */
  def localCellReplica(idx: org.apache.spark.rdd.RDD[FlatBlock],
      centroids: DataFrame, maxHeapFraction: Double = 0.6,
      force: Boolean = false): LocalCellReplica = {
    // packed blocks hold 2 bytes/dim where the estimate assumes 4
    def est(t: Resident.TierStats): Long =
      Resident.estimateFlatBytes(t.rows, t.dim, t.attrs) - 2L * t.halfRows * t.dim
    val blocks = Resident.collectReplica(idx, "localCellReplica",
      maxHeapFraction, force)(blockStats)(est, est)(identity)
    val n = blocks.iterator.map(_.ids.length).sum
    val withAttrs = blocks.exists(_.attrs != null)
    // all-or-none (r14 ADVICE): a mixed-block index would otherwise
    // fill 0.0 for the attr-less blocks' rows, and a predicate like
    // `a == 0.0` would wrongly ACCEPT them — diverging from the
    // distributed scan's treatment. servableCells builds uniformly,
    // so a mix means the caller unioned incompatible tiers.
    require(!withAttrs || blocks.forall(b =>
        b.attrs == null || b.attrs.length == b.ids.length), // sanity
      "localCellReplica: a block's attrs length mismatches its ids length")
    require(!withAttrs || blocks.forall(_.attrs != null),
      "localCellReplica: blocks mix attr-built and attr-less tiers - " +
        "a 0.0 fill would satisfy predicates the distributed scan " +
        "rejects; rebuild every block with the same attrCol")
    val dim = blocks.iterator.map(_.dim).maxOption.getOrElse(0)
    val flattenable = dim > 0 && n.toLong * dim <= Int.MaxValue &&
      blocks.forall(b => b.flat != null && b.dim == dim)
    // PACKED blocks (servableCellsPacked): regroup the half arrays
    // directly — the replica is packed end to end, fp32 never exists.
    // All-or-none like attrs: servableCellsPacked builds uniformly, a
    // mix means the caller unioned a packed and an fp32 tier.
    val packable = !flattenable && dim > 0 &&
      n.toLong * dim <= Int.MaxValue &&
      blocks.forall(b => b.half != null && b.dim == dim)
    require(!blocks.exists(_.half != null) || packable || n == 0,
      "localCellReplica: blocks mix fp16-packed and fp32 tiers (or " +
        "ragged dims) - rebuild every block through the same " +
        "servableCells variant")
    // pass 1: members per cell
    val counts = new java.util.HashMap[Integer, Integer]()
    blocks.foreach(b => b.cids.foreach(c =>
      counts.merge(c, 1, (x, y) => x + y)))
    val cellIds = {
      val a = new Array[Int](counts.size())
      val it = counts.keySet().iterator()
      var i = 0
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      java.util.Arrays.sort(a); a
    }
    val byCid = new java.util.HashMap[Integer, Integer](cellIds.length * 2)
    val cellOff = new Array[Int](cellIds.length + 1)
    var c = 0
    while (c < cellIds.length) {
      byCid.put(cellIds(c), c)
      cellOff(c + 1) = cellOff(c) + counts.get(cellIds(c))
      c += 1
    }
    // pass 2: fill at each cell's cursor
    val cursor = java.util.Arrays.copyOf(cellOff, cellOff.length)
    val ids = new Array[Long](n)
    // an empty tier's replica carries (no) attrs, so it serves every
    // predicate with no rows rather than refusing as attr-less
    val attrs = if (withAttrs || n == 0) new Array[Double](n) else null
    val flat = if (flattenable) new Array[Float](n * dim) else null
    val half = if (packable) new Array[Short](n * dim) else null
    val rows =
      if (flattenable || packable) null else new Array[Array[Float]](n)
    blocks.foreach { b =>
      var i = 0
      val bn = b.ids.length
      while (i < bn) {
        val cell = byCid.get(b.cids(i))
        val at = cursor(cell); cursor(cell) = at + 1
        ids(at) = b.ids(i)
        if (attrs != null) attrs(at) = b.attrs(i) // non-null by the guard
        if (flat != null)
          System.arraycopy(b.flat, i * b.dim, flat, at * dim, dim)
        else if (half != null)
          System.arraycopy(b.half, i * b.dim, half, at * dim, dim)
        else
          rows(at) = if (b.rows != null) b.rows(i)
            else java.util.Arrays.copyOfRange(b.flat, i * b.dim,
              (i + 1) * b.dim)
        i += 1
      }
    }
    new LocalCellReplica(byCid, cellOff, ids, attrs, dim, flat, rows,
      collectCentroids(centroids), half)
  }

  /** THE small-batch flat-tier hot path: pre-filter probe-and-scan
    * over the local replica with ZERO Spark jobs — the in-process
    * twin of `searchServableCells` (bit-identical rows, KnnSpec pin):
    * per query, scan the `nprobe` probed cells' members, applying the
    * attr pre-filter and tombstone mask per row BEFORE the distance,
    * exact top-k by (dist, id). Probe lists share the distributed
    * path's `NearestCells` evaluation. */
  def searchLocalCellsQueries(rep: LocalCellReplica,
      queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      metric: String = "sqeuclidean",
      attrPred: Option[Double => Boolean] = None,
      tombstones: Option[Array[Long]] = None,
      idSet: Option[Array[Long]] = None,
      proberOverride: Array[Float] => Array[Int] = null)
      : Array[(Long, Long, Long, Double)] =
    localCellCore(rep, queries, k, nprobe, metric, attrPred, idSet,
      tombstones, exhaustive = false, proberOverride)

  /** Exact filtered top-k over the WHOLE local replica (every cell —
    * no probe approximation): the in-process twin of `Knn.exact` over
    * the masked, attr-filtered relation. The dispatcher's extreme
    * branch; recall 1.0 by construction. */
  def searchLocalExactQueries(rep: LocalCellReplica,
      queries: Array[(Long, Array[Float])], k: Int,
      metric: String = "sqeuclidean",
      attrPred: Option[Double => Boolean] = None,
      tombstones: Option[Array[Long]] = None,
      idSet: Option[Array[Long]] = None)
      : Array[(Long, Long, Long, Double)] =
    localCellCore(rep, queries, k, 0, metric, attrPred, idSet,
      tombstones, exhaustive = true)

  /** The per-row keep tests compose: `attrPred` filters on the
    * resident attribute (the reference's one-column rating bracket),
    * `idSet` is a precomputed SORTED survivor id-set (the reference's
    * own bitset filter form, utils_grid_search.py:238-247 — any
    * multi-column/string predicate reduces to one by a single
    * distributed filter per epoch, `Serving.survivorIdSet`), and the
    * tombstone mask is the sorted EXCLUSION twin of the same
    * machinery. A row is scanned iff it passes all supplied tests. */
  private def localCellCore(rep: LocalCellReplica,
      queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      metric: String, attrPred: Option[Double => Boolean],
      idSetOpt: Option[Array[Long]],
      tombstones: Option[Array[Long]], exhaustive: Boolean,
      proberOverride: Array[Float] => Array[Int] = null)
      : Array[(Long, Long, Long, Double)] = {
    val perQuery = localCellCoreSlots(rep, queries, k, nprobe, metric,
      attrPred, idSetOpt, tombstones, exhaustive,
      proberOverride = proberOverride)
    val out = Array.newBuilder[(Long, Long, Long, Double)]
    out.sizeHint(queries.length * k)
    perQuery.foreach(rows => if (rows != null) out ++= rows)
    out.result()
  }

  /** `localCellCore` with PER-SLOT outputs (element i = slot i's
    * ranked rows, possibly empty) — the form the sharded merge
    * consumes (`Sharded`): the flattened contract cannot distinguish
    * an empty group from an absent one, so slot alignment across K
    * shard replicas needs this shape.
    *
    * `sharedBounds` (r18, nullable): per-slot CROSS-SHARD kth-best
    * bounds (`Sharded.SlotBounds`). When set, the scan prunes each
    * row against `min(heap bound, shared bound)` and publishes this
    * replica's kth-best back after each cell (and periodically inside
    * the exhaustive survivor scan) — so under the sharded fan, shard
    * s+1 starts each query already warm at shards 1..s's kth-best
    * (sequential) or mid-scan (parallel). PURE PRUNING: a row
    * abandoned against the shared bound has true distance strictly
    * above an achieved kth-best somewhere, so it cannot enter the
    * merged global top-k; a partial distance returned past the
    * tighter bound is never inserted (the `d <= bound` guard —
    * `Knn.distBounded`'s exact-iff-at-most-bound contract). With
    * `sharedBounds == null` every row is computed against the heap's
    * own bound, as in r17. Rows identical either way (ShardedSpec). */
  private[graft] def localCellCoreSlots(rep: LocalCellReplica,
      queries: Array[(Long, Array[Float])], k: Int, nprobe: Int,
      metric: String, attrPred: Option[Double => Boolean],
      idSetOpt: Option[Array[Long]],
      tombstones: Option[Array[Long]], exhaustive: Boolean,
      sharedBounds: Sharded.SlotBounds = null,
      proberOverride: Array[Float] => Array[Int] = null)
      : Array[Array[(Long, Long, Long, Double)]] = {
    val nQ = queries.length
    if (nQ == 0) return Array.empty
    val mcode = Knn.metricCode(metric)
    val tomb: Array[Long] = tombstones.orNull
    val pred: Double => Boolean = attrPred.orNull
    val idSet: Array[Long] = idSetOpt.orNull
    // the id-set's positional form (bit per row, memoized per id-set
    // instance): the scan kernels below test a bit, not a binary
    // search — attr-route-class per-row cost
    val idBits: Array[Long] =
      if (idSet == null) null else rep.positionalMask(idSet)
    if (pred != null && rep.attrs == null)
      throw new IllegalArgumentException(
        "attrPred given but the local replica was built without " +
          "attrCol — rebuild servableCells(..., attrCol = Some(...))")
    // proberOverride (r18): an alternative probe-list function —
    // e.g. the two-level `twoLevelProberLocal` — replacing the flat
    // C-dot argmin; the scan within probed cells is unchanged (exact
    // top-k within whatever cells the prober names)
    val prober: Array[Float] => Array[Int] =
      if (exhaustive) null
      else if (proberOverride != null) proberOverride
      else new graft.functions.CellProbe(rep.centroidMatrix, nprobe)
    // EXHAUSTIVE path: resolve the attr + tombstone checks ONCE per
    // call into a survivor index list (the local twin of Knn.exact
    // scanning an already-filtered relation) — every query in the
    // batch then touches survivors only, instead of re-evaluating the
    // predicate corpus-wide per query. The resolve pass itself runs
    // PARALLEL over pool workers (range-chunked, concatenated in
    // range order): serial it cost ~30 ms per call at 5M and
    // dominated small extreme-filter batches. Same rows by
    // construction (the per-row keep test is query-independent, and
    // the top-k merge is scan-order independent anyway).
    val survIdx: Array[Int] =
      if (!exhaustive || (pred == null && tomb == null && idSet == null))
        null
      else {
        val nRows = rep.ids.length
        val scanWorkers = math.max(1, math.min(
          Runtime.getRuntime.availableProcessors(), nRows / 65536))
        val chunkSz = (nRows + scanWorkers - 1) / scanWorkers
        val parts = new Array[Array[Int]](scanWorkers)
        val wNext = new java.util.concurrent.atomic.AtomicInteger(0)
        NswGraph.runOnLocalPool(scanWorkers) { () =>
          var w = wNext.getAndIncrement()
          while (w < scanWorkers) {
            val from = w * chunkSz
            val until = math.min(from + chunkSz, nRows)
            val b = Array.newBuilder[Int]
            var i = from
            while (i < until) {
              if ((pred == null || pred(rep.attrs(i))) &&
                (idBits == null ||
                  (idBits(i >> 6) >>> (i & 63) & 1L) != 0L) &&
                (tomb == null ||
                  java.util.Arrays.binarySearch(tomb, rep.ids(i)) < 0))
                b += i
              i += 1
            }
            parts(w) = b.result()
            w = wNext.getAndIncrement()
          }
        }
        val out = Array.newBuilder[Int]
        parts.foreach(p => if (p != null) out ++= p)
        out.result()
      }
    val perQuery = new Array[Array[(Long, Long, Long, Double)]](nQ)
    val workers = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), (nQ + 3) / 4))
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    def rowDist(qv: Array[Float], i: Int, bound: Double): Double =
      if (rep.flat != null)
        Knn.distBoundedFlat(mcode, rep.flat, i * rep.dim, rep.dim,
          qv, bound)
      else if (rep.half != null)
        Knn.distBoundedHalf(mcode, rep.half, i * rep.dim, rep.dim,
          qv, bound)
      else Knn.distBounded(mcode, rep.rows(i), qv, bound)
    // `ext` = the cross-shard bound snapshot (+Inf when unshared).
    // Tighter than the heap's own bound → prune against it, and only
    // insert EXACT returns (d <= ext; a partial past ext can still be
    // below the heap bound, and inserting it would rank a fabricated
    // distance). Otherwise the r17 path byte for byte: compute
    // against the heap bound, insert unconditionally (the heap
    // rejects d > its bound itself, ties at the bound id-compared).
    def distTo(h: graft.functions.TopKBuffer, qv: Array[Float],
        i: Int, ext: Double): Unit = {
      val hb = h.bound
      if (ext < hb) {
        val d = rowDist(qv, i, ext)
        if (d <= ext) h.insert(d, rep.ids(i))
      } else h.insert(rowDist(qv, i, hb), rep.ids(i))
    }
    // squared-L2 flat rows go four at a time: `distTo`'s rule per lane
    // under the bounds read at the start of the group, inserted in row
    // order. Bounds only tighten, so a lane past the group's bound is
    // past the live one too, and a lane within it is exact — the heap
    // ends as the one-at-a-time scan leaves it.
    val laneKernel = rep.flat != null && mcode == 0
    def distTo4(h: graft.functions.TopKBuffer, qv: Array[Float],
        r0: Int, r1: Int, r2: Int, r3: Int, ext: Double,
        lanes: Array[Double]): Unit = {
      val hb = h.bound
      val exactOnly = ext < hb
      val b = if (exactOnly) ext else hb
      val dim = rep.dim
      Knn.sqDistBounded4(rep.flat, r0 * dim, r1 * dim, r2 * dim, r3 * dim,
        math.min(dim, qv.length), qv, b, lanes)
      insertLane(h, lanes(0), r0, b, exactOnly)
      insertLane(h, lanes(1), r1, b, exactOnly)
      insertLane(h, lanes(2), r2, b, exactOnly)
      insertLane(h, lanes(3), r3, b, exactOnly)
    }
    // exact-only (the shared bound was tighter): `distTo`'s `d <= ext`;
    // otherwise skip only a lane above the heap bound, which `insert`
    // would reject anyway (NaN still goes to `insert`, as in `distTo`)
    def insertLane(h: graft.functions.TopKBuffer, d: Double, row: Int,
        b: Double, exactOnly: Boolean): Unit =
      if (if (exactOnly) d <= b else !(d > b)) h.insert(d, rep.ids(row))
    def scanCell(h: graft.functions.TopKBuffer, qv: Array[Float],
        from: Int, until: Int, ext: Double,
        grp: Array[Int], lanes: Array[Double]): Unit = {
      var i = from
      var g = 0 // kept rows waiting in `grp`
      while (i < until) {
        val keep = (pred == null || pred(rep.attrs(i))) &&
          (idBits == null ||
            (idBits(i >> 6) >>> (i & 63) & 1L) != 0L) &&
          (tomb == null ||
            java.util.Arrays.binarySearch(tomb, rep.ids(i)) < 0)
        if (keep) {
          if (lanes == null) distTo(h, qv, i, ext)
          else {
            grp(g) = i; g += 1
            if (g == 4) {
              distTo4(h, qv, grp(0), grp(1), grp(2), grp(3), ext, lanes)
              g = 0
            }
          }
        }
        i += 1
      }
      var r = 0
      while (r < g) { distTo(h, qv, grp(r), ext); r += 1 }
    }
    def publish(h: graft.functions.TopKBuffer, qi: Int): Unit =
      if (sharedBounds != null) {
        val b = h.bound // the kth kept dist — exact by construction
        if (b < Double.PositiveInfinity) sharedBounds.tighten(qi, b)
      }
    def extOf(qi: Int): Double =
      if (sharedBounds == null) Double.PositiveInfinity
      else sharedBounds.get(qi)
    def runWorker(): Unit = {
      val grp = if (laneKernel) new Array[Int](4) else null
      val lanes = if (laneKernel) new Array[Double](4) else null
      var qi = next.getAndIncrement()
      while (qi < nQ) {
        val (qid, qv) = queries(qi)
        val h = new graft.functions.TopKBuffer(k)
        if (exhaustive) {
          if (survIdx == null)
            scanCell(h, qv, 0, rep.ids.length, extOf(qi), grp, lanes)
          else {
            var ext = extOf(qi)
            var s = 0
            while (s < survIdx.length) {
              if (lanes != null && s + 4 <= survIdx.length) {
                distTo4(h, qv, survIdx(s), survIdx(s + 1), survIdx(s + 2),
                  survIdx(s + 3), ext, lanes)
                s += 4
              } else {
                distTo(h, qv, survIdx(s), ext)
                s += 1
              }
              // refresh/publish every 8K survivors: cheap against the
              // scan, fresh enough to matter under the parallel fan
              if (sharedBounds != null && (s & 8191) == 0) {
                publish(h, qi); ext = extOf(qi)
              }
            }
          }
        } else {
          val cids = prober(qv)
          var ci = 0
          while (ci < cids.length) {
            val cell = rep.byCid.get(cids(ci))
            if (cell != null) {
              scanCell(h, qv, rep.cellOff(cell), rep.cellOff(cell + 1),
                extOf(qi), grp, lanes)
              publish(h, qi)
            }
            ci += 1
          }
        }
        publish(h, qi)
        val ranked = h.sorted
        perQuery(qi) = Array.tabulate(ranked.length)(r =>
          (qid, (r + 1).toLong, ranked(r)._2, ranked(r)._1))
        qi = next.getAndIncrement()
      }
    }
    NswGraph.runOnLocalPool(workers)(runWorker _)
    var qi = 0
    while (qi < nQ) {
      if (perQuery(qi) == null) perQuery(qi) = Array.empty
      qi += 1
    }
    perQuery
  }

  /** BATCH-SIZE-AWARE flat-tier dispatch — `NswGraph.searchServableAuto`'s
    * twin for the pre-filter scan: batches at or below `localBelow`
    * serve from the local cell-grouped replica (no job floor), larger
    * ones take the distributed block scan (whose whole-corpus
    * row-major geometry is the right one once a batch of probes
    * amortizes it). The size check is one `limit(localBelow+1)`
    * collect — when it returns <= localBelow rows that WAS the whole
    * batch and those rows serve directly. Results are identical
    * either way (KnnSpec pins the kernels row-for-row, attr-filtered
    * and masked included). */
  def searchServableCellsAuto(idx: org.apache.spark.rdd.RDD[FlatBlock],
      replica: Option[LocalCellReplica], centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      metric: String = "sqeuclidean",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      attrPred: Option[Double => Boolean] = None,
      tombstones: Option[Array[Long]] = None,
      localBelow: Int = 8192,
      twoLevel: Option[TwoLevelProbe] = None): DataFrame = replica match {
    case None =>
      searchServableCells(idx, centroids, queries, k, nprobe, metric,
        qidCol, qvecCol, attrPred, tombstones, twoLevel)
    case Some(rep) =>
      val spark = queries.sparkSession
      import spark.implicits._
      val head = queries
        .select(col(qidCol).cast("long"), col(qvecCol))
        .limit(localBelow + 1)
        .as[(Long, Array[Float])].collect()
      if (head.length <= localBelow)
        spark.createDataset(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            searchLocalCellsQueries(rep, head, k, nprobe, metric,
              attrPred, tombstones,
              // the dial's local form — identical probe lists to the
              // expression by the KnnSpec local==distributed pin
              proberOverride = twoLevel.map(tl =>
                twoLevelProberLocal(tl.supers, rep.centroidMatrix,
                  tl.membersFor(rep.centroidMatrix),
                  tl.wSuper, nprobe)).orNull)))
          .toDF("qid", "rank", "neighbor_id", "dist")
      else
        searchServableCells(idx, centroids, queries, k, nprobe, metric,
          qidCol, qvecCol, attrPred, tombstones, twoLevel)
  }

  /** Probe-and-scan search, declarative lowering: exact top-k within
    * the nprobe nearest cells per query. Output
    * (qid, rank, neighbor_id, dist). */
  def search(indexed: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean"): DataFrame = {
    val matrix = collectCentroids(centroids)
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(GraftFunctions.nearestCells(col(qvecCol), matrix, nprobe))
        .as("_pcid"))
    val candidates = indexed.join(
      broadcast(probes), indexed("cid") === probes("_pcid"))
    Knn.topKFrom(candidates, k,
      Knn.distance(metric, col(vecCol), col(qvecCol)),
      col(idCol), col(qidCol))
  }

  /** Probe-and-scan search, SHUFFLE-JOIN lowering for query tables
    * past any broadcast budget — the fully distributed twin of
    * `search` (bit-identical output): a pipeline that re-embeds and
    * searches millions of queries cannot collect or broadcast the
    * query side, so neither does this plan.
    *
    * Shape: probe ranking stays a narrow per-row expression on the
    * query side (only the C-row centroid matrix is driver-sized);
    * probes explode to (qid, qvec) x nprobe rows; candidates come from
    * a sort-merge equi-join on the cell id — both sides shuffle ONCE
    * by cid, never by pair — and the join output feeds the partial
    * (map-side) TopKSmallest aggregate in the same stage, so the
    * candidate pair stream is pipelined, not materialized. Final
    * movement is q x k partial heap rows into the merge, exactly as
    * `search`.
    *
    * The merge join is pinned (hint) rather than left to the size
    * estimator: the caller chose this lowering BECAUSE the query side
    * is too big to broadcast, and a popular cell probed by many
    * queries is plain join-key skew, which AQE's skew-join split
    * handles for sort-merge joins. */
  def searchShuffled(indexed: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean"): DataFrame = {
    val matrix = collectCentroids(centroids)
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(GraftFunctions.nearestCells(col(qvecCol), matrix, nprobe))
        .as("_pcid"))
      .hint("merge")
    val candidates = indexed.join(
      probes, indexed("cid") === probes("_pcid"))
    Knn.topKFrom(candidates, k,
      Knn.distance(metric, col(vecCol), col(qvecCol)),
      col(idCol), col(qidCol))
  }

  /** The production serving composition for LARGE query tables: the
    * persisted clustered layout (parquet `partitionBy(cid)`), probed-
    * cell PARTITION PRUNING, the query-time `dataFilter` pushed into
    * the scan — exactly `searchPersisted`'s storage behavior — but
    * candidates come from the distributed cogroup heap kernel instead
    * of a broadcast of the query side. The only driver-sized state is
    * the probed-cell id set (≤ C ints, from an aggregate of the probe
    * relation — never the queries themselves). */
  def searchPersistedShuffled(spark: SparkSession, path: String,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean",
      dataFilter: Option[org.apache.spark.sql.Column] = None,
      honorTombstones: Boolean = true,
      twoLevel: Option[TwoLevelProbe] = None): DataFrame = {
    val matrix = collectCentroids(centroids)
    // the query lineage (often an expensive re-embedding) is evaluated
    // exactly ONCE: the probe relation is materialized to executor
    // blocks (localCheckpoint truncates the lineage; blocks are freed
    // when the result is dropped), then both the probed-cell aggregate
    // and the cogroup kernel read from those blocks
    val probes = probeRelation(queries, matrix, nprobe, qidCol, qvecCol,
      twoLevel).localCheckpoint(true)
    val probedCells = probes.select(col("_pcid"))
      .distinct().collect().map(_.getInt(0))
    val indexed = withTombstonesMasked(spark, path, idCol, honorTombstones,
      dataFilter
        .foldLeft(spark.read.parquet(path))(_.filter(_))
        .filter(col("cid").isin(probedCells.toSeq: _*)))
    shuffledFastKernel(indexed, probes, k, idCol, vecCol, metric)
  }

  /** Shuffle lowering with the HEAP KERNEL — `searchShuffled`'s
    * semantics (bit-identical to `search`; nothing query-sized on the
    * driver) at `searchFast`'s per-pair cost: both sides shuffle ONCE
    * by cell id into a sort-based cogroup; per cell, that cell's
    * probing queries (the per-cell sliver of the query table,
    * ~q·nprobe/C rows) are buffered as heaps and the cell's data rows
    * STREAM through the early-abandoning distance loop — candidate
    * pairs never exist as join rows, the difference between ~30 ns per
    * pair in one codegen-adjacent loop and full join-row machinery.
    * Only q x k partial heap rows shuffle into the shared TopKSmallest
    * merge.
    *
    * Skew note: a viral cell probed by a disproportionate share of
    * queries concentrates its work in one task (cogroup keys cannot be
    * split the way AQE splits a sort-merge join). For severe probe
    * skew prefer `searchShuffled`, whose SMJ the AQE skew-join rule
    * splits automatically; for the common case this kernel wins. */
  def searchShuffledFast(indexed: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding",
      metric: String = "sqeuclidean",
      twoLevel: Option[TwoLevelProbe] = None): DataFrame =
    shuffledFastKernel(indexed,
      probeRelation(queries, collectCentroids(centroids), nprobe,
        qidCol, qvecCol, twoLevel),
      k, idCol, vecCol, metric)

  /** (qid LONG, qvec, _pcid INT) — one exploded probe row per
    * (query, probed cell), from the narrow probe-ranking expression
    * (flat `NearestCells`, or the two-level dial when set). */
  private def probeRelation(queries: DataFrame, matrix: Array[Array[Float]],
      nprobe: Int, qidCol: String, qvecCol: String,
      twoLevel: Option[TwoLevelProbe]): DataFrame =
    queries.select(col(qidCol).cast("long"), col(qvecCol),
      explode(probeCellsCol(col(qvecCol), matrix, nprobe, twoLevel))
        .as("_pcid"))

  private def shuffledFastKernel(indexed: DataFrame, probes: DataFrame,
      k: Int, idCol: String, vecCol: String, metric: String): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val probeRows = probes
      .as[(Long, Array[Float], Int)]
      .groupByKey(_._3)
    val dataRows = indexed
      .select(col("cid"), col(idCol).cast("long"), col(vecCol))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
    val (met, kk) = (Knn.metricCode(metric), k)
    val partials = dataRows.cogroup(probeRows) { (_, dataIt, probeIt) =>
      val qs = probeIt.toArray
      if (qs.isEmpty) Iterator.empty
      else {
        val heaps = Array.fill(qs.length)(new graft.functions.TopKBuffer(kk))
        // TILED loop interchange: at large query volume a popular cell
        // has hundreds of probing queries, so the naive row-at-a-time
        // loop walks the whole query/heap working set (hundreds of KB)
        // once per data row — cache-bound at ~1/5 of kernel speed.
        // Buffering a ~128 KB chunk of data rows and running each
        // query over the chunk keeps the query vector and its heap in
        // registers/L1 across the chunk and streams the chunk from L2.
        val tile = 512
        val bufV = new Array[Array[Float]](tile)
        val bufId = new Array[Long](tile)
        var m = 0
        def flush(): Unit = {
          var i = 0
          while (i < qs.length) {
            val h = heaps(i)
            val q = qs(i)._2
            var j = 0
            while (j < m) {
              h.insert(Knn.distBounded(met, bufV(j), q, h.bound), bufId(j))
              j += 1
            }
            i += 1
          }
          m = 0
        }
        dataIt.foreach { case (_, id, v) =>
          bufId(m) = id; bufV(m) = v; m += 1
          if (m == tile) flush()
        }
        flush()
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sorted.iterator.map { case (d, id) => (qs(i)._1, id, d) }
        }
      }
    }.toDF("qid", "_nnid", "_dist")
    Knn.topKFrom(partials, kk, col("_dist"), col("_nnid"), col("qid"))
  }
}
