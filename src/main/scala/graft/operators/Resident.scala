package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Memory accounting for the RESIDENT serving tiers
  * (`AnnIvf.servableCells*`, `NswGraph.servableIndex*`) and the
  * driver-local replicas built from them.
  *
  * Why this exists: a resident tier pins the DECODED corpus as
  * deserialized JVM objects. `MEMORY_ONLY` on an object RDD silently
  * EVICTS under pressure and recomputes through the lineage on the
  * next touch — at serving scale that is the worst failure mode: no
  * error, but every eviction re-pays the full decode inside a latency-
  * sensitive query. So `persistSized` reads the executors' free
  * storage memory before anything is cached, materializes the decoded
  * tier `MEMORY_ONLY` in ONE pass that also folds its footprint
  * (`TierStats`: rows, widest dim, edges — rows × dim × 4 bytes of
  * floats + per-row structure overhead) and:
  *
  *  - fits comfortably (≤ `safetyFraction` of free storage) → keeps
  *    `MEMORY_ONLY`, the intended resident contract, already built;
  *  - does not fit → re-persists `MEMORY_AND_DISK` with a LOUD
  *    warning — spilled blocks are read back from local disk instead
  *    of recomputed (bounded, predictable degradation), and the
  *    operator tells you to size executors up or shrink the tier.
  *
  * Callers that know better pass `storage = Some(level)` and skip the
  * pass entirely (the tier stays lazy). The decision function is pure
  * and unit-tested apart from the engine (ResidentSpec); `cachedBytes`
  * reports the tier's ACTUAL footprint after materialization for the
  * scale record's decoded-size accounting.
  */
object Resident {

  /** Free driver-heap bytes for the local-replica build guards,
    * measured AFTER a GC hint: right after an index build's Spark
    * jobs the heap is full of uncollected garbage and the
    * instantaneous reading under-reports free memory by whole
    * gigabytes (measured: a 48 GB driver read 8.5 GB free and
    * spuriously refused a 6.4 GB replica an identical session had
    * just built with headroom). One System.gc() is cheap relative to
    * the once-per-build collect it guards, and a guard that can fail
    * on garbage is not a guard on occupancy. */
  private[operators] def freeHeapAfterGc(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    rt.maxMemory() - (rt.totalMemory() - rt.freeMemory())
  }

  /** Free storage memory summed across EXECUTORS. The raw
    * `getExecutorMemoryStatus` map includes the driver's block
    * manager; in cluster mode the driver caches no tier partitions,
    * so counting its headroom would inflate the budget and let
    * `chooseLevel` pick MEMORY_ONLY for a tier that does not fit on
    * the executors — re-creating the silent eviction-recompute the
    * guard exists to prevent. The driver entry is excluded whenever
    * any other block manager is registered; in local mode the driver
    * IS the executor and its entry is the budget. (The sum still
    * assumes partitions spread ~evenly; a pathologically skewed tier
    * can overfill one executor while the sum says it fits — the 0.7
    * safety margin in `chooseLevel` absorbs moderate skew, and
    * callers with known-skewed tiers should pass an explicit
    * `storage` level.) */
  def freeStorageBytes(sc: SparkContext): Long = {
    val status = sc.getExecutorMemoryStatus
    val driverKey =
      try org.apache.spark.SparkEnv.get.blockManager.blockManagerId.hostPort
      catch { case scala.util.control.NonFatal(_) => null }
    executorFreeBytes(status.toMap, driverKey)
  }

  /** The pure budget fold (unit-tested apart from the engine): sum
    * free storage over non-driver entries; if the driver is the ONLY
    * block manager (local mode), its budget is the budget. */
  private[graft] def executorFreeBytes(
      status: Map[String, (Long, Long)], driverKey: String): Long = {
    val execs = status.filter { case (k, _) => k != driverKey }
    val useful = if (execs.nonEmpty) execs else status
    useful.values.map(_._2).foldLeft(0L)(_ + _)
  }

  /** Decoded footprint of a flat vector tier: per row one long id,
    * one int cid, dim floats, optionally one double attr; plus a
    * per-row share of array-object overhead (the ragged fallback
    * stores one Array[Float] object per row — 16B header + 8B
    * reference dominate the non-flat shape, so the estimate charges
    * them always, erring safe). */
  def estimateFlatBytes(rows: Long, dim: Int, withAttrs: Boolean): Long = {
    val perRow = 8L + 4L + 4L * dim + (if (withAttrs) 8L else 0L) + 24L
    rows * perRow
  }

  /** Decoded footprint of a CSR graph tier: the flat-vector estimate
    * plus 4 bytes per adjacency edge and 4 per CSR offset. */
  def estimateGraphBytes(rows: Long, dim: Int, edges: Long): Long =
    estimateFlatBytes(rows, dim, withAttrs = false) + 4L * edges + 4L * rows

  /** The pure guard decision: MEMORY_ONLY iff the estimate fits in
    * `safetyFraction` of free storage (the margin covers the object
    * headers/JVM slack the estimate cannot see), else MEMORY_AND_DISK.
    * `freeBytes <= 0` (no executor registered yet) falls back to
    * MEMORY_AND_DISK — the safe default when the budget is unknown. */
  def chooseLevel(estBytes: Long, freeBytes: Long,
      safetyFraction: Double = 0.7): StorageLevel =
    if (freeBytes > 0 && estBytes <= (freeBytes * safetyFraction).toLong)
      StorageLevel.MEMORY_ONLY
    else StorageLevel.MEMORY_AND_DISK

  /** What the guards size a decoded tier from, folded per element:
    * rows, the widest row's dim, adjacency edges (graph cells), the
    * rows held fp32-contiguous (`flatRows`) and fp16-packed
    * (`halfRows`), and whether a filter attribute rides along. */
  final case class TierStats(rows: Long, dim: Int, edges: Long,
      flatRows: Long, halfRows: Long, attrs: Boolean) {
    def +(o: TierStats): TierStats = TierStats(rows + o.rows,
      math.max(dim, o.dim), edges + o.edges, flatRows + o.flatRows,
      halfRows + o.halfRows, attrs || o.attrs)
  }
  object TierStats { val Zero: TierStats = TierStats(0L, 0, 0L, 0L, 0L, false) }

  /** One job over `rdd`: each partition's `TierStats`, in partition
    * order. On a persisted RDD this is also the pass that caches it. */
  private[operators] def partitionStats[T](rdd: RDD[T])(
      statsOf: T => TierStats): Array[TierStats] =
    rdd.sparkContext.runJob(rdd, (it: Iterator[T]) =>
      it.foldLeft(TierStats.Zero)((s, x) => s + statsOf(x)))

  /** Persist a decoded resident tier, sized in the pass that builds
    * it: with `storage` given, persist at that level (lazy, no pass);
    * otherwise `persistWithin` the executors' free storage, read
    * BEFORE anything is cached. */
  private[operators] def persistSized[T](decoded: RDD[T],
      storage: Option[StorageLevel], what: String)(
      statsOf: T => TierStats)(estimate: TierStats => Long): RDD[T] =
    storage match {
      case Some(level) => decoded.persist(level)
      case None => persistWithin(decoded,
        freeStorageBytes(decoded.sparkContext), what)(statsOf)(estimate)
    }

  /** Persist `MEMORY_ONLY`, fold the footprint from the materializing
    * job and apply `chooseLevel(estimate(stats), free)`. An estimate
    * over the budget unpersists and re-persists `MEMORY_AND_DISK` with
    * the loud warning (lazy again: the caller's next action rebuilds
    * it at that level, so that regime pays the decode twice, and its
    * first pass competes for storage like any `MEMORY_ONLY` cache). */
  private[graft] def persistWithin[T](decoded: RDD[T], free: Long,
      what: String)(statsOf: T => TierStats)(
      estimate: TierStats => Long): RDD[T] = {
    decoded.persist(StorageLevel.MEMORY_ONLY)
    val est = estimate(
      partitionStats(decoded)(statsOf).foldLeft(TierStats.Zero)(_ + _))
    val level = chooseLevel(est, free)
    if (level != StorageLevel.MEMORY_ONLY) {
      println(s"[graft] $what: decoded tier estimate " +
        s"${est / (1 << 20)} MiB exceeds the resident budget " +
        s"(${(free * 0.7).toLong / (1 << 20)} MiB = 70% of free storage " +
        s"memory $free B) — persisting MEMORY_AND_DISK; spilled blocks " +
        "re-read from local disk instead of re-decoding. Size executor " +
        "storage memory to the decoded corpus for full resident speed, " +
        "or pass storage = Some(level) to override.")
      decoded.unpersist(blocking = true)
      decoded.persist(level)
    }
    decoded
  }

  /** Consecutive partition batches whose summed estimated bytes stay
    * within `budget`; a partition over `budget` goes alone, and
    * `budget <= 0` (an unlimited `maxResultSize`) is one batch. Pure:
    * partition order is kept, so concatenating the batches' results
    * reproduces a whole-RDD collect. */
  private[graft] def planBatches(partBytes: Array[Long],
      budget: Long): Seq[Seq[Int]] =
    if (budget <= 0L) Seq(partBytes.indices).filter(_.nonEmpty)
    else partBytes.indices.foldLeft(List.empty[(List[Int], Long)]) {
      case ((batch, n) :: done, p) if n + partBytes(p) <= budget =>
        (p :: batch, n + partBytes(p)) :: done
      case (done, p) => (List(p), partBytes(p)) :: done
    }.reverse.map(_._1.reverse)

  /** The driver-local replica fetch both replicas share. One job
    * folds each partition's `TierStats`; unless `force`, the heap
    * guard refuses a replica whose `heapEst` exceeds `maxHeapFraction`
    * of the free driver heap BEFORE anything is collected; then the
    * partitions are fetched in order with `runJob`, in `planBatches`
    * of `wireEst` bytes under half of `spark.driver.maxResultSize`
    * (the estimate is of decoded bytes; half leaves room for the
    * serialized form's overhead): one job at serving-test sizes, and
    * the limit never sees the whole index at scale. `perBatch`
    * transforms each fetched batch (fp16 packing), so a transient
    * form is never held for the whole corpus. */
  private[operators] def collectReplica[T: ClassTag](idx: RDD[T],
      what: String, maxHeapFraction: Double, force: Boolean)(
      statsOf: T => TierStats)(heapEst: TierStats => Long,
      wireEst: TierStats => Long)(perBatch: Array[T] => Array[T])
      : Array[T] = {
    val parts = partitionStats(idx)(statsOf)
    if (!force) {
      val est = heapEst(parts.foldLeft(TierStats.Zero)(_ + _))
      val free = freeHeapAfterGc()
      require(est <= (free * maxHeapFraction).toLong,
        f"$what: decoded estimate ${est / 1e6}%.0f MB " +
          f"exceeds ${maxHeapFraction * 100}%.0f%% of the free driver " +
          f"heap (${free / 1e6}%.0f MB free) - serve from the " +
          "distributed resident tier, grow the driver, or pass " +
          "force = true")
    }
    val sc = idx.sparkContext
    val budget = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize",
      "1g") / 2
    val out = Array.newBuilder[T]
    planBatches(parts.map(wireEst), budget).foreach { batch =>
      out ++= perBatch(
        sc.runJob(idx, (it: Iterator[T]) => it.toArray, batch).flatten)
    }
    out.result()
  }

  /** ACTUAL cached footprint of a materialized RDD (memory + disk
    * bytes and the partition counts), from the block-manager's
    * storage info — the number the scale record reports next to qps.
    * Returns (memBytes, diskBytes, cachedPartitions, totalPartitions). */
  def cachedBytes(rdd: RDD[_])
      : (Long, Long, Int, Int) =
    rdd.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .map(i => (i.memSize, i.diskSize, i.numCachedPartitions,
        rdd.getNumPartitions))
      .getOrElse((0L, 0L, 0, rdd.getNumPartitions))
}
