package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, NswGraph, Resident}

/** Resident-tier memory guard: the decoded-footprint estimate, the
  * pure level decision, the auto wiring in both resident builders,
  * and the actual-footprint accounting the scale record reports. */
class ResidentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf)

  test("chooseLevel: fits within the safety margin -> MEMORY_ONLY; " +
      "over budget or unknown budget -> MEMORY_AND_DISK") {
    val free = 1L << 30 // 1 GiB
    assert(Resident.chooseLevel(100L << 20, free) == StorageLevel.MEMORY_ONLY)
    // exactly at 70% of free still fits
    assert(Resident.chooseLevel((free * 0.7).toLong, free) ==
      StorageLevel.MEMORY_ONLY)
    assert(Resident.chooseLevel((free * 0.7).toLong + 1, free) ==
      StorageLevel.MEMORY_AND_DISK)
    assert(Resident.chooseLevel(2L << 30, free) ==
      StorageLevel.MEMORY_AND_DISK)
    // no executor budget visible: the safe default is disk-backed
    assert(Resident.chooseLevel(1L, 0L) == StorageLevel.MEMORY_AND_DISK)
    // custom safety fraction moves the boundary
    assert(Resident.chooseLevel(free / 2, free, safetyFraction = 0.4) ==
      StorageLevel.MEMORY_AND_DISK)
  }

  test("footprint estimates scale with rows, dim, attrs, and edges") {
    val base = Resident.estimateFlatBytes(1000, 64, withAttrs = false)
    assert(base >= 1000L * 64 * 4) // at least the float payload
    assert(Resident.estimateFlatBytes(2000, 64, withAttrs = false) ==
      2 * base)
    assert(Resident.estimateFlatBytes(1000, 64, withAttrs = true) ==
      base + 8000)
    val g = Resident.estimateGraphBytes(1000, 64, edges = 16000)
    assert(g == base + 4 * 16000 + 4 * 1000)
  }

  test("servableCells auto-guard picks MEMORY_ONLY for a tier that " +
      "fits, honors an explicit override, and reports real bytes") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val indexed = AnnIvf.index(data, centroids)
    val auto = AnnIvf.servableCells(indexed)
    try {
      auto.count()
      assert(auto.getStorageLevel == StorageLevel.MEMORY_ONLY)
      val (mem, disk, cached, total) = Resident.cachedBytes(auto)
      assert(mem > 0 && disk == 0 && cached == total)
      // the estimate is the right order of magnitude vs reality: it
      // must never be far BELOW the real footprint (the guard's job
      // is to not under-promise memory)
      val n = indexed.count()
      val est = Resident.estimateFlatBytes(n, 64, withAttrs = false)
      assert(est >= mem / 4, s"estimate $est vs actual $mem")
    } finally auto.unpersist()
    val forced = AnnIvf.servableCells(indexed,
      storage = Some(StorageLevel.MEMORY_AND_DISK))
    try {
      forced.count()
      assert(forced.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally forced.unpersist()
  }

  test("servableIndex auto-guard estimates vectors + CSR edges and " +
      "picks MEMORY_ONLY for a tier that fits") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val graphs = NswGraph.buildIndex(AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32)
    val idx = NswGraph.servableIndex(graphs)
    try {
      idx.count()
      assert(idx.getStorageLevel == StorageLevel.MEMORY_ONLY)
      val (mem, _, cached, total) = Resident.cachedBytes(idx)
      assert(mem > 0 && cached == total)
    } finally idx.unpersist()
  }

  test("executorFreeBytes excludes the driver's block manager when " +
      "executors are registered, and falls back to it in local mode") {
    val driver = "driver-host:7077"
    val execs = Map("exec1:1234" -> ((0L, 100L)), "exec2:1234" -> ((0L, 200L)))
    // cluster shape: the driver's (large, unusable-for-tiers) budget
    // must not inflate the executor sum
    assert(Resident.executorFreeBytes(
      execs + (driver -> ((0L, 999L))), driver) == 300L)
    // local mode: the driver IS the executor — its entry is the budget
    assert(Resident.executorFreeBytes(Map(driver -> ((0L, 999L))), driver)
      == 999L)
    // driver key unknown (lookup failed): conservative fall-through
    // sums what is visible
    assert(Resident.executorFreeBytes(execs, null) == 300L)
  }

  test("graph-tier estimate stays on the safe side of the measured " +
      "CSR footprint (estimate >= actual)") {
    val centroids = AnnIvf.train(data, numCentroids = 8, iterations = 2)
    val graphs = NswGraph.buildIndex(AnnIvf.index(data, centroids),
      m = 8, efConstruction = 32).cache()
    // the same (rows, dim, edges) aggregate servableIndex's guard runs
    val agg = graphs.agg(sum(size(col("ids"))),
      max(size(element_at(col("vecs"), 1))),
      sum(aggregate(transform(col("adj"),
        a => size(a)), lit(0L), (acc, x) => acc + x))).head()
    val (rows, dim, edges) =
      (agg.getLong(0), agg.getInt(1), agg.getLong(2))
    val est = Resident.estimateGraphBytes(rows, dim, edges)
    val idx = NswGraph.servableIndex(graphs)
    try {
      idx.count()
      val (mem, _, _, _) = Resident.cachedBytes(idx)
      assert(mem > 0 && est >= mem,
        s"graph estimate $est below actual $mem — the guard would " +
          "under-promise memory")
    } finally { idx.unpersist(); graphs.unpersist() }
  }
}
