package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry returns rows; every declared query
  * runs at sf0.001 and every oracle key has a matching query. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("all queries run at sf0.001 and return rows") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).count()
        if (n == 0) Some(name) else None
    }
    // q05 (anti join) may legitimately be empty at tiny scale; all else must produce rows
    assert(empty.filterNot(_ == "q05_anti_join").isEmpty,
      s"queries with empty results: $empty")
  }

  test("ann_pq_recall releases every cache it adds") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = SparkEntry.queries("ann_pq_recall")(spark, sf)
    assert(df.collect().nonEmpty)
    AnnQueries.clearAnnCache()
    // the one-row result's own local checkpoint is the only survivor
    val added = sc.getPersistentRDDs.filter { case (id, rdd) =>
      !before.contains(id) && !(rdd.isCheckpointed &&
        rdd.getCheckpointFile.isEmpty)
    }
    assert(added.isEmpty, s"RDDs still persisted: ${added.keys.toSeq.sorted}")
  }

  test("queries build their graft_* columns without the function registry") {
    // between them: distances, nearest cells and top-k (ann_ivf_fixed),
    // MinHash/LSH, the md5 prefix (sample_stratified) and vecsum
    val fresh = spark.newSession()
    def rows(s: org.apache.spark.sql.SparkSession, q: String) =
      SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted.toSeq
    for (q <- Seq("ann_ivf_fixed", "dedup_minhash_lsh", "sample_stratified",
        "corpus_pool")) assert(rows(fresh, q) == rows(spark, q), q)
    assert(!fresh.catalog.functionExists("graft_sqdist"))
  }
}
