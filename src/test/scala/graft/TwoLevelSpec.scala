package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, Knn, Recall}

/** Two-level (hierarchical) coarse quantizer: the row-linear scale
  * path replacing the flat n×C assignment (the round-7 verdict's one
  * named scale asymptote). Pins: exactness of the degenerate cases,
  * the member-partition invariant, tie semantics, and recall parity
  * of the full two-level IVF pipeline against the flat quantizer. */
class TwoLevelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf).filter(SparkEntry.filterLow)
  private def queries = SparkEntry.queriesDf(spark, sf)

  private def fixed(mod: Int) = {
    val w = org.apache.spark.sql.expressions.Window.orderBy($"vec_id")
    data.filter($"vec_id" % mod === 7)
      .select((row_number().over(w) - 1).as("cid"),
        $"embedding".as("centroid"))
  }

  test("members partition the cid space (every cid in exactly one super)") {
    val subM = AnnIvf.collectCentroids(fixed(31))
    val supM = AnnIvf.collectMatrix(
      fixed(149).withColumnRenamed("cid", "sid"), "sid", "centroid")
    val members = AnnIvf.memberLists(supM, subM)
    val all = members.flatten.sorted
    assert(all.toSeq == (0 until subM.length))
    members.foreach(m => assert(m.sorted.toSeq == m.toSeq,
      "member lists must be ascending"))
  }

  test("wSuper = #supers degrades to the exact flat argmin") {
    // scanning the members of EVERY super-cell visits every sub
    // centroid, so the hierarchical expression must reproduce the
    // flat NearestCentroid assignment bit for bit (including the
    // (dist, cid) tie rule) — the strongest internal consistency
    // check available without an oracle
    val centroids = fixed(31)
    val supers = fixed(149).withColumnRenamed("cid", "sid")
    val nSupers = supers.count().toInt
    val flat = AnnIvf.assign(data, centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hier = AnnIvf.indexTwoLevel(data, supers, centroids,
        wSuper = nSupers).select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hier == flat)
  }

  test("w=1 assignment equals the two-step argmin computed relationally") {
    // independent relational twin of the expression: nearest super by
    // (dist, sid), then nearest MEMBER sub by (dist, cid)
    val centroids = fixed(31)
    val supers = fixed(149).withColumnRenamed("cid", "sid")
    val subM = AnnIvf.collectCentroids(centroids)
    val supM = AnnIvf.collectMatrix(supers, "sid", "centroid")
    val members = AnnIvf.memberLists(supM, subM)
    val cidToSid = members.zipWithIndex
      .flatMap { case (ms, s) => ms.map(_ -> s) }.toMap
    val sub2sup = cidToSid.toSeq.toDF("cid", "sid")
    // row → super via the flat expression over the SUPER matrix
    val rowSup = data.select($"vec_id",
      GraftFunctions.nearestCentroid($"embedding", supM).as("sid"))
    // row → cell: argmin over subs joined to the row's super
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"dst", $"cid")
    val relational = data.join(rowSup, "vec_id")
      .join(sub2sup, "sid")
      .join(centroids, "cid")
      .select($"vec_id", $"cid",
        GraftFunctions.sqDist($"embedding", $"centroid").as("dst"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hier = AnnIvf.indexTwoLevel(data, supers, centroids, wSuper = 1)
      .select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hier == relational)
  }

  test("two-level IVF pipeline recall parity with the flat quantizer") {
    // trained (non-fixture) path: flat k-means subs, supers trained
    // over the sub-centroid matrix, full search through the unchanged
    // probe/top-k machinery. Boundary rows may move cells, so exact
    // assignment equality is NOT expected — recall against the exact
    // oracle is the contract (the verdict's "within noise" bar).
    val centroids = AnnIvf.train(data, 12, iterations = 2)
    val supers = AnnIvf.trainSupers(centroids, 4)
    val truth = Knn.exact(data, queries, 10)
    def recallOf(indexed: org.apache.spark.sql.DataFrame): Double = {
      val r = Recall.ofRanked(
        AnnIvf.search(indexed, centroids, queries, 10, nprobe = 4),
        truth).head()
      r.getDouble(r.fieldIndex("recall"))
    }
    val flatR = recallOf(AnnIvf.index(data, centroids))
    val hierR = recallOf(AnnIvf.indexTwoLevel(data, supers, centroids))
    assert(hierR >= flatR - 0.05,
      s"two-level recall $hierR fell more than 0.05 below flat $flatR")
    // and the assignments themselves mostly agree — a loose sanity
    // bar: this fixture's 12 cells over 434 rows are nearly all
    // boundary (~0.76 observed); on clustered data at real cell sizes
    // agreement is far higher (measured in ScaleBench)
    val flat = AnnIvf.assign(data, centroids)
      .withColumnRenamed("cid", "cid_flat")
    val agree = AnnIvf.indexTwoLevel(data, supers, centroids)
      .select($"vec_id", $"cid").join(flat, "vec_id")
      .agg(avg(($"cid" === $"cid_flat").cast("double"))).head().getDouble(0)
    assert(agree >= 0.7, s"only ${agree * 100}%% of assignments agree")
  }

  test("wSuper=2 is at least as close to flat as wSuper=1") {
    val centroids = AnnIvf.train(data, 12, iterations = 2)
    val supers = AnnIvf.trainSupers(centroids, 4)
    val flat = AnnIvf.assign(data, centroids).withColumnRenamed("cid", "c0")
    def agree(w: Int): Double =
      AnnIvf.indexTwoLevel(data, supers, centroids, wSuper = w)
        .select($"vec_id", $"cid").join(flat, "vec_id")
        .agg(avg(($"cid" === $"c0").cast("double"))).head().getDouble(0)
    assert(agree(2) >= agree(1))
  }

  test("two-level appendToIndex lands batches in the base build's cells") {
    // a persisted index built with indexTwoLevel and maintained by
    // appendToIndex(supers = ...) must equal the full two-level
    // rebuild over the union, cell for cell — same parity contract as
    // KnnSpec's flat incremental test, through the hierarchical
    // expression
    val centroids = AnnIvf.train(data, 12, iterations = 2)
    val supers = AnnIvf.trainSupers(centroids, 4)
    val base = data.filter($"vec_id" % 5 =!= 0)
    val batch = data.filter($"vec_id" % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_twolevel_append").toString
    AnnIvf.writeIndex(AnnIvf.indexTwoLevel(base, supers, centroids), dir)
    AnnIvf.appendToIndex(batch, centroids, dir, supers = Some(supers))
    val persisted = spark.read.parquet(dir)
      .select($"vec_id", $"cid".cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = AnnIvf.indexTwoLevel(data, supers, centroids)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(persisted === rebuilt)
  }

  test("append parity holds at a NON-default wSuper") {
    // the parity contract is per-wSuper: a base index built at
    // wSuper=1 must be appended at wSuper=1 (a boundary row whose true
    // cell lives under its second-nearest super would otherwise land
    // in a different cell than the build placed it)
    val centroids = AnnIvf.train(data, 12, iterations = 2)
    val supers = AnnIvf.trainSupers(centroids, 4)
    val base = data.filter($"vec_id" % 5 =!= 0)
    val batch = data.filter($"vec_id" % 5 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_w1_append").toString
    AnnIvf.writeIndex(
      AnnIvf.indexTwoLevel(base, supers, centroids, wSuper = 1), dir)
    AnnIvf.appendToIndex(batch, centroids, dir, supers = Some(supers),
      wSuper = 1)
    val persisted = spark.read.parquet(dir)
      .select($"vec_id", $"cid".cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rebuilt = AnnIvf.indexTwoLevel(data, supers, centroids, wSuper = 1)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(persisted === rebuilt)
    // and the w=1/w=4 assignments genuinely differ somewhere on this
    // data — otherwise the parity assertion above is vacuous
    val w4 = AnnIvf.indexTwoLevel(data, supers, centroids, wSuper = 4)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rebuilt != w4, "w=1 and w=4 agree everywhere — test is vacuous")
  }
}
