package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Knn, Pq, Recall}

/** Product-quantization operator tests: code shape/determinism, the
  * ADC==decoded-brute-force identity, and a recall floor vs the exact
  * search. */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf
  private def embeddings = Tables.load(spark, sf, "embeddings")
  private def data = embeddings.filter($"vec_id" % 50 =!= 0)
  private def queries = embeddings.filter($"vec_id" % 50 === 0)
    .select($"vec_id".as("qid"), $"embedding".as("q_embedding"))

  private lazy val cb = Pq.train(data, m = 8, ksub = 16, iterations = 2)

  /** The two-stage serve: ADC shortlist of k·kfactor, exact re-rank. */
  private def searchAdcRefined(codes: org.apache.spark.sql.DataFrame,
      book: Pq.Codebook, k: Int, kfactor: Int) =
    Pq.refineShortlist(Pq.searchAdc(codes, book, queries, k * kfactor),
      data, queries, k)

  test("encode: m one-byte-range codes per vector, deterministic") {
    val codes = Pq.encode(data, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c =>
      c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    val again = Pq.encode(data.repartition(5), cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == again)
  }

  test("ADC search equals exact k-NN over the decoded vectors") {
    val codes = Pq.encode(data, cb).cache()
    val adc = Pq.searchAdc(codes, cb, queries, k = 10)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = Knn.exact(Pq.decode(codes, cb), queries, k = 10)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(adc == brute)
  }

  test("shared-shortlist reuse (r21): rank<=k prefix == searchAdc(k); " +
      "refineShortlist == searchAdcRefined") {
    val codes = Pq.encode(data, cb).cache()
    val shortlist = Pq.searchAdc(codes, cb, queries, k = 40).cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(rows(shortlist.filter($"rank" <= 10)) ==
      rows(Pq.searchAdc(codes, cb, queries, k = 10)))
    assert(rows(Pq.refineShortlist(shortlist, data, queries, k = 10)) ==
      rows(searchAdcRefined(codes, cb, k = 10, kfactor = 4)))
  }

  test("PQ recall@10 vs exact search clears a floor; refine recovers") {
    val codes = Pq.encode(data, cb).cache()
    val truth = Knn.exact(data, queries, k = 10)
    val pure = Recall.ofRanked(
        Pq.searchAdc(codes, cb, queries, k = 10), truth)
      .select($"recall").head().getDouble(0)
    // 8x16 codebooks on 64-dim synthetic data: coarse, but far above
    // chance; the floor catches a broken codebook/LUT, not noise
    assert(pure >= 0.15, s"PQ recall $pure")
    val rRefined = Recall.ofRanked(
        searchAdcRefined(codes, cb, k = 10, kfactor = 4), truth)
      .select($"recall").head().getDouble(0)
    assert(rRefined >= pure && rRefined >= 0.5,
      s"refined recall $rRefined (pure $pure)")
  }

  test("Recall08Preset: the measured knee as product config — a " +
      "preset-shaped codebook end-to-end beats the 32x tier's recall") {
    val p = Pq.Recall08Preset
    // the preset IS the measured knee (BENCH_scale_r13.json pq_knee:
    // 0.8925 recall@10 @ 181.7 qps at 5M×64, one-byte codes) — pin
    // the shape so a silent default drift breaks loudly
    assert(p.m == 16 && p.ksub == 256 && p.kfactor == 32)
    assert(Pq.Compress32xPreset.m == 8 && Pq.Compress32xPreset.ksub == 256)
    // test-scale stand-in for ksub: the sf fixture has too few rows
    // to train 256 centroids per subspace; m-dominance (the knee's
    // actual claim) is what this case checks end to end
    val cbP = Pq.train(data, m = p.m, ksub = 16, iterations = 2)
    val codesP = Pq.encode(data, cbP).cache()
    val codes8 = Pq.encode(data, cb).cache()
    val truth = Knn.exact(data, queries, k = 10)
    def recallOf(found: org.apache.spark.sql.DataFrame) =
      Recall.ofRanked(found, truth).select($"recall").head().getDouble(0)
    // same kfactor, preset m vs compression-tier m: more bytes per
    // vector must not lose recall (the knee's whole point)
    val rP = recallOf(
      searchAdcRefined(codesP, cbP, k = 10, kfactor = p.kfactor))
    val r8 = recallOf(
      searchAdcRefined(codes8, cb, k = 10, kfactor = p.kfactor))
    assert(rP >= r8 && rP >= 0.8, s"preset recall $rP vs m=8 $r8")
    codesP.unpersist(); codes8.unpersist()
  }

  test("persisted IVF-PQ: pruned ADC equals full ADC at nprobe=C") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    // raw mode explicit on both sides: the comparison target is the
    // in-memory Pq.encode/searchAdc path, which is raw by construction
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/idx", residual = false)
    // nprobe == C probes every cell: bit-identical to in-memory ADC
    val persisted = Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
        cb, queries, k = 10, nprobe = 8, residual = false)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Pq.searchAdc(Pq.encode(data, cb), cb, queries, k = 10)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(persisted == full && persisted.nonEmpty)
    // nprobe < C: probed-cell predicate lands in PartitionFilters
    // (pruned at planning, before any file is opened) and recall
    // still clears the pure-ADC floor
    val pruned = Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
      cb, queries, k = 10, nprobe = 4, residual = false)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid#") ||
      plan.contains("PartitionFilters: [in(cid"), s"no pruning:\n$plan")
    // chunked persisted lowering: bit-identical at several chunk sizes
    val oneShot = pruned.select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(7, 1000).foreach { sz =>
      val chunked = Knn.chunkedByQuery(queries, sz)(
          Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids, cb, _,
            k = 10, nprobe = 4, residual = false))
        .select($"qid", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(chunked == oneShot && chunked.nonEmpty, s"chunk size $sz")
    }
    val rec = Recall.ofRanked(pruned, Knn.exact(data, queries, k = 10))
      .select($"recall").head().getDouble(0)
    assert(rec >= 0.1, s"pruned IVF-PQ recall $rec")
  }

  test("deleteFromIndex works verbatim on the PQ code table") {
    // AnnIvf.deleteFromIndex is layout-generic: any partitionBy(cid)
    // table carrying the id column — the compressed tier included
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/idx", residual = false)
    val delSet = data.select($"vec_id").collect().map(_.getLong(0))
      .filter(_ % 17 == 2).toSet
    // exercise the cid-HINT path: the retraction feed carries each
    // id's cell, so discovery prunes to the named partitions instead
    // of scanning the corpus-wide (cid, id) relation
    val delWithCid = spark.read.parquet(s"$tmp/idx")
      .filter($"vec_id".isin(delSet.toSeq: _*))
      .select($"vec_id", $"cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
      .toDF("vec_id", "cid")
    val nDel = graft.operators.AnnIvf.deleteFromIndex(spark, s"$tmp/idx",
      delWithCid)
    assert(nDel == delSet.size)
    val served = Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
        cb, queries, k = 10, nprobe = 8, residual = false)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val survivors = data.filter(!$"vec_id".isin(delSet.toSeq: _*))
    val rebuilt = Pq.searchAdc(Pq.encode(survivors, cb), cb, queries,
        k = 10)
      .select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == rebuilt && served.nonEmpty)
  }

  test("tombstones mask the PQ code layout exactly like an eager delete") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq_tmb").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/idx", residual = false)
    val delIds = data.select($"vec_id").collect().map(_.getLong(0))
      .filter(_ % 23 == 6)
    import spark.implicits._
    graft.operators.AnnIvf.tombstone(spark, s"$tmp/idx",
      delIds.toSeq.toDF("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val masked = rows(Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
      cb, queries, k = 10, nprobe = 8, residual = false))
    val survivors = data.filter(!$"vec_id".isin(delIds.toSeq: _*))
    val rebuilt = rows(Pq.searchAdc(Pq.encode(survivors, cb), cb, queries,
      k = 10))
    assert(masked == rebuilt && masked.nonEmpty)
    // honorTombstones = false exposes the mask (rows still on disk)
    assert(rows(Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
      cb, queries, k = 10, nprobe = 8, residual = false,
      honorTombstones = false)) != masked)
    // fold removes them physically; serving unchanged
    assert(graft.operators.AnnIvf.foldTombstones(spark, s"$tmp/idx") ==
      delIds.length)
    assert(rows(Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids,
      cb, queries, k = 10, nprobe = 8, residual = false,
      honorTombstones = false)) == masked)
  }

  test("chunked ADC search is bit-identical to the one-shot path") {
    val codes = Pq.encode(data, cb).cache()
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = tuples(Pq.searchAdc(codes, cb, queries, k = 10))
    Seq(1, 7, 1000).foreach { sz =>
      val chunked = tuples(Knn.chunkedByQuery(queries, sz)(
        Pq.searchAdc(codes, cb, _, k = 10)))
      assert(chunked == oneShot && chunked.nonEmpty, s"chunk size $sz")
    }
    codes.unpersist()
  }

  test("incremental append: appended layout equals a full rebuild, " +
      "untouched cell files are not rewritten") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    val baseRows = data.filter($"vec_id" % 3 =!= 0)
    val newRows = data.filter($"vec_id" % 3 === 0)
    Pq.writeIvfPqIndex(baseRows, centroids, cb, s"$tmp/idx",
      extraCols = Seq("label"), residual = true)
    val filesBefore = new java.io.File(s"$tmp/idx").listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    Pq.appendToIndex(newRows, centroids, cb, s"$tmp/idx",
      extraCols = Seq("label"), residual = true)
    // append only ADDS files — every pre-append file survives untouched
    val filesAfter = new java.io.File(s"$tmp/idx").listFiles()
      .filter(_.getName.startsWith("cid="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    filesBefore.foreach { case (cell, fs) =>
      assert(fs.subsetOf(filesAfter(cell)), s"cell $cell rewritten") }
    // and the resulting code relation is what one full write produces
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/full",
      extraCols = Seq("label"), residual = true)
    def rel(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"codes", $"label", $"cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(rel(s"$tmp/idx") == rel(s"$tmp/full") && rel(s"$tmp/idx").nonEmpty)
  }

  test("residual encoding beats raw codes on clustered data") {
    // deterministic hash-synth Gaussian-mixture analog (ScaleBench's
    // generator, shrunk): 20 tight clusters in 64 dims. Raw-vector PQ
    // mostly spends its codewords re-encoding the cluster identity
    // every in-cell neighbor shares; residual codes spend them on the
    // within-cell offsets that actually rank neighbors.
    import org.apache.spark.sql.Column
    def u(h: Column) = pmod(h, lit(1000001L)).cast("double") / 500000.0 - 1.0
    val dim = 64
    val df = spark.range(3000).toDF("vec_id")
      .withColumn("_c", pmod(xxhash64($"vec_id", lit(11)), lit(20)))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          j => (u(xxhash64($"_c", j, lit(1))) +
            u(xxhash64($"vec_id", j)) * 0.25).cast("float")))
      .drop("_c").cache()
    val qs = df.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("q_embedding"))
    val base = df.filter($"vec_id" % 100 =!= 0)
    val centroids = graft.operators.AnnIvf.train(base, numCentroids = 24,
      iterations = 3)
    val indexed = graft.operators.AnnIvf.index(base, centroids)
    val rawCb = Pq.train(base, m = 8, ksub = 32, iterations = 3)
    val resCb = Pq.train(Pq.residuals(indexed, centroids), m = 8,
      ksub = 32, iterations = 3, vecCol = "_resid")
    val tmp = java.nio.file.Files.createTempDirectory("pq_resid").toString
    Pq.writeIvfPqIndex(base, centroids, rawCb, s"$tmp/raw",
      residual = false)
    Pq.writeIvfPqIndex(base, centroids, resCb, s"$tmp/res", residual = true)
    val truth = Knn.exact(base, qs, k = 10)
    def recallOf(path: String, cbk: Pq.Codebook, residual: Boolean) =
      Recall.ofRanked(
          Pq.searchPersistedAdc(spark, path, centroids, cbk, qs, k = 10,
            nprobe = 24, residual = residual), truth)
        .select($"recall").head().getDouble(0)
    val raw = recallOf(s"$tmp/raw", rawCb, residual = false)
    val res = recallOf(s"$tmp/res", resCb, residual = true)
    // measured on this fixture: raw 0.11, residual 0.34 — the 2x
    // margin is the signal (ksub=32 is deliberately coarse; ksub=256
    // at scale reaches far higher, see BENCH_scale)
    assert(res > 2 * raw && res >= 0.3,
      s"residual recall $res should beat raw $raw on clustered data")
  }

  test("residual encoding is the write default; default write and " +
      "default search compose consistently") {
    // round-12 API pin (VERDICT r11 task 2): a user taking every
    // default gets residual codes on disk AND a residual-aware serve
    // — the raw-ADC recall plateau (flat 0.2255 across nprobe at 5M)
    // is no longer the out-of-the-box behavior.
    val tmp = java.nio.file.Files.createTempDirectory("pq_def").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/default")
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/resid", residual = true)
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/raw", residual = false)
    def codes(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(s"$tmp/default") == codes(s"$tmp/resid"))
    assert(codes(s"$tmp/default") != codes(s"$tmp/raw"))
    // default search over a default write matches the explicit
    // residual serve exactly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaDefaults = rows(Pq.searchPersistedAdc(spark, s"$tmp/default",
      centroids, cb, queries, k = 10, nprobe = 8))
    val explicitRes = rows(Pq.searchPersistedAdc(spark, s"$tmp/resid",
      centroids, cb, queries, k = 10, nprobe = 8, residual = true))
    assert(viaDefaults == explicitRes && viaDefaults.nonEmpty)
  }

  test("encode-mode sidecar: searching or appending with the wrong " +
      "residual flag fails loudly; matching flags pass; legacy " +
      "layouts skip validation") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq_meta").toString
    val centroids = graft.operators.AnnIvf.train(data, numCentroids = 8,
      iterations = 2)
    Pq.writeIvfPqIndex(data, centroids, cb, s"$tmp/idx", residual = true)
    // the sidecar records the layout's encode parameters
    val meta = Pq.readPqMeta(spark, s"$tmp/idx")
    assert(meta.contains(Pq.PqMeta(residual = true, m = cb.m,
      dsub = cb.dsub, ksub = cb.codebooks(0).length)))
    // matching search passes; a flipped flag is a loud error, not
    // silently-garbage rankings
    assert(Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids, cb,
      queries, k = 10, nprobe = 8, residual = true).count() > 0)
    val ex = intercept[IllegalArgumentException] {
      Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids, cb,
        queries, k = 10, nprobe = 8, residual = false).count()
    }
    assert(ex.getMessage.contains("residual"))
    // append with the wrong flag is refused BEFORE touching the tree
    val exA = intercept[IllegalArgumentException] {
      Pq.appendToIndex(queries.select($"qid".as("vec_id"),
        $"q_embedding".as("embedding")), centroids, cb, s"$tmp/idx",
        residual = false)
    }
    assert(exA.getMessage.contains("residual"))
    // a codebook of a different shape is refused too
    val cbSmall = Pq.train(data, m = 4, ksub = 16, iterations = 1)
    val exS = intercept[IllegalArgumentException] {
      Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids, cbSmall,
        queries, k = 10, nprobe = 8, residual = true).count()
    }
    assert(exS.getMessage.contains("codebook"))
    // legacy layout (no sidecar): validation skips, and the first
    // append writes the sidecar from its own flags
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/idx/.graft_pq_meta.json"),
      false)
    assert(Pq.readPqMeta(spark, s"$tmp/idx").isEmpty)
    assert(Pq.searchPersistedAdc(spark, s"$tmp/idx", centroids, cb,
      queries, k = 10, nprobe = 8, residual = true).count() > 0)
    Pq.appendToIndex(queries.limit(1).select($"qid".as("vec_id"),
      $"q_embedding".as("embedding")), centroids, cb, s"$tmp/idx",
      residual = true)
    assert(Pq.readPqMeta(spark, s"$tmp/idx").contains(
      Pq.PqMeta(residual = true, m = cb.m, dsub = cb.dsub,
        ksub = cb.codebooks(0).length)))
  }

  test("compression accounting: 8 codes vs 64 floats per vector") {
    // the stored representation is m ints (1 byte each at ksub<=256)
    // against d floats: 32x at fp32, documented in the scaladoc
    assert(cb.m * cb.dsub == 64)
    val bytesCodes = cb.m // 1 byte per code
    val bytesFp32 = 64 * 4
    assert(bytesFp32 / bytesCodes == 32)
  }
}
