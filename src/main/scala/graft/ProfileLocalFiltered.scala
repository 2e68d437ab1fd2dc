package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, NswGraph, Recall, Serving}

/** FILTERED small-batch serving point (round-14, the companion of
  * ProfileSmallBatch): the reference's actual product scenario is
  * FILTERED 100-query closed-loop batches (filter_config.yaml buckets
  * × params_config.yaml:23 batch size) — this measures
  * `Serving.serveFilteredLocalExplained` at exactly that shape, every
  * branch of the measured dispatch rule fully in-process:
  *
  *   low  bucket (keeps 83.63%) → graph over-fetch on the local
  *        unfiltered graph replica
  *   high bucket (keeps 15.61%) → resident pre-filter scan of the
  *        probed cells (IvfPrefilterResident)
  *   mid  bucket (keeps  0.77%) → exact scan over the survivors
  *        (recall 1.0 by construction; survivor list resolved once
  *        per call)
  *
  * Selectivity rides as a hint (the job-path convention for known
  * brackets — the reference's are fixed); one no-hint point records
  * the per-call counting cost. Fixture matches ScaleBench's filtered
  * section: 5M×64 mixture, rating_m on the {0, 0.001, …, 9.999} grid
  * reproducing the reference's exact selectivities, 1024 cells,
  * two-level assign, m=16/efC=64 graphs, k=10.
  *
  * usage: runMain graft.ProfileLocalFiltered [nVectors] [nQueries] [nCells]
  *          [lowDials] [lowonly]
  * `lowDials` (r17, mirroring ProfileSmallBatch's dials arg) is an
  * optional comma list of np:mult:efs triples overriding the
  * matched-recall low-bucket sweep — iso-recall at a larger corpus
  * needs proportionally wider nprobe (the probed-fraction physics the
  * 20M unfiltered tier measured); "-" keeps the default sweep.
  * `lowonly` skips the bucket/id-set sections and runs just the
  * build + the low-bucket matched-recall sweep.
  */
object ProfileLocalFiltered {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val nQ = args.lift(1).map(_.toInt).getOrElse(100000)
    val nCells = args.lift(2).map(_.toInt).getOrElse(1024)
    val lowDials: Seq[(Int, Int, Int)] = args.lift(3)
      .filter(_ != "-")
      .map(_.split(',').toSeq.map { s =>
        val Array(np, mult, efs) = s.split(':')
        (np.toInt, mult.toInt, efs.toInt)
      })
      .getOrElse(Seq((4, 1, 12), (4, 1, 16), (4, 1, 20), (4, 1, 24),
        (4, 2, 24), (4, 3, 32), (2, 1, 24), (2, 2, 24), (2, 2, 32),
        (2, 3, 32)))
    // args(4) = comma mode list: "lowonly" (skip bucket/id-set
    // sections), "fp16" (also measure the PACKED flat replica on the
    // pre-filter buckets — the r17 packed form applied to the
    // filtered tier)
    val modes = args.lift(4).map(_.split(',').toSet).getOrElse(Set.empty)
    val lowOnly = modes.contains("lowonly")
    val fp16Mode = modes.contains("fp16")
    val dim = 64
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // pin every pre-existing section to the FLAT prober (the r18
    // operating points this profile's history measures); the AUTO
    // section below re-enables the dial for its own A/B
    Serving.autoTwoLevelEnabled = false
    import spark.implicits._
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // the unfiltered corpus with the reference-selectivity rating grid
    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding", dim)
      .withColumn("rating_m",
        pmod(xxhash64(col("vec_id"), lit(888)), lit(10000))
          .cast("double") / 1000.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()
    val centroids = AnnIvf.train(
      data.sample(math.min(1.0, 200000.0 / n), 44), nCells, iterations = 2)
    val indexed = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(centroids),
      centroids, wSuper = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    indexed.count()
    val (graphRep, gSec) = time {
      val g = NswGraph.buildIndex(indexed, m = 16, efConstruction = 64)
      val s = NswGraph.servableIndex(g)
      s.count()
      val r = NswGraph.localReplica(s, centroids)
      s.unpersist()
      r
    }
    val (flatRep, fSec) = time {
      val c = AnnIvf.servableCells(indexed, attrCol = Some("rating_m"))
      c.count()
      val r = AnnIvf.localCellReplica(c, centroids)
      c.unpersist()
      r
    }
    println(f"[plf] n=$n graph build+replica $gSec%.1fs; flat " +
      f"replica $fSec%.1fs (${flatRep.size} rows, ${flatRep.nCells} cells)")

    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val sampleArr = qSample.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()

    // closed loop over the full query set at batch size `bs`, best of
    // 2 passes; reports (qps, avg batch ms, p99 batch ms) — the
    // latency columns mirror the reference's published avg/p99 per
    // batch (BASELINE.md)
    def measureLoop(bs: Int)(call: Array[(Long, Array[Float])] => Unit)
        : (Double, Double, Double) = ProfileStats.closedLoop(qArr, bs)(call)
    def recallOf(rows: Array[(Long, Long, Long, Double)],
        truth: org.apache.spark.sql.DataFrame): Double = {
      val df = spark.createDataset(rows.toSeq)
        .toDF("qid", "rank", "neighbor_id", "dist")
      val r = Recall.ofRanked(df, truth).head()
      r.getDouble(r.fieldIndex("recall"))
    }

    // warm the kernels + JIT
    Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
      qArr.take(5000), k, _ < 8.363, selectivity = Some(0.8363))
    Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
      qArr.take(5000), k, _ < 1.561, selectivity = Some(0.1561))

    if (!lowOnly) Seq(("low", 8.363, 0.8363), ("high", 1.561, 0.1561),
        ("mid", 0.077, 0.0077)).foreach { case (nm, thr, sel) =>
      val pred: Double => Boolean = _ < thr
      val truth = Knn.exact(data.filter(col("rating_m") < thr), qSample,
        k).cache()
      truth.count()
      // recall + dispatched branch on the sample
      // the CostBased default (r16): no `extreme` override — the
      // dispatcher resolves the boundary from the replica's geometry
      // (nprobe/nCells = 4/1024 ≈ 0.39%), which routes even the mid
      // bucket (0.77% kept) to the pre-filter instead of the old
      // fixed 0.02's exact scan
      val (strat, sRows) = Serving.serveFilteredLocalExplained(flatRep,
        Some(graphRep), sampleArr, k, pred, nprobe = 4, efSearch = 32,
        selectivity = Some(sel))
      val recall = recallOf(sRows, truth)
      Seq(100, 1000).foreach { bs =>
        val (qps, avgMs, p99Ms) = measureLoop(bs) { batch =>
          Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
            batch, k, pred, nprobe = 4, efSearch = 32,
            selectivity = Some(sel))
        }
        println(f"[plf] LOCAL filtered $nm%-4s (${strat.name}%-22s) " +
          f"batch=$bs%5d: $qps%9.1f qps recall@10=$recall%.4f " +
          f"lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
      }
      // the no-hint cost: one call at batch=100 measuring the per-call
      // selectivity counting pass (deployments with known brackets
      // pass the hint and never pay this)
      val (_, noHint) = time {
        Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
          qArr.take(100), k, pred, nprobe = 4, efSearch = 32)
      }
      println(f"[plf]   $nm%-4s no-hint single 100-query call: " +
        f"$noHint%6.3fs (includes the one-pass attr count)")
      // the mid bucket's dials — both sides of the CostBased
      // crossover, for the record:
      //  - np=16 pre-filter (extreme lowered): the r14 headline point
      //    (recall ~0.9995 — survivors concentrate in the probed cells)
      //  - exact scan (extreme raised back to the old fixed 0.02):
      //    recall 1.0 by construction, the branch the old default ran
      if (nm == "mid") {
        Seq((16, Some(0.001), "np=16"), (4, Some(0.02), "exact-dial"))
          .foreach { case (np, ext, tag) =>
          val (pStrat, pRows) = Serving.serveFilteredLocalExplained(
            flatRep, Some(graphRep), sampleArr, k, pred, nprobe = np,
            efSearch = 32, selectivity = Some(sel), extreme = ext.get)
          val pRecall = recallOf(pRows, truth)
          Seq(100, 1000).foreach { bs =>
            val (qps, avgMs, p99Ms) = measureLoop(bs) { batch =>
              Serving.serveFilteredLocalExplained(flatRep,
                Some(graphRep), batch, k, pred, nprobe = np,
                efSearch = 32, selectivity = Some(sel),
                extreme = ext.get)
            }
            println(f"[plf] LOCAL filtered $nm%-4s (${pStrat.name}%-22s) " +
              f"$tag%-10s batch=$bs%5d: $qps%9.1f qps " +
              f"recall@10=$pRecall%.4f " +
              f"lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
          }
        }
      }
      truth.unpersist()
    }

    // ID-SET (bitset) route vs the attr route — the r16
    // generalization's cost check: the same rating predicate served
    // through `serveFilteredLocalIdSetExplained` (survivor ids
    // precomputed ONCE by a distributed Column filter — the form any
    // multi-column/string predicate arrives in) must match the attr
    // route's qps, since the only per-row difference is a binary
    // search against the id array vs an attr comparison. Row-identity
    // is pinned in ServingSpec; here both routes are measured on the
    // same replica in the same window.
    if (!lowOnly)
    Seq(("high", 1.561, 0.1561), ("mid", 0.077, 0.0077)).foreach {
      case (nm, thr, sel) =>
        val pred: Double => Boolean = _ < thr
        val (idSet, idSec) = time {
          Serving.survivorIdSet(data, col("rating_m") < thr)
        }
        // sanity: both routes return identical rows on the sample
        val (aStrat, aRows) = Serving.serveFilteredLocalExplained(
          flatRep, Some(graphRep), sampleArr, k, pred, nprobe = 4,
          efSearch = 32, selectivity = Some(sel))
        val (iStrat, iRows) = Serving.serveFilteredLocalIdSetExplained(
          flatRep, Some(graphRep), sampleArr, k, idSet, nprobe = 4,
          efSearch = 32, selectivity = Some(sel))
        require(aStrat == iStrat && aRows.toSeq == iRows.toSeq,
          s"id-set route diverged from the attr route on $nm")
        Seq(100, 1000).foreach { bs =>
          val (aQps, _, _) = measureLoop(bs) { batch =>
            Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
              batch, k, pred, nprobe = 4, efSearch = 32,
              selectivity = Some(sel))
          }
          val (iQps, iAvg, iP99) = measureLoop(bs) { batch =>
            Serving.serveFilteredLocalIdSetExplained(flatRep,
              Some(graphRep), batch, k, idSet, nprobe = 4,
              efSearch = 32, selectivity = Some(sel))
          }
          println(f"[plf] ID-SET $nm%-4s (${iStrat.name}%-22s) " +
            f"batch=$bs%5d: idset $iQps%9.1f qps vs attr $aQps%9.1f " +
            f"qps (ratio ${iQps / aQps}%.3f) " +
            f"lat(avg/p99)=$iAvg%.2f/$iP99%.2f ms " +
            f"[${idSet.length} ids, collect $idSec%.2fs]")
        }
    }

    // AUTO two-level dial (r19): the cost-based crossover
    // (`Serving.autoTwoLevel`) must PICK the measured winner per
    // bucket — the two-level prober at the argmin-dominated mid
    // (BENCH_scale_r18: 1.21–1.34×), the flat prober at the
    // scan-dominated high (~1.0×). Three-way A/B per bucket at
    // batch=1000: pinned-flat, auto, explicit two-level — the auto's
    // row must sit on the winner's numbers.
    if (!lowOnly) Seq(("high", 1.561, 0.1561), ("mid", 0.077, 0.0077))
      .foreach { case (nm, thr, sel) =>
        val pred: Double => Boolean = _ < thr
        val engaged = Serving.autoTwoLevel(
          flatRep.centroidMatrix.length.toLong, flatRep.size.toLong,
          flatRep.dim, 4, sel)
        println(s"[plf] AUTO $nm: autoTwoLevel decision = $engaged")
        val truth = Knn.exact(data.filter(col("rating_m") < thr),
          qSample, k).cache()
        truth.count()
        def runAb(tag: String, enable: Boolean,
            prober: Array[Float] => Array[Int]): Unit = {
          Serving.autoTwoLevelEnabled = enable
          try {
            val (_, rows) = Serving.serveFilteredLocalExplained(flatRep,
              Some(graphRep), sampleArr, k, pred, nprobe = 4,
              efSearch = 32, selectivity = Some(sel),
              proberOverride = prober)
            val rec = recallOf(rows, truth)
            val (qps, avgMs, p99Ms) = measureLoop(1000) { batch =>
              Serving.serveFilteredLocalExplained(flatRep,
                Some(graphRep), batch, k, pred, nprobe = 4,
                efSearch = 32, selectivity = Some(sel),
                proberOverride = prober)
            }
            println(f"[plf] AUTO $nm%-4s $tag%-9s batch= 1000: " +
              f"$qps%9.1f qps recall@10=$rec%.4f " +
              f"lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
          } finally Serving.autoTwoLevelEnabled = false
        }
        runAb("flat", enable = false, null)
        runAb("auto", enable = true, null)
        runAb("twolevel", enable = false, flatRep.twoLevelProberAuto(4))
        truth.unpersist()
      }

    // PACKED flat replica (r17): the fp16 form on the pre-filter
    // buckets — same dispatch, same dials, packed-vs-fp32 in one
    // window (row-identity on fp16-exact vectors is the KnnSpec pin;
    // here the real-data recall delta and the LUT-decode qps cost)
    if (fp16Mode) {
      val (packedFlat, packSec) = time {
        AnnIvf.packCellReplicaFp16(flatRep)
      }
      println(f"[plf] PACKED flat replica: " +
        f"${packedFlat.approxBytes / 1e6}%.0f MB vs " +
        f"${flatRep.approxBytes / 1e6}%.0f MB fp32 (pack $packSec%.2fs)")
      Seq(("high", 1.561, 0.1561), ("mid", 0.077, 0.0077)).foreach {
        case (nm, thr, sel) =>
          val pred: Double => Boolean = _ < thr
          val truth = Knn.exact(data.filter(col("rating_m") < thr),
            qSample, k).cache()
          truth.count()
          val (strat, pRows) = Serving.serveFilteredLocalExplained(
            packedFlat, Some(graphRep), sampleArr, k, pred, nprobe = 4,
            efSearch = 32, selectivity = Some(sel))
          val pRecall = recallOf(pRows, truth)
          Seq(100, 1000).foreach { bs =>
            val (fQps, _, _) = measureLoop(bs) { batch =>
              Serving.serveFilteredLocalExplained(flatRep,
                Some(graphRep), batch, k, pred, nprobe = 4,
                efSearch = 32, selectivity = Some(sel))
            }
            val (pQps, pAvg, pP99) = measureLoop(bs) { batch =>
              Serving.serveFilteredLocalExplained(packedFlat,
                Some(graphRep), batch, k, pred, nprobe = 4,
                efSearch = 32, selectivity = Some(sel))
            }
            println(f"[plf] PACKED $nm%-4s (${strat.name}%-22s) " +
              f"batch=$bs%5d: packed $pQps%9.1f qps vs fp32 " +
              f"$fQps%9.1f qps (ratio ${pQps / fQps}%.3f) " +
              f"recall@10=$pRecall%.4f " +
              f"lat(avg/p99)=$pAvg%.2f/$pP99%.2f ms")
          }
          truth.unpersist()
      }
    }

    // MATCHED-RECALL low-bucket point (r14 verdict item 4): the
    // reference's CPU-HNSW low-bucket operating point is 21,890 qps @
    // recall 0.914 at batch=100 (BASELINE.md) — the tier's default
    // dial (mult=3, efS=32) lands at 0.9475, above it, so no
    // apples-to-apples qps ratio existed. Narrow the over-fetch
    // (mult=1 → k' = ceil(k/sel) = 12) and sweep efSearch down until
    // recall lands ≈0.92; each point reports qps + latency at
    // batch=100 so ONE row is directly comparable to the reference's.
    {
      val pred: Double => Boolean = _ < 8.363
      val truth = Knn.exact(data.filter(col("rating_m") < 8.363),
        qSample, k).cache()
      truth.count()
      // nprobe is a sweep dimension too: the unfiltered tier's
      // headline operating point is np2 (not the dispatch default's
      // np4), and the over-fetch branch inherits the same
      // probe-count/recall trade — the np2 rows are the candidates
      // that close the matched-recall gap
      lowDials.foreach { case (np, mult, efs) =>
          val (strat, sRows) = Serving.serveFilteredLocalExplained(
            flatRep, Some(graphRep), sampleArr, k, pred, nprobe = np,
            efSearch = efs, overFetchMult = mult,
            selectivity = Some(0.8363))
          val recall = recallOf(sRows, truth)
          val (qps, avgMs, p99Ms) = measureLoop(100) { batch =>
            Serving.serveFilteredLocalExplained(flatRep, Some(graphRep),
              batch, k, pred, nprobe = np, efSearch = efs,
              overFetchMult = mult, selectivity = Some(0.8363))
          }
          println(f"[plf] LOW matched-recall sweep np=$np mult=$mult " +
            f"efS=$efs (${strat.name}%-15s) batch=100: $qps%9.1f qps " +
            f"recall@10=$recall%.4f lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
        }
      truth.unpersist()
    }
    spark.stop()
  }
}
