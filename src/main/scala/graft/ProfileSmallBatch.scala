package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, NswGraph, Recall}

/** SMALL-BATCH serving point (round-14 headline): the reference's own
  * workload shape is 100-query batches resubmitted closed-loop through
  * an in-process index (params_config.yaml:23 batch size;
  * cuvs_bench_grid_search_v3.py:245-265 the loop) — the regime where
  * the engine's distributed serve paid a measured ~0.5 s per-call
  * Spark floor (ProfileFloor, BENCH_scale_r13.json) and managed ~200
  * qps against the reference's 21,890. This harness measures the
  * driver-local replica path (`NswGraph.localReplica` +
  * `searchLocalQueries`) at exactly that shape:
  *
  *   - closed-loop batches of 100 / 1K / 10K queries through the
  *     ARRAY hot path (zero Spark jobs per call — the serving-endpoint
  *     shape; the reference's own number is the same in-process form)
  *   - the DataFrame wrapper at one 10K batch (adds the per-call query
  *     collect — the honest cost of staying inside the DataFrame
  *     contract)
  *   - the distributed job path at one 100-query batch (the floor the
  *     local tier removes)
  *   - recall@10 of the local path against the exact oracle on a
  *     200-query sample (must equal the job path's deterministic
  *     operating-point recall — bit-identity is pinned in NswSpec;
  *     this re-measures it at scale)
  *
  * Fixture identical to ProfileFloor (5M×64 mixture, rating filter
  * ~80% kept, two-level assignment, m=16/efC=64 graphs, 1024 cells,
  * np2/efS32 operating point, k=10) so numbers sit next to the r13
  * decomposition.
  *
  * usage: runMain graft.ProfileSmallBatch [nVectors] [nQueries] [nCells]
  *          [dials] [fp16]
  * `dials` is an optional comma list of nprobe:efSearch pairs (e.g.
  * "8:32,8:48") overriding the default operating points — recall at a
  * fixed dial is governed by the PROBED CORPUS FRACTION, so iso-recall
  * at a larger corpus needs proportionally wider nprobe (measured at
  * 20M: np2 covers half the 5M fraction and recall drops 0.92→0.82).
  * `fp16` (r17) additionally packs the replica to fp16
  * (`NswGraph.packReplicaFp16` — the reference's own stored
  * precision) and repeats the recall + closed-loop sections on the
  * packed form in the SAME window, so the footprint/throughput/recall
  * trade is measured side by side.
  */
object ProfileSmallBatch {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val nQ = args.lift(1).map(_.toInt).getOrElse(100000)
    val nCells = args.lift(2).map(_.toInt).getOrElse(1024)
    val dials: Seq[(Int, Int)] = args.lift(3)
      .map(_.split(',').toSeq.map { s =>
        val Array(np, efs) = s.split(':'); (np.toInt, efs.toInt)
      })
      .getOrElse(Seq((2, 32), (2, 48), (4, 32)))
    val fp16Mode = args.lift(4).contains("fp16")
    val dim = 64
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding", dim)
      .withColumn("rating",
        (pmod(xxhash64(col("vec_id"), lit(777)), lit(10)) / 2.0))
      .filter(col("rating") < 4.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()
    val centroids = AnnIvf.train(
      data.sample(math.min(1.0, 200000.0 / n), 42), nCells, iterations = 2)
    val indexed = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(centroids),
      centroids, wSuper = 4)
    val (graphs, buildSec) = time {
      val g = NswGraph.buildIndex(indexed, m = 16, efConstruction = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      g.count(); g
    }
    val servable = NswGraph.servableIndex(graphs)
    servable.count()
    val (rep, repSec) = time { NswGraph.localReplica(servable, centroids) }
    println(f"[psmall] n=$n graph build $buildSec%.1fs; replica collect " +
      f"$repSec%.2fs (${rep.approxBytes / 1e6}%.0f MB decoded, " +
      f"${rep.cells.length} cells)")

    // the client-side query arrays (the reference's closed loop holds
    // its batches in memory the same way)
    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()

    // recall of the local path at the operating point, vs exact truth
    // on a 200-query sample (ScaleBench's estimator)
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val truth = Knn.exact(data, qSample, k).cache(); truth.count()
    val sampleArr = qSample.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()

    dials.foreach { case (np, efs) =>
      val localRows = NswGraph.searchLocalQueries(rep, sampleArr, k, np,
        efSearch = efs)
      val localDf = spark.createDataset(localRows.toSeq)
        .toDF("qid", "rank", "neighbor_id", "dist")
      val r = Recall.ofRanked(localDf, truth).head()
      println(f"[psmall] local recall@10 np$np/efS$efs = " +
        f"${r.getDouble(r.fieldIndex("recall"))}%.4f")
    }

    // warm the kernel + JIT once over the full set
    NswGraph.searchLocalQueries(rep, qArr.take(10000), k, 2, 32)

    // closed-loop batches through the ARRAY hot path: total wall over
    // ALL batches covering the full query set, best of 2 passes; the
    // best pass also reports per-batch avg/p99 latency — the
    // reference's two published latency columns (BASELINE.md
    // "HNSW sample latency (avg / p99 per 100-query batch)")
    Seq(100, 1000, 10000).foreach { bs =>
      dials.foreach { case (np, efs) =>
        val (best, lats) = ProfileStats.bestPass(2) { timeBatch =>
          var off = 0
          while (off < qArr.length) {
            val batch = java.util.Arrays.copyOfRange(qArr, off,
              math.min(off + bs, qArr.length))
            timeBatch {
              NswGraph.searchLocalQueries(rep, batch, k, np,
                efSearch = efs)
            }
            off += bs
          }
        }
        val (avgMs, p99Ms) = ProfileStats.latencyMs(lats)
        println(f"[psmall] LOCAL closed-loop batch=$bs%5d np$np/efS$efs: " +
          f"${qArr.length} queries in $best%7.3fs = " +
          f"${qArr.length / best}%9.1f qps lat(avg/p99)=" +
          f"$avgMs%.2f/$p99Ms%.2f ms")
      }
    }

    // fp16-PACKED replica (r17): same window, same dials — the
    // footprint halves on the vector share; the per-element LUT
    // decode's serve cost and the storage-rounding recall delta are
    // the measured trade
    if (fp16Mode) {
      val (packed, packSec) = time { NswGraph.packReplicaFp16(rep) }
      println(f"[psmall] PACKED fp16 replica: " +
        f"${packed.approxBytes / 1e6}%.0f MB decoded vs " +
        f"${rep.approxBytes / 1e6}%.0f MB fp32 (pack $packSec%.2fs)")
      dials.foreach { case (np, efs) =>
        val rows = NswGraph.searchLocalQueries(packed, sampleArr, k, np,
          efSearch = efs)
        val df = spark.createDataset(rows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
        val r = Recall.ofRanked(df, truth).head()
        println(f"[psmall] PACKED recall@10 np$np/efS$efs = " +
          f"${r.getDouble(r.fieldIndex("recall"))}%.4f")
      }
      NswGraph.searchLocalQueries(packed, qArr.take(10000), k, 2, 32)
      Seq(100, 1000, 10000).foreach { bs =>
        dials.foreach { case (np, efs) =>
          val (best, lats) = ProfileStats.bestPass(2) { timeBatch =>
            var off = 0
            while (off < qArr.length) {
              val batch = java.util.Arrays.copyOfRange(qArr, off,
                math.min(off + bs, qArr.length))
              timeBatch {
                NswGraph.searchLocalQueries(packed, batch, k, np,
                  efSearch = efs)
              }
              off += bs
            }
          }
          val (avgMs, p99Ms) = ProfileStats.latencyMs(lats)
          println(f"[psmall] PACKED closed-loop batch=$bs%5d " +
            f"np$np/efS$efs: ${qArr.length} queries in $best%7.3fs = " +
            f"${qArr.length / best}%9.1f qps lat(avg/p99)=" +
            f"$avgMs%.2f/$p99Ms%.2f ms")
        }
      }
    }

    // the DataFrame wrapper at one 10K batch (adds the query collect)
    val q10k = queries.limit(10000).cache(); q10k.count()
    (1 to 2).foreach { i =>
      val (_, s) = time {
        NswGraph.searchLocal(rep, q10k, k, 2, efSearch = 32).count()
      }
      println(f"[psmall] LOCAL DataFrame one 10K batch #$i np2/efS32: " +
        f"$s%6.3fs = ${10000 / s}%9.1f qps")
    }

    // the distributed job path at ONE 100-query batch — the floor the
    // local tier exists to remove (and the auto dispatch avoids)
    val q100 = queries.limit(100).localCheckpoint()
    NswGraph.searchServable(servable, centroids, q100, k, 2,
      efSearch = 32).count() // warm
    (1 to 2).foreach { i =>
      val (_, s) = time {
        NswGraph.searchServable(servable, centroids, q100, k, 2,
          efSearch = 32).count()
      }
      println(f"[psmall] JOB path one 100-query batch #$i np2/efS32: " +
        f"$s%6.3fs = ${100 / s}%9.1f qps")
    }
    spark.stop()
  }
}
