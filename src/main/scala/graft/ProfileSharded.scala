package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, NswGraph, Recall, Sharded}

/** MULTI-SHARD serving point (round-17): the measurement behind the
  * 20M scale record's architecture claim — "four 5M shards at np2
  * each beat one 20M replica at np8" (BENCH_scale_r16.json
  * scale_20m.iso_recall_redial). The r16 record could only INFER it
  * from the single-replica numbers; this harness runs the code path:
  *
  *   - the corpus split into K INDEPENDENT slices (vec_id % K), each
  *     with its own trained centroids, two-level assignment,
  *     m=16/efC=64 graph, and driver-local replica — the reference's
  *     own sharded corpus form (utils_grid_search.py:342-420) and the
  *     100-TB deployment shape (one replica per serving JVM per data
  *     shard; the K in-process replicas stand in for K JVMs)
  *   - closed-loop batches fan each batch to all K shards
  *     (`Sharded.searchShardedLocalQueries`) and merge per-query
  *     top-k by (dist, id) — only q×k rows per shard cross the merge
  *   - recall@10 against exact truth over the FULL corpus on a
  *     200-query sample
  *
  * Shards serve SEQUENTIALLY in-process, so throughput readings are
  * the honest total-work numbers (full pool per shard at batch ≥
  * 100) and batch latency is the K-shard SUM — an upper bound on the
  * deployment's parallel-fan-out latency (which is the max, plus one
  * merge of K·k rows).
  *
  * Per-query work at K shards of n/K rows with C cells each is
  * K·np·(n/(K·C))·dim = np·(n/C)·dim — nprobe per SHARD holds the
  * probed corpus FRACTION constant as shards are added, which is
  * exactly the dial the single big replica loses (its fraction is
  * np/C of the whole corpus). Iso-recall at 4× corpus on ONE replica
  * measured ~4× the beam work (np8: 6,969 qps @ 0.9090); the sharded
  * form holds the 5M operating point per shard instead.
  *
  * usage: runMain graft.ProfileSharded [nVectors] [nShards] [nQueries]
  *          [cellsPerShard] [dials] [fp16]
  * `dials` = comma list of np:efs pairs (default "2:32,2:48").
  * `fp16` additionally packs every shard replica
  * (`NswGraph.packReplicaFp16`) and repeats the recall + closed-loop
  * sections on the packed shards — per-shard footprint drops to the
  * packed form, so one serving JVM holds ~2× the shard rows.
  */
object ProfileSharded {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000000)
    val nShards = args.lift(1).map(_.toInt).getOrElse(4)
    val nQ = args.lift(2).map(_.toInt).getOrElse(100000)
    val cellsPerShard = args.lift(3).map(_.toInt).getOrElse(1024)
    val dials: Seq[(Int, Int)] = args.lift(4)
      .map(_.split(',').toSeq.map { s =>
        val Array(np, efs) = s.split(':'); (np.toInt, efs.toInt)
      })
      .getOrElse(Seq((2, 32), (2, 48)))
    val modeSet: Set[String] = args.lift(5)
      .map(_.split(',').toSet).getOrElse(Set.empty)
    val fp16Mode = modeSet.contains("fp16")
    // fp16only (r18, the 40M point): build each shard replica PACKED
    // from the start (localReplica(packFp16 = true) — fp32 never
    // held) and run the main recall + closed-loop sections on the
    // packed shards; the box can then hold 2x the shards of the fp32
    // build path (8x5M packed ~8 GB where fp32 would be ~12 GB
    // transiently doubled during packing)
    val packedOnly = modeSet.contains("fp16only")
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

    // same fixture family as ProfileSmallBatch (mixture + rating
    // filter ~80% kept) so the numbers sit next to the 5M and 20M
    // single-replica sections
    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding", dim)
      .withColumn("rating",
        (pmod(xxhash64(col("vec_id"), lit(777)), lit(10)) / 2.0))
      .filter(col("rating") < 4.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()

    // K independent shard replicas, built one at a time (each build
    // saturates local[32]); shard slice = vec_id % K
    val shardReps = (0 until nShards).map { s =>
      val slice = data.filter(col("vec_id") % nShards === s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val sliceN = slice.count()
      val ((rep, repSec), buildSec) = time {
        val cents = AnnIvf.train(
          slice.sample(math.min(1.0, 200000.0 * nShards / n), 42 + s),
          cellsPerShard, iterations = 2)
        val indexed = AnnIvf.indexTwoLevel(slice,
          AnnIvf.trainSupers(cents), cents, wSuper = 4)
        val g = NswGraph.buildIndex(indexed, m = 16, efConstruction = 64)
        val sv = NswGraph.servableIndex(g)
        sv.count()
        val r = time { NswGraph.localReplica(sv, cents,
          packFp16 = packedOnly) }
        sv.unpersist()
        r
      }
      slice.unpersist()
      println(f"[pshard] shard $s: $sliceN rows, build $buildSec%.1fs " +
        f"(replica collect $repSec%.2fs, " +
        f"${rep.approxBytes / 1e6}%.0f MB decoded" +
        (if (packedOnly) " PACKED" else "") +
        f", ${rep.cells.length} cells)")
      rep
    }
    println(f"[pshard] total decoded across $nShards shards: " +
      f"${shardReps.map(_.approxBytes).sum / 1e6}%.0f MB")

    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val truth = Knn.exact(data, qSample, k).cache(); truth.count()
    val sampleArr = qSample.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()

    dials.foreach { case (np, efs) =>
      val rows = Sharded.searchShardedLocalQueries(shardReps, sampleArr,
        k, np, efSearch = efs)
      val df = spark.createDataset(rows.toSeq)
        .toDF("qid", "rank", "neighbor_id", "dist")
      val r = Recall.ofRanked(df, truth).head()
      println(f"[pshard] sharded recall@10 np$np/efS$efs = " +
        f"${r.getDouble(r.fieldIndex("recall"))}%.4f " +
        f"(vs exact truth over the FULL ${n}-row corpus)")
    }

    // warm the kernel + JIT once over a slice of the full set
    Sharded.searchShardedLocalQueries(shardReps, qArr.take(10000), k, 2, 32)

    Seq(100, 1000).foreach { bs =>
      dials.foreach { case (np, efs) =>
        val (qps, avgMs, p99Ms) = ProfileStats.closedLoop(qArr, bs) {
          batch => Sharded.searchShardedLocalQueries(shardReps, batch,
            k, np, efSearch = efs, parallelShards = Some(false))
        }
        println(f"[pshard] SHARDED closed-loop ${nShards}x batch=$bs%5d " +
          f"np$np/efS$efs: ${qArr.length} queries = " +
          f"$qps%9.1f qps lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
        // the PARALLEL fan-out: same rows (ShardedSpec), batch
        // latency = slowest shard + merge instead of the K-shard sum
        // — the in-process approximation of the deployment shape
        val (qpsP, avgP, p99P) = ProfileStats.closedLoop(qArr, bs) {
          batch => Sharded.searchShardedLocalQueries(shardReps, batch,
            k, np, efSearch = efs, parallelShards = Some(true))
        }
        println(f"[pshard] PARFAN  closed-loop ${nShards}x batch=$bs%5d " +
          f"np$np/efS$efs: ${qArr.length} queries = " +
          f"$qpsP%9.1f qps lat(avg/p99)=$avgP%.2f/$p99P%.2f ms")
      }
    }

    // PACKED shards (r17): per-shard footprint at the reference's own
    // stored precision — the 2x-rows-per-JVM dial, measured on the
    // same shards in the same window
    if (fp16Mode) {
      val packed = shardReps.map { r =>
        val (p, s) = time { NswGraph.packReplicaFp16(r) }
        println(f"[pshard] PACKED shard: ${p.approxBytes / 1e6}%.0f MB " +
          f"vs ${r.approxBytes / 1e6}%.0f MB fp32 (pack $s%.2fs)")
        p
      }
      println(f"[pshard] PACKED total across $nShards shards: " +
        f"${packed.map(_.approxBytes).sum / 1e6}%.0f MB")
      dials.foreach { case (np, efs) =>
        val rows = Sharded.searchShardedLocalQueries(packed, sampleArr,
          k, np, efSearch = efs)
        val df = spark.createDataset(rows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
        val r = Recall.ofRanked(df, truth).head()
        println(f"[pshard] PACKED sharded recall@10 np$np/efS$efs = " +
          f"${r.getDouble(r.fieldIndex("recall"))}%.4f")
      }
      Sharded.searchShardedLocalQueries(packed, qArr.take(10000), k, 2, 32)
      Seq(100, 1000).foreach { bs =>
        dials.foreach { case (np, efs) =>
          val (qps, avgMs, p99Ms) = ProfileStats.closedLoop(qArr, bs) {
            batch => Sharded.searchShardedLocalQueries(packed, batch,
              k, np, efSearch = efs, parallelShards = Some(false))
          }
          println(f"[pshard] PACKED SHARDED closed-loop ${nShards}x " +
            f"batch=$bs%5d np$np/efS$efs: ${qArr.length} queries = " +
            f"$qps%9.1f qps lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
        }
      }
    }
    spark.stop()
  }
}
