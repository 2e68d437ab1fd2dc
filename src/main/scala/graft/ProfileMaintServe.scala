package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, NswGraph, Recall, Sharded}

/** MAINTENANCE-UNDER-SERVE (r19): the steady-state deployment shape
  * the sharded lifecycle pin (ShardedSpec "sharded LIFECYCLE")
  * proves semantically but nothing measured — closed-loop serving
  * latency/throughput on the K-shard merged serve WHILE one shard
  * runs its append→refresh→swap loop against its persisted tree,
  * versus the quiet baseline, A-B-A (quiet, maintained, quiet) in
  * one JVM so the comparison is bracketed by its own comparator.
  *
  * The maintenance thread cycles: append a fresh batch to shard 0's
  * persisted graph tree (`appendToGraphIndex` — O(touched cells)),
  * refresh ONLY shard 0's replica (`refreshLocalReplica` — touched
  * cells re-read, untouched cells aliased), swap the replica vector
  * (volatile publish; the old immutable replica serves until the
  * swap — double-buffered, never torn). The serve loop reads the
  * current replica vector per batch, so each batch serves a
  * consistent epoch.
  *
  * usage: runMain graft.ProfileMaintServe [nVectors] [nShards]
  *          [nQueries] [cellsPerShard] [appendBatch]
  * (SPARK_DRIVER_MEM=48g; dial np2/efS32 = the 20M graph-tier shape.)
  */
object ProfileMaintServe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000000)
    val nShards = args.lift(1).map(_.toInt).getOrElse(4)
    val nQ = args.lift(2).map(_.toInt).getOrElse(100000)
    val cellsPerShard = args.lift(3).map(_.toInt).getOrElse(1024)
    val appendBatch = args.lift(4).map(_.toInt).getOrElse(50000)
    val dim = 64
    val k = 10
    val np = 2
    val efs = 32
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
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_maintserve").toString

    // K independent shards, each a PERSISTED graph tree + replica
    // (the lifecycle needs the tree on disk — append targets it)
    val built = (0 until nShards).map { s =>
      val slice = data.filter(col("vec_id") % nShards === s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val sliceN = slice.count()
      val ((rep, cents, sups), bSec) = time {
        val cents = AnnIvf.train(
          slice.sample(math.min(1.0, 200000.0 * nShards / n), 42 + s),
          cellsPerShard, iterations = 2)
        val sups = AnnIvf.trainSupers(cents).cache()
        sups.count()
        val indexed = AnnIvf.indexTwoLevel(slice, sups, cents,
          wSuper = 4)
        NswGraph.writeGraphIndex(NswGraph.buildIndex(indexed, m = 16,
          efConstruction = 64), s"$tmp/s$s")
        val sv = NswGraph.servableIndex(
          NswGraph.readGraphIndex(spark, s"$tmp/s$s"))
        sv.count()
        val r = NswGraph.localReplica(sv, cents)
        sv.unpersist()
        (r, cents, sups)
      }
      slice.unpersist()
      println(f"[pms] shard $s: $sliceN rows, " +
        f"${rep.approxBytes / 1e6}%.0f MB, build+persist $bSec%.1fs")
      (rep, cents, sups)
    }
    // the published serving epoch: the serve loop reads this per
    // batch; the maintenance thread swaps shard 0's slot
    @volatile var reps: Vector[NswGraph.LocalReplica] =
      built.map(_._1).toVector
    val cents0 = built.head._2
    val sups0 = built.head._3

    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val sampleArr = qSample.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()
    val truth = Knn.exact(data, qSample, k).cache()
    truth.count()
    def recallOf(rows: Array[(Long, Long, Long, Double)]): Double = {
      val df = spark.createDataset(rows.toSeq)
        .toDF("qid", "rank", "neighbor_id", "dist")
      val r = Recall.ofRanked(df, truth).head()
      r.getDouble(r.fieldIndex("recall"))
    }
    println(f"[pms] recall@10 (np$np/efS$efs, base corpus): " +
      f"${recallOf(Sharded.searchShardedLocalQueries(reps, sampleArr,
        k, np, efs, parallelShards = Some(true)))}%.4f")

    // warm
    Sharded.searchShardedLocalQueries(reps, qArr.take(5000), k, np, efs,
      parallelShards = Some(true))

    def measure(tag: String, bs: Int): (Double, Double, Double) = {
      val (qps, avgMs, p99Ms) = ProfileStats.closedLoop(qArr, bs) {
        batch => Sharded.searchShardedLocalQueries(reps, batch, k, np,
          efs, parallelShards = Some(true))
      }
      println(f"[pms] $tag%-18s batch=$bs%5d: $qps%9.1f qps " +
        f"lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
      (qps, avgMs, p99Ms)
    }

    Seq(100, 1000).foreach { bs =>
      // A: quiet baseline
      measure("QUIET", bs)

      // B: the same loop with shard 0 cycling append→refresh→swap
      @volatile var stop = false
      @volatile var cycles = 0
      @volatile var appendSec = 0.0
      @volatile var refreshSec = 0.0
      @volatile var touchedCells = 0L
      val maint = new Thread(() => {
        var c = 0
        while (!stop) {
          // the steady-state micro-batch: CLUSTERED new rows (a few
          // mixture clusters → a few index cells), distinct ids per
          // cycle far past the corpus. A spread batch would touch
          // every cell and turn each refresh into a full rebuild —
          // that shape is ProfileReplicaRefresh's spread point; the
          // serve-concurrency question is about the O(touched)
          // steady-state loop.
          val off = 100L * n + c.toLong * appendBatch * 100
          val batch = SynthData.mixtureVectors(spark,
              appendBatch.toLong * 40, "vec_id", "embedding", dim)
            .filter(pmod(xxhash64(col("vec_id"), lit(11)),
              lit(1000)) < 25)
            .withColumn("vec_id", col("vec_id") + lit(off))
          val (touched, aSec) = time {
            // same two-level assignment as the base build (the
            // append parity contract)
            NswGraph.appendToGraphIndex(batch, cents0, s"$tmp/s0",
              m = 16, efConstruction = 64, supers = Some(sups0),
              wSuper = 4)
          }
          val (rep0b, rSec) = time {
            NswGraph.refreshLocalReplica(spark, s"$tmp/s0", reps(0),
              touched)
          }
          reps = reps.updated(0, rep0b) // volatile publish = the swap
          c += 1
          cycles = c; appendSec += aSec; refreshSec += rSec
          touchedCells += touched.length
        }
      }, "graft-maint-loop")
      maint.setDaemon(true)
      maint.start()
      val t0 = System.nanoTime()
      measure("MAINTAINED", bs)
      val winSec = (System.nanoTime() - t0) / 1e9
      stop = true
      maint.join(600000)
      println(f"[pms]   maintenance during batch=$bs window " +
        f"($winSec%.1fs): $cycles cycles of ~$appendBatch rows " +
        f"(append avg ${appendSec / math.max(1, cycles)}%.2fs, " +
        f"refresh avg ${refreshSec / math.max(1, cycles)}%.2fs, " +
        f"touched cells avg ${touchedCells / math.max(1, cycles)})")

      // A again: quiet re-measure brackets the drift
      measure("QUIET-AFTER", bs)
    }

    // sanity: the last appended cycle's rows are served post-swap
    val lastIds = reps(0).cells.iterator.flatMap(_.ids.iterator)
      .filter(_ >= 100L * n).take(5).toArray
    println(s"[pms] appended ids visible in shard 0 replica: " +
      s"${lastIds.nonEmpty} (corpus grew to ~${reps.map(
        _.cells.iterator.map(_.ids.length.toLong).sum).sum} rows)")
    spark.stop()
  }
}
