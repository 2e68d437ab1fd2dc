package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, Recall}

/** DISTRIBUTED two-level probing (r19): the r18 local √C probe dial
  * measured 1.21–1.34× on the argmin-dominated mid bucket; this
  * harness measures its expression twin (`NearestCellsTwoLevel`)
  * on the DISTRIBUTED paths at the same 20M geometry — the probe
  * term that dominates at 100-TB cell counts:
  *
  *  1. probe-ranking microbench: `probeRanks` (the narrow probe
  *     expression alone) over the full query table, flat vs
  *     two-level — isolates the O(C·dim) vs O(√C·dim) argmin;
  *  2. `searchPersisted` end-to-end: one big query batch against
  *     the persisted clustered tree, both probe modes, recall vs
  *     exact truth on a 200-query sample;
  *  3. `searchShuffledFast` end-to-end, both modes (the huge-query
  *     lowering — probe expression on the query side, cogroup scan).
  *
  * usage: runMain graft.ProfileTwoLevelDist [n] [nCells] [nQ]
  *          [nprobe] [wSuper]
  * (SPARK_DRIVER_MEM=48g; defaults 20M / 2048 / 100000 / 4 / 4.)
  */
object ProfileTwoLevelDist {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000000)
    val nCells = args.lift(1).map(_.toInt).getOrElse(2048)
    val nQ = args.lift(2).map(_.toInt).getOrElse(100000)
    val np = args.lift(3).map(_.toInt).getOrElse(4)
    val wSuper = args.lift(4).map(_.toInt).getOrElse(4)
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
    def best2(f: => Unit): Double = {
      val a = time(f)._2; val b = time(f)._2; math.min(a, b)
    }

    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding", dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()

    val (cents, tSec) = time { AnnIvf.train(
      data.sample(math.min(1.0, 200000.0 / n), 44), nCells,
      iterations = 2).cache() }
    cents.count()
    val sups = AnnIvf.trainSupers(cents).cache()
    sups.count()
    val supM = AnnIvf.collectMatrix(sups, "sid", "centroid")
    val tl = Some(AnnIvf.TwoLevelProbe(supM, wSuper))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tld").toString
    val (_, wSec) = time { AnnIvf.writeIndex(
      AnnIvf.indexTwoLevel(data, sups, cents, wSuper = 4), tmp) }
    println(f"[tld] n=$n cells=$nCells: train $tSec%.1fs, " +
      f"index+write $wSec%.1fs (supers ${supM.length})")

    // 1. probe-ranking microbench — the argmin term alone, full
    // query table through the narrow expression, count() sink
    Seq(("flat", None: Option[AnnIvf.TwoLevelProbe]), ("twolevel", tl))
      .foreach { case (tag, mode) =>
        AnnIvf.probeRanks(cents, queries, np, twoLevel = mode).count()
        val sec = best2 {
          AnnIvf.probeRanks(cents, queries, np, twoLevel = mode).count()
        }
        println(f"[tld] probeRanks $tag%-9s: $sec%7.3fs " +
          f"(${nQ / sec}%9.1f q/s, np=$np w=$wSuper)")
      }

    // recall of both modes vs exact truth on a 200-query sample
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val truth = Knn.exact(data, qSample, k).cache()
    truth.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val r = Recall.ofRanked(df, truth).head()
      r.getDouble(r.fieldIndex("recall"))
    }

    // 2. searchPersisted — one big distributed batch, both modes
    Seq(("flat", None: Option[AnnIvf.TwoLevelProbe]), ("twolevel", tl))
      .foreach { case (tag, mode) =>
        val rec = recallOf(AnnIvf.searchPersisted(spark, tmp, cents,
          qSample, k, np, twoLevel = mode))
        AnnIvf.searchPersisted(spark, tmp, cents, queries, k, np,
          twoLevel = mode).count()
        val sec = best2 {
          AnnIvf.searchPersisted(spark, tmp, cents, queries, k, np,
            twoLevel = mode).count()
        }
        println(f"[tld] searchPersisted $tag%-9s: $sec%7.3fs " +
          f"(${nQ / sec}%9.1f q/s) recall@10=$rec%.4f")
      }

    // 3. searchShuffledFast — the huge-query cogroup lowering
    val indexed = spark.read.parquet(tmp)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    indexed.count()
    Seq(("flat", None: Option[AnnIvf.TwoLevelProbe]), ("twolevel", tl))
      .foreach { case (tag, mode) =>
        val rec = recallOf(AnnIvf.searchShuffledFast(indexed, cents,
          qSample, k, np, twoLevel = mode))
        AnnIvf.searchShuffledFast(indexed, cents, queries, k, np,
          twoLevel = mode).count()
        val sec = best2 {
          AnnIvf.searchShuffledFast(indexed, cents, queries, k, np,
            twoLevel = mode).count()
        }
        println(f"[tld] searchShuffledFast $tag%-9s: $sec%7.3fs " +
          f"(${nQ / sec}%9.1f q/s) recall@10=$rec%.4f")
      }
    spark.stop()
  }
}
