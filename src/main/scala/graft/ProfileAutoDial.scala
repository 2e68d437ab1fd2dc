package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, Recall, Serving}

/** AUTO two-level dial at the MEASURED 20M geometry (r19): the
  * cost-based crossover (`Serving.autoTwoLevel`) must pick the
  * winner the r18 measurements named — the two-level prober at the
  * argmin-dominated mid bucket (1.21–1.34× there), the flat prober
  * at the scan-dominated high bucket (~1.0×). Three-way A/B per
  * bucket on the 20M/2048-cell flat replica: pinned-flat / auto /
  * explicit two-level, closed-loop at batch=1000 with recalls vs
  * exact truth, plus the printed decision per bucket. The auto's
  * row must sit on the winner's numbers in both buckets.
  *
  * usage: runMain graft.ProfileAutoDial [n] [nCells] [nQ]
  * (SPARK_DRIVER_MEM=48g; defaults 20M / 2048 / 100000 — flat
  * replica only, no graph tier: the dial lives in the IvfPrefilter
  * branch.)
  */
object ProfileAutoDial {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000000)
    val nCells = args.lift(1).map(_.toInt).getOrElse(2048)
    val nQ = args.lift(2).map(_.toInt).getOrElse(100000)
    val dim = 64
    val k = 10
    val np = 4
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
      .withColumn("rating_m",
        pmod(xxhash64(col("vec_id"), lit(888)), lit(10000))
          .cast("double") / 1000.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val queries = SynthData.mixtureVectors(spark, nQ, "qid", "q_embedding",
      dim).cache()
    data.count(); queries.count()

    val (flatRep, bSec) = time {
      val cents = AnnIvf.train(
        data.sample(math.min(1.0, 200000.0 / n), 44), nCells,
        iterations = 2)
      val indexed = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(cents),
        cents, wSuper = 4)
      val c = AnnIvf.servableCells(indexed, attrCol = Some("rating_m"))
      c.count()
      val r = AnnIvf.localCellReplica(c, cents)
      c.unpersist()
      r
    }
    println(f"[pad] n=$n cells=${flatRep.nCells} " +
      f"(${flatRep.approxBytes / 1e6}%.0f MB) build $bSec%.1fs")
    // derive the auto's supers once up front (memoized on the
    // replica) so the first auto-engaged serve isn't charged for it
    println(s"[pad] derived supers: ${flatRep.derivedSupers.length}")

    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val qSample = queries.orderBy(xxhash64(col("qid"), lit(7))).limit(200)
      .cache()
    qSample.count()
    val sampleArr = qSample.select(col("qid").cast("long"),
      col("q_embedding")).as[(Long, Array[Float])].collect()

    // warm
    Serving.autoTwoLevelEnabled = false
    Serving.serveFilteredLocalExplained(flatRep, None, qArr.take(5000),
      k, _ < 1.561, nprobe = np, selectivity = Some(0.1561))

    Seq(("high", 1.561, 0.1561), ("mid", 0.077, 0.0077)).foreach {
      case (nm, thr, sel) =>
        val pred: Double => Boolean = _ < thr
        val engaged = Serving.autoTwoLevel(
          flatRep.centroidMatrix.length.toLong, flatRep.size.toLong,
          flatRep.dim, np, sel)
        println(s"[pad] AUTO $nm: autoTwoLevel decision = $engaged")
        val truth = Knn.exact(data.filter(col("rating_m") < thr),
          qSample, k).cache()
        truth.count()
        def runAb(tag: String, enable: Boolean,
            prober: Array[Float] => Array[Int]): Unit = {
          Serving.autoTwoLevelEnabled = enable
          try {
            val (strat, rows) = Serving.serveFilteredLocalExplained(
              flatRep, None, sampleArr, k, pred, nprobe = np,
              selectivity = Some(sel), proberOverride = prober)
            val df = spark.createDataset(rows.toSeq)
              .toDF("qid", "rank", "neighbor_id", "dist")
            val r = Recall.ofRanked(df, truth).head()
            val rec = r.getDouble(r.fieldIndex("recall"))
            val (qps, avgMs, p99Ms) = ProfileStats.closedLoop(qArr, 1000) {
              batch => Serving.serveFilteredLocalExplained(flatRep, None,
                batch, k, pred, nprobe = np, selectivity = Some(sel),
                proberOverride = prober)
            }
            println(f"[pad] AUTO $nm%-4s $tag%-9s (${strat.name}%-22s) " +
              f"batch= 1000: $qps%9.1f qps recall@10=$rec%.4f " +
              f"lat(avg/p99)=$avgMs%.2f/$p99Ms%.2f ms")
          } finally Serving.autoTwoLevelEnabled = false
        }
        runAb("flat", enable = false, null)
        runAb("auto", enable = true, null)
        runAb("twolevel", enable = false, flatRep.twoLevelProberAuto(np))
        truth.unpersist()
    }
    spark.stop()
  }
}
