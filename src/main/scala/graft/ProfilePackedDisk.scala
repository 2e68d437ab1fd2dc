package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIvf, Knn, NswGraph, Recall}

/** fp16-PACKED persisted layout point (round-18): the measured row
  * behind `writeIndexPacked` / `writeGraphIndexPacked` — the
  * reference's own on-disk precision (`_fp16.npy`,
  * utils_grid_search.py:364-365). At 5M×64 (mixture vectors — REAL
  * float entropy, unlike the grid-snapped spec fixtures), measures
  * per tier:
  *
  *  - index TREE BYTES on disk, fp32 vs packed (the claim: the
  *    vector share halves; ids/adjacency/parquet framing don't)
  *  - index WRITE seconds (one-time)
  *  - replica BUILD seconds from each layout — read + decode +
  *    collect; the packed tree reads half the vector bytes and skips
  *    the float-array materialization, the deployment-relevant cost
  *    (every epoch rebuild and refresh pays it)
  *  - recall@10 of the packed-layout serve vs exact fp32 truth on a
  *    200-query sample next to the fp32 layout's (storage-rounding
  *    delta only — expected ≈0 at 5M, BENCH_scale_r17)
  *
  * usage: runMain graft.ProfilePackedDisk [nVectors] [nCells]
  */
object ProfilePackedDisk {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val nCells = args.lift(1).map(_.toInt).getOrElse(1024)
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
    def treeMb(p: String): Double = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(p)) / 1e6
    }

    val data = SynthData.mixtureVectors(spark, n, "vec_id", "embedding", dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    data.count()
    val queries = SynthData.mixtureVectors(spark, 200, "qid", "q_embedding",
      dim).cache()
    queries.count()
    val qArr = queries.select(col("qid").cast("long"), col("q_embedding"))
      .as[(Long, Array[Float])].collect()
    val truth = Knn.exact(data, queries, k).cache(); truth.count()

    val cents = AnnIvf.train(data.sample(math.min(1.0, 200000.0 / n), 42),
      nCells, iterations = 2)
    val indexed = AnnIvf.indexTwoLevel(data, AnnIvf.trainSupers(cents),
      cents, wSuper = 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    indexed.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_pdisk").toString

    // ---- FLAT tier ----
    val (_, wf32) = time { AnnIvf.writeIndex(indexed, s"$tmp/flat32") }
    val (_, wf16) = time { AnnIvf.writeIndexPacked(indexed, s"$tmp/flat16") }
    println(f"[pdisk] FLAT tree bytes: fp32 ${treeMb(s"$tmp/flat32")}%.0f MB " +
      f"(write $wf32%.1fs) vs packed ${treeMb(s"$tmp/flat16")}%.0f MB " +
      f"(write $wf16%.1fs)")
    // EQUAL-HEAP A/B (r19): each layout's replica is built, recalled,
    // and RELEASED before the other builds — the r18 harness held the
    // fp32 replica (and earlier tiers) live while the packed build
    // ran, so the packed side paid its GC and, worse, its persist
    // level was auto-resolved from a smaller free heap. Build order
    // per tier is fp32 → release → packed, with the recall sample
    // served in between.
    def flatBuild(label: String, path: String, packed: Boolean)
        : Double = {
      val ((rep, bSec), _) = time { time {
        val cells =
          if (packed) AnnIvf.servableCellsPacked(spark.read.parquet(path))
          else AnnIvf.servableCells(spark.read.parquet(path))
        cells.count()
        val r = AnnIvf.localCellReplica(cells, cents)
        cells.unpersist(); r
      } }
      println(f"[pdisk] FLAT $label%-14s replica build from disk: " +
        f"$bSec%.1fs (${rep.approxBytes / 1e6}%.0f MB, " +
        f"half=${rep.half != null})")
      val rows = AnnIvf.searchLocalCellsQueries(rep, qArr, k, nprobe = 4)
      val df = spark.createDataset(rows.toSeq)
        .toDF("qid", "rank", "neighbor_id", "dist")
      val r = Recall.ofRanked(df, truth).head()
      println(f"[pdisk] FLAT $label%-14s recall@10 np4 = " +
        f"${r.getDouble(r.fieldIndex("recall"))}%.4f")
      bSec
    }
    val bf32 = flatBuild("fp32-layout", s"$tmp/flat32", packed = false)
    System.gc()
    val bf16 = flatBuild("packed-layout", s"$tmp/flat16", packed = true)
    System.gc()
    println(f"[pdisk] FLAT replica build from disk: fp32 $bf32%.1fs " +
      f"vs packed $bf16%.1fs (ratio ${bf16 / bf32}%.2f)")

    // ---- GRAPH tier ----
    val graphs = NswGraph.buildIndex(indexed, m = 16, efConstruction = 64)
      .persist()
    graphs.count()
    val (_, wg32) = time { NswGraph.writeGraphIndex(graphs, s"$tmp/g32") }
    val (_, wg16) = time {
      NswGraph.writeGraphIndexPacked(graphs, s"$tmp/g16") }
    graphs.unpersist()
    println(f"[pdisk] GRAPH tree bytes: fp32 ${treeMb(s"$tmp/g32")}%.0f MB " +
      f"(write $wg32%.1fs) vs packed ${treeMb(s"$tmp/g16")}%.0f MB " +
      f"(write $wg16%.1fs)")
    // storage level PINNED on both sides: the auto level resolves
    // from free heap at call time, so whichever layout builds with
    // more live heap could silently land on a serialized level and
    // pay (de)serialization the other didn't
    val pin = Some(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    def graphBuild(label: String, packed: Boolean): Double = {
      val ((rep, bSec), _) = time { time {
        val idx =
          if (packed) NswGraph.servableIndexPacked(spark, s"$tmp/g16", pin)
          else NswGraph.servableIndex(
            NswGraph.readGraphIndex(spark, s"$tmp/g32"), pin)
        idx.count()
        val r = NswGraph.localReplica(idx, cents)
        idx.unpersist(); r
      } }
      println(f"[pdisk] GRAPH $label%-14s replica build from disk: " +
        f"$bSec%.1fs (${rep.approxBytes / 1e6}%.0f MB, " +
        f"packedCells=${rep.cells.count(_.half != null)}/" +
        f"${rep.cells.length})")
      Seq((2, 32), (2, 48)).foreach { case (np, efs) =>
        val rows = NswGraph.searchLocalQueries(rep, qArr, k, np,
          efSearch = efs)
        val df = spark.createDataset(rows.toSeq)
          .toDF("qid", "rank", "neighbor_id", "dist")
        val r = Recall.ofRanked(df, truth).head()
        println(f"[pdisk] GRAPH $label%-14s recall@10 np$np/efS$efs = " +
          f"${r.getDouble(r.fieldIndex("recall"))}%.4f")
      }
      bSec
    }
    val bg32 = graphBuild("fp32-layout", packed = false)
    System.gc()
    val bg16 = graphBuild("packed-layout", packed = true)
    println(f"[pdisk] GRAPH replica build from disk: fp32 $bg32%.1fs " +
      f"vs packed $bg16%.1fs (ratio ${bg16 / bg32}%.2f)")
    spark.stop()
  }
}
