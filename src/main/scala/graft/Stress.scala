package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Scale stress: synthetic n×dim vectors (seeded, generated
  * distributed via sequence+hash — no driver-side data), brute-force
  * k-NN against q queries. Measures the codegen kernel + topk-agg
  * throughput in pairs/sec — the number that predicts 100-TB behavior.
  *
  * usage: runMain graft.Stress [nVectors] [nQueries] [dim]
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    val q = args.lift(1).map(_.toInt).getOrElse(50)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def synth(rows: Int, idCol: String, vecCol: String) =
      spark.range(rows.toLong).toDF(idCol)
        .withColumn(vecCol,
          transform(sequence(lit(0), lit(dim - 1)),
            j => (pmod(xxhash64(col(idCol), j), lit(1000001L)).cast("double")
              / 500000.0 - 1.0).cast("float")))

    val data = synth(n, "vec_id", "embedding").cache()
    val queries = synth(q, "qid", "q_embedding")
      .withColumn("qid", col("qid") + 1000000000L).cache()
    data.count(); queries.count()

    // iter1 = cold (includes codegen+JIT), iter2 = steady state
    (1 to 2).foreach { iter =>
      val t0 = System.nanoTime()
      val out = Knn.exact(data, queries, 10).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val pairs = n.toLong * q
      println(f"iter$iter: n=$n q=$q dim=$dim -> $out rows in $sec%.2fs  " +
        f"(${pairs / sec / 1e6}%.1f M pairs/s, ${pairs * dim / sec / 1e9}%.2f Gdim/s)")
    }
    spark.stop()
  }
}
