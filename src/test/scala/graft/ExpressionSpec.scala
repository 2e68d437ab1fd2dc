package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the native vector/bit expressions (SURVEY §5.1):
  * hand-computed values, plus codegen-vs-interpreted agreement. */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecDf = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(1.0f, 2.0f, 2.0f), Array(3.0f, 0.0f, 4.0f))
  ).toDF("id", "a", "b")

  test("sqdist hand-computed") {
    val got = vecDf.select($"id", GraftFunctions.sqDist($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 2.0)
    assert(got(3L) == (4.0 + 4.0 + 4.0))
  }

  test("dot and cosine hand-computed") {
    val got = vecDf.select($"id",
      GraftFunctions.dot($"a", $"b").as("dp"),
      GraftFunctions.cosine($"a", $"b").as("cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList
    val m = got.map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(1L)._1 == 14.0)
    assert(math.abs(m(1L)._2 - 1.0) < 1e-12)
    assert(m(2L)._1 == 0.0 && m(2L)._2 == 0.0)
    assert(m(3L)._1 == 11.0)
    assert(math.abs(m(3L)._2 - 11.0 / (3.0 * 5.0)) < 1e-12)
  }

  test("codegen and interpreted agree") {
    val codegen = vecDf.select(GraftFunctions.sqDist($"a", $"b")).collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = vecDf.select(GraftFunctions.sqDist($"a", $"b")).collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(codegen.map(_.getDouble(0)).toSeq == interp.map(_.getDouble(0)).toSeq)
  }

  test("nearest centroid/cells: blocked early-abandon equals naive argmin") {
    // the assignment kernel prunes centroids whose partial distance
    // already exceeds the best — this pins that the pruned scan is
    // EXACT (same argmin, same (dist, cid) tie-breaks) against a
    // naive full scan, on clustered vectors (heavy pruning) with
    // duplicated centroids (forced exact ties)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(1234)
    val dim = 48
    val base = Array.fill(60)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val cents = base ++ base.take(10) // dup rows -> exact ties
    val nc = graft.functions.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal(1), cents)
    val np = 5
    val cells = graft.functions.NearestCells(
      org.apache.spark.sql.catalyst.expressions.Literal(1), cents, np)
    for (t <- 1 to 400) {
      val v =
        if (t % 4 == 0) cents(rnd.nextInt(cents.length)).clone() // zero dist
        else {
          val c = base(rnd.nextInt(base.length))
          c.map(x => x + rnd.nextFloat() * 0.05f)
        }
      val dists = cents.map { c =>
        var acc = 0.0; var i = 0
        while (i < dim) {
          val d = v(i).toDouble - c(i).toDouble; acc += d * d; i += 1
        }
        acc
      }
      val naiveBest = dists.zipWithIndex.min._2 // (dist, cid) min
      val naiveCells = dists.zipWithIndex.sortBy(identity).take(np).map(_._2)
      val ad = new GenericArrayData(v.map(_.asInstanceOf[Any]))
      assert(nc.nullSafeEval(ad) == naiveBest)
      assert(cells.nullSafeEval(ad)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq == naiveCells.toSeq)
    }
    // grouped path (C >= 512): triangle-inequality group pruning must
    // still match the naive scan, including (dist, cid) tie-breaks
    // across group boundaries (duplicated centroids land in groups by
    // construction order, so a tie's lower cid may sit in a LATER
    // -visited group)
    val bigBase = Array.fill(640)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val bigCents = bigBase ++ bigBase.take(64) // dup rows -> exact ties
    val bigNc = graft.functions.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal(1), bigCents)
    for (t <- 1 to 300) {
      val v =
        if (t % 3 == 0) bigCents(rnd.nextInt(bigCents.length)).clone()
        else bigBase(rnd.nextInt(bigBase.length))
          .map(x => x + rnd.nextFloat() * 0.1f)
      val dists = bigCents.map { c =>
        var acc = 0.0; var i = 0
        while (i < dim) {
          val d = v(i).toDouble - c(i).toDouble; acc += d * d; i += 1
        }
        acc
      }
      val ad = new GenericArrayData(v.map(_.asInstanceOf[Any]))
      assert(bigNc.nullSafeEval(ad) == dists.zipWithIndex.min._2)
    }
    // codegen path agrees with eval on a Spark job
    val df = (1 to 50).map { i =>
      (i.toLong, base((i * 7) % base.length).map(x => x + i * 1e-3f))
    }.toDF("id", "v")
    val viaJob = df.select($"id",
        GraftFunctions.nearestCentroid($"v", cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    df.collect().foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val ad = new GenericArrayData(v.map(_.asInstanceOf[Any]))
      assert(viaJob(r.getLong(0)) == nc.nullSafeEval(ad))
    }
  }

  test("packbits matches np.packbits bit order") {
    // 1 at positions 0 and 7 -> first byte 0b10000001 = 0x81
    val v = Array.fill(8)(0.0f); v(0) = 1.0f; v(7) = 0.5f
    val row = Seq((1L, v)).toDF("id", "v")
      .select(GraftFunctions.packBits($"v")).head()
    val bytes = row.getAs[Array[Byte]](0)
    assert(bytes.length == 1 && (bytes(0) & 0xff) == 0x81)
  }

  test("hamming over packed bits") {
    val df = Seq((Array(1.0f, -1.0f, 1.0f, -1.0f), Array(1.0f, 1.0f, -1.0f, -1.0f)))
      .toDF("a", "b")
    val d = df.select(GraftFunctions.hamming(
      GraftFunctions.packBits($"a"), GraftFunctions.packBits($"b"))).head().getInt(0)
    assert(d == 2)
  }

  test("simhash: identical docs equal, near-dups close, distinct far") {
    val doc = (1 to 60).map(i => s"tok$i")
    val near = doc.updated(3, "changed").updated(40, "other")
    val far = (1 to 60).map(i => s"zzz$i")
    val df = Seq((1L, doc), (2L, doc), (3L, near), (4L, far)).toDF("id", "toks")
      .select($"id", GraftFunctions.simHash($"toks").as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    val dNear = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val dFar = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
  }

  test("topk agg: sorted, bounded, deterministic ties") {
    val df = Seq(
      (1L, 5.0, 10L), (1L, 1.0, 11L), (1L, 3.0, 12L), (1L, 1.0, 9L),
      (2L, 2.0, 20L)
    ).toDF("qid", "dist", "id")
    val got = df.groupBy($"qid")
      .agg(GraftFunctions.topK(3, $"dist", $"id").as("topk"))
      .select($"qid", $"topk.id".as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(9L, 11L, 12L)) // ties (1.0,9) < (1.0,11)
    assert(got(2L) == Seq(20L))
  }

  test("graft_* functions reject a wrong argument count, by name") {
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    val one = failure("SELECT graft_intersect_count(array(1))")
    assert(one.contains("graft_intersect_count expects 2 arguments, got 1"),
      one)
    val three = failure(
      "SELECT graft_norm(array(1.0f), array(2.0f), array(3.0f))")
    assert(three.contains("graft_norm expects 1 argument, got 3"), three)
  }

  test("bloomMightContain: each column keeps its own filter") {
    import org.apache.spark.util.sketch.BloomFilter
    val bfA = BloomFilter.create(100, 0.001); bfA.putString("alpha")
    val bfB = BloomFilter.create(100, 0.001); bfB.putString("beta")
    // both columns exist before either is analyzed
    val inA = GraftFunctions.bloomMightContain($"s", bfA)
    val inB = GraftFunctions.bloomMightContain($"s", bfB)
    val got = Seq("alpha", "beta").toDF("s")
      .select($"s", inA.as("in_a"), inB.as("in_b")).orderBy($"s").collect()
    assert(got.toSeq == Seq(Row("alpha", true, false), Row("beta", false, true)))
  }

  test("every registered graft_* SQL function equals its DSL wrapper") {
    import GraftFunctions._
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    val supers = Array(Array(1.0f, -1.0f, 0.0f, 0.5f), Array(-1.0f, 1.0f, 0.5f, 0.0f))
    val cents = Array(Array(1.0f, -2.0f, 0.5f, 0.25f), Array(0.5f, 0.0f, 0.0f, 1.0f),
      Array(-1.0f, 1.0f, 0.25f, 0.0f), Array(0.0f, 2.0f, -0.5f, 1.0f))
    val members = Array(Array(0, 1), Array(2, 3))
    def floats(m: Array[Array[Float]]) =
      m.map(_.map(v => s"${v}f").mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
    val ints = members.map(_.mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
    val (sup, cen) = (floats(supers), floats(cents))
    val row = {
      import fresh.implicits._
      Seq((Array(0.75f, -1.5f, 0.5f, 0.25f), Array(0.5f, 1.0f, -1.0f, 2.0f),
        Array(3L, -4L, 5L, 6L), "the quick brown fox jumps over the lazy dog",
        Seq("the", "quick", "brown", "fox", "the"), Seq("fox", "the", "dog"),
        2.5, 7L)).toDF("a", "b", "la", "t", "toks", "toks2", "d", "id")
    }
    row.createOrReplaceTempView("parity_row")
    val (a, b, t, toks, toks2) = (col("a"), col("b"), col("t"), col("toks"), col("toks2"))
    val cases: Map[String, (String, Column)] = Map(
      "graft_sqdist" -> ("graft_sqdist(a, b)", sqDist(a, b)),
      "graft_dot" -> ("graft_dot(a, b)", dot(a, b)),
      "graft_cosine" -> ("graft_cosine(a, b)", cosine(a, b)),
      "graft_norm" -> ("graft_norm(a)", norm(a)),
      "graft_packbits" -> ("graft_packbits(a)", packBits(a)),
      "graft_hamming" -> ("graft_hamming(graft_packbits(a), graft_packbits(b))",
        hamming(packBits(a), packBits(b))),
      "graft_simhash" -> ("graft_simhash(toks)", simHash(toks)),
      "graft_hamming64" -> ("graft_hamming64(graft_simhash(toks), graft_simhash(toks2))",
        hamming64(simHash(toks), simHash(toks2))),
      "graft_shingles" -> ("graft_shingles(t, 3)", shingles(t, 3)),
      "graft_minhash" -> ("graft_minhash(graft_shingles(t, 3), 16)",
        minHash(shingles(t, 3), 16)),
      "graft_lsh_bands" -> ("graft_lsh_bands(graft_minhash(graft_shingles(t, 3), 16), 4)",
        lshBands(minHash(shingles(t, 3), 16), 4)),
      "graft_vecsum" -> ("graft_vecsum(a)", vecSum(a)),
      "graft_vecsum_long" -> ("graft_vecsum_long(la)", vecSumLong(col("la"))),
      "graft_fp16_encode" -> ("graft_fp16_encode(a)", fp16Encode(a)),
      "graft_fp16_decode" -> ("graft_fp16_decode(graft_fp16_encode(a))",
        fp16Decode(fp16Encode(a))),
      "graft_topk" -> ("graft_topk(2, d, id)", topK(2, col("d"), col("id"))),
      "graft_nearest_centroid" -> (s"graft_nearest_centroid(a, $cen)",
        nearestCentroid(a, cents)),
      "graft_nearest_centroid2" -> (s"graft_nearest_centroid2(a, $sup, $cen, $ints, 1)",
        nearestCentroid2(a, supers, cents, members, 1)),
      "graft_repetition" -> ("graft_repetition(t)", repetition(t)),
      "graft_nearest_cells" -> (s"graft_nearest_cells(a, $cen, 3)",
        nearestCells(a, cents, 3)),
      "graft_term_counts" -> ("graft_term_counts(toks, array('the', 'fox', 'cat'))",
        termCounts(toks, Seq("the", "fox", "cat"))),
      "graft_md5_prefix" -> ("graft_md5_prefix(t, 13)", md5Prefix(t, 13)),
      "graft_md5_prefix_str" -> ("graft_md5_prefix_str(t, 8)", md5PrefixStr(t, 8)),
      "graft_intersect_count" -> ("graft_intersect_count(toks, toks2)",
        intersectCount(toks, toks2)),
      "graft_nearest_cells2" -> (s"graft_nearest_cells2(a, $sup, $cen, $ints, 1, 3)",
        nearestCells2(a, supers, cents, members, 1, 3)))
    val registered = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(cases.keySet == registered)
    cases.toSeq.sortBy(_._1).foreach { case (name, (sql, dsl)) =>
      val viaSql = fresh.sql(s"SELECT $sql AS v FROM parity_row").collect().toSeq
      val viaDsl = row.select(dsl.as("v")).collect().toSeq
      assert(viaSql.size == 1 && !viaSql.head.isNullAt(0), name)
      assert(viaSql == viaDsl, name)
    }
  }
}
