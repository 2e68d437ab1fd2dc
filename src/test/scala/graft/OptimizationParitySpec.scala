package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Classifier, Corpus, Spread}

/** r20 optimization-round parity pins: every rewritten primitive must
  * be bit-identical to the declarative form it replaced, and every
  * cost-based local replay must equal its distributed twin. */
class OptimizationParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  test("Md5PrefixLong == conv(substring(md5(x),1,n),16,10)::long, n=13/15") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .limit(2000)
    Seq(13, 15).foreach { n =>
      val diff = toks.select(
          GraftFunctions.md5Prefix(col("t"), n).as("fused"),
          conv(substring(md5(col("t")), 1, n), 16, 10)
            .cast("long").as("legacy"))
        .filter(col("fused") =!= col("legacy") ||
          col("fused").isNull =!= col("legacy").isNull)
        .count()
      assert(diff == 0L, s"nHex=$n mismatch")
    }
    // null-for-null like the conv chain
    val nulls = Seq[(java.lang.Long, Option[String])]((1L, None))
      .toDF("id", "t")
      .select(GraftFunctions.md5Prefix(col("t"), 13).as("v"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("Md5PrefixStr == substring(md5(x), 1, 26)") {
    val toks = Tables.load(spark, sf, "documents")
      .select(col("text").as("t")).limit(500)
    val diff = toks.select(
        GraftFunctions.md5PrefixStr(col("t"), 26).as("fused"),
        substring(md5(col("t")), 1, 26).as("legacy"))
      .filter(col("fused") =!= col("legacy")).count()
    assert(diff == 0L)
  }

  test("TermCounts == transform(terms, t -> size(filter(toks, = t)))") {
    val terms = Seq("the", "a", "zz-never", "data", "of")
    val docs = Tables.load(spark, sf, "documents")
      .select(split(col("text"), " ").as("toks")).limit(500)
    val termsLit = typedlit(terms)
    val diff = docs.select(
        GraftFunctions.termCounts(col("toks"), terms).as("fused"),
        transform(termsLit,
          t => size(filter(col("toks"), x => x === t)).cast("double"))
          .as("legacy"))
      .filter(col("fused") =!= col("legacy")).count()
    assert(diff == 0L)
  }

  test("IntersectCardinality == size(array_intersect(a, b)) — real " +
      "shingles + adversarial arrays (dups, null slots, empties)") {
    // real shingle arrays from the corpus: every candidate-pair shape
    // the LSH verify join actually sees
    val docs = Tables.load(spark, sf, "documents").limit(60)
    val sh = docs.select(col("doc_id"),
      GraftFunctions.shingles(col("text"), 3).as("sh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
    val diff = pairs.select(
        GraftFunctions.intersectCount(col("sh_a"), col("sh_b")).as("fused"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("legacy"))
      .filter(col("fused") =!= col("legacy")).count()
    assert(diff == 0L)
    // adversarial element shapes: duplicates count once, a null slot
    // shared by both sides counts once, empties yield 0, null arrays
    // propagate null — all matching array_intersect exactly
    val adv = Seq(
      (Seq[String]("a", "a", "b", "c"), Seq[String]("a", "b", "b")),
      (Seq[String](null, "x", null), Seq[String](null, "y")),
      (Seq[String](), Seq[String]("a")),
      (Seq[String]("q"), Seq[String]()),
      (Seq[String](null), Seq[String]("z"))
    ).toDF("sh_a", "sh_b")
    val advDiff = adv.select(
        GraftFunctions.intersectCount(col("sh_a"), col("sh_b")).as("fused"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("legacy"))
      .filter(col("fused") =!= col("legacy")).count()
    assert(advDiff == 0L)
    val nullArr = Seq((Option.empty[Seq[String]], Option(Seq("a"))))
      .toDF("sh_a", "sh_b")
      .select(GraftFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .collect()
    assert(nullArr.head.isNullAt(0))
  }

  test("classifier sampled training: driver-local replay == distributed") {
    val docs = Tables.load(spark, sf, "documents")
    val isGood = size(split(col("text"), " ")) >= 40
    def train(): Map[Long, Long] = Classifier.trainLogistic(
      docs, isGood, buckets = 64, steps = 4, lr = 0.05,
      sampleBudget = Some(50))
    val local = train() // default budget -> local replay
    spark.conf.set("graft.classifier.localTrainBudget", "0")
    val dist = try train() // budget 0 -> distributed loop
      finally spark.conf.unset("graft.classifier.localTrainBudget")
    assert(local == dist)
  }

  test("kCenters: driver-local greedy == distributed loop") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 0)
    def run(): Seq[(Long, Long)] = Corpus.kCenters(vecs, k = 6)
      .as[(Long, Long)].collect().toSeq
    val local = run() // default budget -> local replay
    spark.conf.set("graft.coreset.localRowBudget", "0")
    val dist = try run() // budget 0 -> distributed loop
      finally spark.conf.unset("graft.coreset.localRowBudget")
    assert(local == dist)
  }

  test("Spread.cpu: spreads sub-split scans, preserves the row multiset") {
    val docs = Tables.load(spark, sf, "documents")
    val spreadDf = Spread.cpu(docs)
    assert(spreadDf.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spreadDf.count() == docs.count())
    val a = docs.select(md5(concat_ws("|", col("doc_id"), col("text"))))
      .as[String].collect().sorted.toSeq
    val b = spreadDf.select(md5(concat_ws("|", col("doc_id"), col("text"))))
      .as[String].collect().sorted.toSeq
    assert(a == b)
  }

  test("crossDocNgramCoverage / crossDocSpanDedup unchanged by the " +
      "fused gram key (spot row counts against legacy key formulation)") {
    val docs = Tables.load(spark, sf, "documents")
    // the fused-key operators still produce the exact oracle rows —
    // covered by the full oracle pack; here pin that the fused key
    // equals the legacy substring(md5) on the actual gram strings
    val grams = docs.select(explode(split(col("text"), " ")).as("g"))
      .limit(300)
    val diff = grams.select(
        GraftFunctions.md5PrefixStr(col("g"), 26).as("fused"),
        substring(md5(col("g")), 1, 26).as("legacy"))
      .filter(col("fused") =!= col("legacy")).count()
    assert(diff == 0L)
  }
}
