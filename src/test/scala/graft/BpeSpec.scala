package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** Distributed BPE trainer/encoder vs a local reference
  * implementation (greedy left-to-right merge application). */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Local reference BPE: train `n` merges over (word, count). */
  private def refTrain(words: Seq[(String, Long)],
      n: Int): List[(String, String, Long)] = {
    var state = words.map { case (w, _) => w -> w.map(_.toString).toList }
      .toMap
    val counts = words.toMap
    var merges = List.empty[(String, String, Long)]
    var rounds = 0
    var done = false
    while (rounds < n && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (w, syms) =>
        syms.zip(syms.drop(1)).foreach { p =>
          pc(p) = pc.getOrElse(p, 0L) + counts(w)
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), c) = pc.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.head
        merges = (l, r, c) :: merges
        state = state.map { case (w, syms) => w -> refApply(syms, l, r) }
        rounds += 1
      }
    }
    merges.reverse
  }

  private def refApply(syms: List[String], l: String,
      r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  test("trainBpe: classic example incl. learned-symbol merges") {
    val docs = Seq(
      "hug hug hug pug pun pun bun hugs",
      "hug hug hug hug hug hug hug pug pug pug pug pun",
      "pun pun pun pun pun pun pun pun pun pun bun bun bun hugs hugs hugs hugs"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wordCounts = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toSeq
    val expected = refTrain(wordCounts, 6)
    val got = Bpe.trainBpe(docs, numMerges = 6)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(got == expected)
  }

  test("trainBpe: equal-symbol runs merge left-to-right (parity rule)") {
    val docs = Seq((1L, "aaaa aaaa aaaa banana banana"))
      .toDF("doc_id", "text")
    // round 1: (a,a) appears 3x in each 'aaaa' (x3) + 0 adjacent in
    // banana -> 9; round 2 state 'aaaa' -> [aa, aa]
    val got = Bpe.trainBpe(docs, numMerges = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    val wc = Seq("aaaa" -> 3L, "banana" -> 2L)
    val expected = refTrain(wc, 3)
    assert(got == expected)
  }

  test("trainBpe: early exhaustion on single-char words") {
    val docs = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    assert(Bpe.trainBpe(docs, numMerges = 5).count() == 0)
  }

  test("trainBpe: word-initial right symbol survives (null-prv regression)") {
    // merge 1 = (a,n); word "na" STARTS with n whose prv is NULL —
    // a non-null-safe tail filter deleted that first symbol and lost
    // round 2's (n,a) merge
    val docs = Seq((1L, "na an an")).toDF("doc_id", "text")
    val got = Bpe.trainBpe(docs, numMerges = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(got == List(("a", "n", 2L), ("n", "a", 1L)))
  }

  test("trainBpe: empty words from consecutive spaces carry no symbols") {
    // "a  b" tokenizes to ["a", "", "b"]; sequence(1, 0) would
    // otherwise manufacture two phantom "" symbols and a ("","") pair
    val docs = Seq((1L, "a  b a  b")).toDF("doc_id", "text")
    assert(Bpe.trainBpe(docs, numMerges = 3).count() == 0)
  }

  test("trainBpe: driver-local replay == distributed loop (r21)") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    def run(): List[(Long, String, String, Long)] =
      Bpe.trainBpe(docs, numMerges = 6).orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toList
    // pin the mode EXPLICITLY both ways, so a future corpus/budget
    // change can never silently degrade this to distributed ==
    // distributed
    spark.conf.set("graft.bpe.localTrainBudget", Long.MaxValue.toString)
    val local = try run()
      finally spark.conf.unset("graft.bpe.localTrainBudget")
    spark.conf.set("graft.bpe.localTrainBudget", "0")
    val dist = try run() // budget 0 -> distributed loop
      finally spark.conf.unset("graft.bpe.localTrainBudget")
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("trainBpe: the local gate is Σ code points <= budget, decided " +
      "from the one vocabulary collect") {
    // distinct words hug pug pun bun (3 symbols each), hugs (4) and
    // h😀g (3 code points, 4 UTF-16 units): 19 symbols
    val docs = Seq((1L, "hug hug pug pun h\uD83D\uDE00g"),
      (2L, "bun hugs pun pun")).toDF("doc_id", "text")
    val collector = new Profile.Collector
    spark.sparkContext.addSparkListener(collector)
    def run(budget: Long) = {
      spark.conf.set("graft.bpe.localTrainBudget", budget.toString)
      try {
        collector.drained(spark); collector.reset()
        val merges = Bpe.trainBpe(docs, numMerges = 4)
        val jobs = collector.drained(spark).size
        (merges.orderBy("round").collect().map(r => (r.getLong(0),
          r.getString(1), r.getString(2), r.getLong(3))).toList, jobs)
      } finally spark.conf.unset("graft.bpe.localTrainBudget")
    }
    try {
      val (local, localJobs) = run(19L)
      val (dist, distJobs) = run(18L)
      assert(local == dist && local.nonEmpty)
      // the local replay is the vocabulary collect alone
      assert(localJobs <= 2, s"local mode ran $localJobs jobs")
      assert(distJobs > 4 * localJobs, s"distributed ran $distJobs jobs")
    } finally spark.sparkContext.removeSparkListener(collector)
  }

  test("trainBpe: partition independence on testdata") {
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    def run(df: org.apache.spark.sql.DataFrame) =
      Bpe.trainBpe(df, numMerges = 4).orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toList
    assert(run(docs) == run(docs.repartition(7)))
  }
}
