package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Corpus-curation operators: connected-component dup clusters,
  * decontamination, stratified sampling, composition stats. */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf
  private def docs = Tables.load(spark, sf, "documents")

  test("selectByBudget keeps the quality-desc prefix incl. the crossing doc") {
    val budget = 20000L
    val kept = Corpus.selectByBudget(docs, budget).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    // exclusive prefix sums stay below budget; inclusive may cross once
    val sorted = kept.sortBy(t => (-t._2, t._1))
    sorted.foreach { case (_, _, _, before) => assert(before < budget) }
    val total = sorted.map(_._3).sum
    val last = sorted.last._3
    assert(total - last < budget && total >= math.min(budget,
      TextAnalysis.tokenStats(docs).agg(sum($"n_ws_tokens"))
        .head().getLong(0)))
    // prefix property: every unkept doc is strictly worse than the
    // worst kept one
    val keptIds = kept.map(_._1).toSet
    val all = TextAnalysis.qualityScore(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val worstKept = sorted.last
    all.filterNot(d => keptIds.contains(d._1)).foreach { case (id, q) =>
      assert(q < worstKept._2 || (q == worstKept._2 && id > worstKept._1),
        s"unkept ($id, $q) outranks worst kept $worstKept")
    }
    // partition-count independence
    val again = Corpus.selectByBudget(docs.repartition(7), budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(again == kept.map(t => (t._1, t._4)).toSet)
  }

  test("shuffleShards: exact permutation, balanced shards, seed-sensitive") {
    val n = docs.count()
    val got = Corpus.shuffleShards(docs, seed = 42L, numShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // every doc exactly once; positions are exactly 0..n-1
    assert(got.length == n && got.map(_._1).distinct.length == n)
    assert(got.map(_._2).sorted.toSeq == (0L until n).toSeq)
    // shard = pos % 8, pos_in_shard = pos / 8; sizes balance to +-1
    got.foreach { case (_, pos, sh, pis) =>
      assert(sh == pos % 8 && pis == pos / 8)
    }
    val sizes = got.groupBy(_._3).values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
    // the local single-threaded twin reproduces the permutation
    val md = java.security.MessageDigest.getInstance("MD5")
    def rk(id: Long): String = {
      val h = md.digest(s"42:$id".getBytes("UTF-8"))
      h.map("%02x".format(_)).mkString.take(13)
    }
    val expect = got.map(_._1).sortBy(id => (rk(id), id)).zipWithIndex
      .map { case (id, i) => (id, i.toLong) }.toMap
    got.foreach { case (id, pos, _, _) => assert(pos == expect(id)) }
    // a different seed must give a different permutation
    val other = Corpus.shuffleShards(docs, seed = 7L, numShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.exists { case (id, pos, _, _) => other(id) != pos })
    // partition-count independence (the range sort is deterministic)
    val again = Corpus.shuffleShards(docs.repartition(7), 42L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (id, pos, _, _) => assert(again(id) == pos) }
  }

  test("domainCap: per-domain quality top-k, heap == window semantics") {
    val cap = 10
    val got = Corpus.domainCap(docs, maxPerGroup = cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // no domain exceeds the cap; ranks are 1..k contiguous
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= cap)
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // brute-force twin: per-source sort by (quality desc, id asc)
    val q = TextAnalysis.qualityScore(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    val expect = q.groupBy(_._3).toSeq.flatMap { case (src, rows) =>
      rows.sortBy(t => (-t._2, t._1)).take(cap).zipWithIndex
        .map { case ((id, _, _), i) => (src, i + 1L, id) }
    }.toSet
    assert(got.toSet == expect)
  }

  test("chunkDocs: overlap, final short chunk, tiny doc") {
    val d = Seq(
      (1L, (1 to 75).map(i => s"t$i").mkString(" ")), // 75 tokens
      (2L, "a b c")                                   // 3 tokens
    ).toDF("doc_id", "text")
    val got = Corpus.chunkDocs(d, chunkTokens = 40, stride = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toList.sortBy(t => (t._1, t._2))
    // doc 1: starts 0, 32, 64 -> widths 40, 40, 11; doc 2: one chunk
    assert(got.map(t => (t._1, t._2, t._3, t._4)) == List(
      (1L, 0L, 0L, 40L), (1L, 1L, 32L, 40L), (1L, 2L, 64L, 11L),
      (2L, 0L, 0L, 3L)))
    // overlap: chunk 1 of doc 1 starts at token 33 ("t33")
    assert(got(1)._5.startsWith("t33 "))
    assert(got(3)._5 == "a b c")
  }

  test("chunkDocs windows reassemble the document at stride == chunk") {
    val docsDf = docs.limit(50)
    // collect (chunk_idx, text) structs, sort by idx, re-join — order
    // inside collect_list is not shuffle-stable, so sort explicitly
    val joined = Corpus.chunkDocs(docsDf, 32, 32)
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"chunk_idx", $"chunk_text"))),
        _.getField("chunk_text")), " ").as("re"))
      .join(docsDf.select($"doc_id", $"text"), "doc_id")
    assert(joined.count() == 50)
    assert(joined.filter($"re" =!= $"text").count() == 0)
  }

  test("contrastiveNegatives: label exclusion, exact count, determinism") {
    val emb = Tables.load(spark, sf, "embeddings")
    val items = emb.filter($"vec_id" % 50 =!= 0)
    val qs = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"label".as("q_label"))
    val negs = Corpus.contrastiveNegatives(items, qs, m = 5, poolSize = 60)
      .cache()
    val labels = qs.collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val rows = negs.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) != labels(r.getLong(0)),
        "negative shares the query's label")
    }
    // every query with >= 5 different-label pool rows gets exactly 5
    val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQ.values.forall(_ <= 5))
    assert(perQ.values.count(_ == 5) > perQ.size / 2,
      "most queries should fill their negative quota")
    // deterministic under repartitioning
    val again = Corpus.contrastiveNegatives(
      items.repartition(7), qs, m = 5, poolSize = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again ==
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("connectedComponents labels a chain and an isolate correctly") {
    // 1-2-3 chain, 4-5 pair, 6 isolated: components {1,2,3} {4,5} {6}
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L))
  }

  test("local union-find lowering equals the distributed label loop") {
    // same fixpoint from both physical paths (the cost-based choice
    // must be invisible): the corpus-derived jaccard pair relation,
    // once through the driver union-find (default budget) and once
    // with budget 0 forcing the iterative propagation loop
    val nodes = docs.select($"doc_id".as("id"))
    val edges = Dedup.ngramJaccard(docs, n = 3, threshold = 0.4)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = canon(Dedup.connectedComponents(nodes, edges))
    val looped = canon(Dedup.connectedComponents(nodes, edges,
      localEdgeBudget = 0L))
    assert(local == looped && local.nonEmpty)
  }

  test("dupClusters partitions the corpus and closes over pairs") {
    val clusters = Dedup.dupClustersFromPairs(docs,
      Dedup.ngramJaccardAuto(docs, n = 3, threshold = 0.4))
    val rows = clusters.collect()
    val nDocs = docs.count()
    assert(rows.length == nDocs, "one row per document")
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // representative is a member of its own cluster and is the minimum
    rows.foreach { r =>
      val (id, cid, canon) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(cid <= id, s"cluster id must be the min member ($id -> $cid)")
      assert(label(cid) == cid, "cluster id must itself carry its label")
      assert((canon == 1L) == (id == cid))
    }
    // every near-dup pair is co-clustered
    val pairs = Dedup.ngramJaccard(docs, n = 3, threshold = 0.4)
      .select($"doc_a", $"doc_b").collect()
    assert(pairs.nonEmpty, "fixture should contain planted near-dups")
    pairs.foreach { r =>
      assert(label(r.getLong(0)) == label(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across clusters")
    }
    // and at least one cluster actually merged
    assert(label.values.toSet.size < nDocs)
  }

  test("dupClustersKeepBest keeps the best-quality member per cluster") {
    // planted cluster where the BEST-quality member is NOT the min id:
    // doc 1 is a low-quality (repetitive) copy, doc 3 the clean one
    val corpus = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma delta alpha beta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"),
      (9L, "totally unrelated content nothing shared here at all now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(corpus, n = 3, threshold = 0.3)
    val out = Dedup.dupClustersKeepBest(corpus, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 4)
    val byId = out.map(t => t._1 -> t).toMap
    // 3 and 5 share 8 trigrams (j ~ 8/8? actually high) — at least
    // they co-cluster; the isolate keeps itself
    assert(byId(9L)._3 == 9L && byId(9L)._4 == 1L)
    // within every cluster: exactly one canonical, and it has the max
    // quality (ties -> min id) among members
    val q = TextAnalysis.qualityScore(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.count(_._4 == 1L) == 1)
      val keeper = members.find(_._4 == 1L).get
      assert(members.forall(_._3 == keeper._1), "keeper_id consistent")
      val best = members.map(m => (m._1, q(m._1)))
        .sortBy { case (id, qq) => (-qq, id) }.head._1
      assert(keeper._1 == best, s"keeper ${keeper._1} != best $best")
    }
    // membership identical to the min-id policy (only the keeper
    // changes)
    val minPolicy = Dedup.dupClustersFromPairs(corpus, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, cid, _, _) => assert(minPolicy(id) == cid) }
  }

  test("boilerplate removal: cross-doc lines drop, order preserved, " +
      "within-doc repeats count once, all-boilerplate docs vanish") {
    val corpus = Seq(
      (1L, "cookie banner\nunique alpha\ncookie banner\nunique beta"),
      (2L, "cookie banner\nunique gamma"),
      (3L, "cookie banner"),            // all boilerplate -> vanishes
      (4L, "only here\nrare line"),     // untouched
      (5L, "twice\ntwice\nunique delta") // within-doc repeat, 1 doc only
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateRemove(corpus, minDocs = 2).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // "cookie banner" appears in 3 distinct docs -> removed everywhere;
    // "twice" repeats only WITHIN doc 5 (1 distinct doc) -> kept
    assert(out(1L) == (("unique alpha\nunique beta", 2L)))
    assert(out(2L) == (("unique gamma", 1L)))
    assert(!out.contains(3L))
    assert(out(4L) == (("only here\nrare line", 0L)))
    assert(out(5L) == (("twice\ntwice\nunique delta", 0L)))
    // threshold boundary: at minDocs = 4 nothing reaches the bar
    val loose = Dedup.boilerplateRemove(corpus, minDocs = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose.values.forall(_ == 0L) && loose.size == 5)
  }

  test("meanPoolEmbeddings equals the local per-dim mean") {
    val chunks = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(3.0f, 2.0f, 1.0f)),
      (1L, Array(2.0f, 2.0f, 2.0f)),
      (2L, Array(0.5f, -0.5f, 0.25f))
    ).toDF("doc_id", "emb")
    val got = Corpus.meanPoolEmbeddings(chunks).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Double](1).toArray, r.getLong(2)))).toMap
    assert(got(1L)._2 == 3L && got(2L)._2 == 1L)
    assert(got(1L)._1.toSeq == Seq(2.0, 2.0, 2.0))
    assert(got(2L)._1.toSeq == Seq(0.5, -0.5, 0.25))
    // repartitioning must not move the mean beyond float-sum noise
    val again = Corpus.meanPoolEmbeddings(chunks.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.foreach { case (id, (m, _)) =>
      m.zip(again(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"doc $id: $a vs $b")
      }
    }
  }

  test("temperatureMix: sqrt quotas smooth the head, picks portable") {
    val budget = 200L
    val got = Corpus.temperatureMix(docs, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val counts = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer-exact quota twin
    val roots = counts.toSeq.sortBy(_._1)
      .map { case (g, n) => g -> math.sqrt(n.toDouble).toLong }
    val total = roots.map(_._2).sum
    val quota = roots.map { case (g, r) => g -> budget * r / total }.toMap
    got.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.length == math.min(quota(g), counts(g)),
        s"$g quota ${quota(g)}")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // the head language's share shrinks vs its raw share (alpha < 1)
    val enRaw = counts("en").toDouble / counts.values.sum
    val enMix = got.count(_._1 == "en").toDouble / got.length
    assert(enMix < enRaw, s"en share must smooth: $enMix vs $enRaw")
    // picks are the md5-rank prefix per stratum (same rank as
    // stratifiedSample — spot-check against it)
    val strat = Corpus.stratifiedSample(docs, "lang", k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    strat.foreach { case (g, id) =>
      assert(got.exists(t => t._1 == g && t._3 == id),
        s"top-5 md5 pick ($g,$id) missing from the larger quota")
    }
  }

  test("incrementalExact: two-batch sequence equals one-shot dedup") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_fpstore_t").toString
    val batch1 = docs.filter($"doc_id" % 3 === 0)
    val batch2 = docs.filter($"doc_id" % 3 =!= 0)
    // batch 1 lands in an empty store (store dir with an empty frame)
    Dedup.writeFingerprintStore(batch1.limit(0), store)
    // the natural pipeline order (writeFingerprintStore's contract):
    // persist the accepted batch FIRST — appending to the store
    // invalidates the shared parquet file index, so even a cached
    // accepted-batch plan would re-evaluate against the advanced
    // store and come back empty
    val acc1Dir = java.nio.file.Files
      .createTempDirectory("graft_fpacc_t").toString
    Dedup.incrementalExact(batch1, store)
      .write.mode("overwrite").parquet(acc1Dir)
    val acc1 = spark.read.parquet(acc1Dir)
    // advance the store with batch 1's ACCEPTED docs only
    Dedup.writeFingerprintStore(
      batch1.join(acc1.select($"doc_id"), "doc_id"), store)
    val acc2 = Dedup.incrementalExact(batch2, store)
    val sequenced = acc1.select($"text_hash", $"doc_id")
      .union(acc2.select($"text_hash", $"doc_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // one-shot twin: exact dedup of the full corpus... keep-min-id per
    // hash, except batch-1 members win over batch-2 members (they were
    // accepted first) — which matches global min-id iff batching by
    // doc order; here batches interleave, so compare per-hash against
    // the policy directly
    val all = docs.select(md5($"text").as("h"), $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = all.groupBy(_._1).map { case (h, rows) =>
      val b1 = rows.filter(_._2 % 3 == 0)
      h -> (if (b1.nonEmpty) b1.map(_._2).min else rows.map(_._2).min)
    }
    assert(sequenced.length == expect.size, "one accepted doc per hash")
    sequenced.foreach { case (h, id) => assert(expect(h) == id) }
  }

  test("crossDocLineDedup keeps only global first occurrences") {
    val corpus = Seq(
      (1L, "a b c"),
      (2L, "b d e"),    // b first seen in doc 1 -> removed here
      (3L, "a b c"),    // everything seen before -> doc vanishes
      (4L, "f a f")     // a seen in doc 1; second f is a later
                        // occurrence of doc 4's own first f -> removed
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocLineDedup(corpus, sep = " ").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("a b c", 0L)))
    assert(out(2L) == (("d e", 1L)))
    assert(!out.contains(3L), "fully-duplicated doc must drop out")
    assert(out(4L) == (("f", 2L)))
    // global invariant: no token survives twice anywhere
    val survivors = out.values.flatMap(_._1.split(" ")).toSeq
    assert(survivors.distinct.length == survivors.length)
  }

  test("decontaminate flags exactly the train docs sharing a shingle") {
    val isTest = col("doc_id") % 20 === 0
    val out = Dedup.decontaminate(docs, isTest, n = 5)
    val rows = out.collect()
    assert(rows.length == docs.filter(!isTest).count())
    // recompute the overlap declaratively and compare
    val sh = docs.select(col("doc_id"), (col("doc_id") % 20 === 0).as("t"),
      explode(Dedup.shinglesOf(col("text"), 5)).as("s"))
    val testSh = sh.filter($"t").select("s").distinct()
    val expected = sh.filter(!$"t").join(testSh, "s")
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, n, flag) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(n == expected.getOrElse(id, 0L), s"doc $id n_shared")
      assert((flag == 1L) == (n > 0))
      assert(id % 20 != 0, "test docs must not appear in train output")
    }
  }

  test("stratifiedSample returns exactly min(k, stratum) rows, stably") {
    val k = 7
    val a = Corpus.stratifiedSample(docs, "lang", k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val b = Corpus.stratifiedSample(docs, "lang", k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b, "sample must be deterministic")
    val perGroup = a.groupBy(_._1).map { case (g, s) => g -> s.size }
    val sizes = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (g, n) =>
      assert(perGroup.getOrElse(g, 0) == math.min(k.toLong, n).toInt,
        s"stratum $g")
    }
  }

  test("repetitionStats matches hand-computed fractions") {
    // "a a a b": unigrams a×3,b×1 → top 3/4; bigrams "a a"×2,"a b"×1 →
    // top 2/3; trigrams "a a a","a a b" both once → dup 0.
    // "x y x y x y": top unigram 3/6; bigrams "x y"×3,"y x"×2 → 3/5;
    // trigrams "x y x"×2, "y x y"×2 → dup 4/4.
    // "z": 1 token, no bigrams/trigrams → 1.0, 0, 0.
    val df = Seq((1L, "a a a b"), (2L, "x y x y x y"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 0.75, 0.666667, 0.0)))
    assert(got(2L) == ((6L, 0.5, 0.6, 1.0)))
    assert(got(3L) == ((1L, 1.0, 0.0, 0.0)))
  }

  test("corpus stats agree with a direct recount") {
    val got = Corpus.stats(docs).agg(
      sum($"n_docs"), sum($"n_tokens")).collect().head
    val direct = docs.agg(count(lit(1)),
      sum(size(split($"text", " ")).cast("long"))).collect().head
    assert(got.getLong(0) == direct.getLong(0))
    assert(got.getLong(1) == direct.getLong(1))
  }

  test("sequence packing: distributed scan equals the window twin") {
    import org.apache.spark.sql.expressions.Window
    val got = Corpus.packSequences(docs.repartition(7), maxTokens = 1024L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // single-task window twin (test reference only — the scale cliff
    // the operator exists to avoid)
    val w = Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val twin = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .withColumn("ex", coalesce(sum($"n").over(w), lit(0L)))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2) / 1024L, r.getLong(2) % 1024L))
      .toMap
    assert(got == twin && got.nonEmpty)
    // packing invariants: seq ids are a prefix of the naturals and
    // every offset respects the budget
    val seqIds = got.values.map(_._2).toSet
    assert(seqIds == (0L until (seqIds.max + 1)).toSet)
    assert(got.values.forall(_._3 < 1024L))
  }

  test("curate fuses the gates and equals the composed operators") {
    val minQ = 0.45
    val got = Corpus.curate(docs, minQuality = minQ, langs = Seq("en"))
      .collect()
    assert(got.nonEmpty && got.length < docs.count(),
      "curation must keep a strict, non-empty subset")
    got.foreach { r =>
      assert(r.getString(1) == "en")
      assert(r.getDouble(3) >= minQ)
    }
    // fused result == the same funnel built from the standalone
    // operators (quality join langid join exact-dedup keeper)
    val q = TextAnalysis.qualityScore(docs)
    val l = TextAnalysis.languageId(docs)
    val survivors = docs.select($"doc_id", md5($"text").as("th"))
      .join(q, "doc_id").join(l, "doc_id")
      .filter($"quality" >= minQ && $"lang_pred" === "en")
    val keepers = survivors.groupBy($"th").agg(min($"doc_id").as("doc_id"))
    val expected = survivors.join(keepers, Seq("th", "doc_id"))
      .select($"doc_id").as[Long].collect().toSet
    assert(got.map(_.getLong(0)).toSet == expected)
  }

  test("groupedExactQuantiles: hand values, extremes, partition independence") {
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      Seq(("b", 100.0), ("b", 200.0))).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Corpus.groupedExactQuantiles(d, "g", "v",
        qs = Seq(0.0, 0.5, 1.0))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2))).toSet
    val got = run(df)
    // a: 1..10 -> median interpolates 5.5; b: {100, 200} -> 150
    assert(got == Set(
      ("a", 0.0, 1.0), ("a", 0.5, 5.5), ("a", 1.0, 10.0),
      ("b", 0.0, 100.0), ("b", 0.5, 150.0), ("b", 1.0, 200.0)))
    assert(run(df.repartition(7)) == got)
    // a skewed group spanning many partitions: same answer
    val big = (1 to 5000).map(i => ("big", i.toDouble)).toDF("g", "v")
      .repartition(13)
    val bigQ = Corpus.groupedExactQuantiles(big, "g", "v", qs = Seq(0.25))
      .collect().map(r => r.getDouble(2)).head
    assert(bigQ == 1250.75) // 0.25 * 4999 = 1249.75 -> 1250.75
  }

  test("kCenters: hand-computed farthest-point order on a line") {
    // points at 0, 1, 10, 11 (1-D). seed = min id (at 0).
    // farthest from {0} -> 11; then min-dists {1:1, 10:1} tie -> min id
    val vecs = Seq(
      (1L, Array(0f)), (2L, Array(1f)), (3L, Array(10f)), (4L, Array(11f))
    ).toDF("vec_id", "embedding")
    val got = Corpus.kCenters(vecs, k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 4L), (3L, 2L)))
  }

  test("kCenters: equals the local greedy replay; k > n selects all") {
    val data = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter($"vec_id" % 25 === 0)
    val rows = data.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def rd(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // local replay of the greedy on rounded distances
    val k = 6
    var sel = List(rows.head)
    while (sel.length < k) {
      val chosen = sel.map(_._1).toSet
      val next = rows.filter(r => !chosen(r._1))
        .map(r => (r, sel.map(c => rd(r._2, c._2)).min))
        .sortBy { case ((id, _), md) => (-md, id) }.head._1
      sel = next :: sel
    }
    val expected = sel.reverse.map(_._1).zipWithIndex
      .map { case (id, i) => (i + 1L, id) }
    val got = Corpus.kCenters(data, k)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == expected)
    // partition independence
    val repart = Corpus.kCenters(data.repartition(7), k)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(repart.toSeq == expected)
    // k beyond the row count selects every row, order still greedy
    val n = rows.length
    val all = Corpus.kCenters(data, n + 5)
    assert(all.count() == n)
  }
}
