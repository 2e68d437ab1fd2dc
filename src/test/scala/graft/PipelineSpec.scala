package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Multimodal

/** Dedup / text / ingest / quantize / multimodal pipeline tests. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf
  private def docs = Tables.load(spark, sf, "documents")
  private def embeddings = Tables.load(spark, sf, "embeddings")

  test("minhash-LSH finds exactly the exact-jaccard pairs") {
    val lsh = Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(docs, n = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH=${lsh.size} exact=${exact.size}")
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("band-sliced LSH (bandGroups > 1) equals the one-pass path " +
      "row for row") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val onePass = canon(Dedup.minhashLsh(docs, shingleN = 3,
      threshold = 0.5))
    assert(onePass.nonEmpty)
    // 4 slices of 16 bands, and a ragged split (64 bands into 3
    // groups of ceil 22 -> 22+22+20)
    assert(canon(Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.5,
      bandGroups = 4)) == onePass)
    assert(canon(Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.5,
      bandGroups = 3)) == onePass)
  }

  test("bandGroups auto mode resolves from corpus size; explicit wins") {
    // small corpus below the default threshold -> one-pass
    assert(Dedup.resolveBandGroups(docs, bands = 64, requested = 0) == 1)
    // explicit request bypasses the stats entirely
    assert(Dedup.resolveBandGroups(docs, bands = 64, requested = 3) == 3)
    // lower the threshold under the fixture size -> sliced mode, and
    // the full operator still matches the one-pass answer
    val prev = spark.conf.getOption("graft.lsh.autoSliceBandedRows")
    spark.conf.set("graft.lsh.autoSliceBandedRows", "1")
    try {
      assert(Dedup.resolveBandGroups(docs, bands = 64, requested = 0) == 4)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_a", $"doc_b", $"jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val auto = canon(Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.5))
      val onePass = canon(Dedup.minhashLsh(docs, shingleN = 3,
        threshold = 0.5, bandGroups = 1))
      assert(auto == onePass && onePass.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set("graft.lsh.autoSliceBandedRows", v)
      case None => spark.conf.unset("graft.lsh.autoSliceBandedRows")
    }
  }

  test("persisted-signature LSH equals the one-shot path row for row") {
    // the 100-TB workflow: signatureTable -> parquet -> read back
    // (array elements come back NULLABLE — the shape the band
    // expression must accept at analysis) -> band + verify. Must
    // reproduce minhashLsh exactly, jaccard values included.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sig_persist").toString
    Dedup.signatureTable(docs, shingleN = 3)
      .write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir)
    assert(persisted.schema("sig").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull,
      "fixture must exercise the nullable-element analysis path")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b", $"jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromDisk = canon(Dedup.minhashLshFromSignatures(
      docs, persisted, shingleN = 3, threshold = 0.5))
    val oneShot = canon(Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.5))
    assert(fromDisk == oneShot && oneShot.nonEmpty)
  }

  test("two-phase sig collapse equals the plain full-signature groupBy") {
    // sigCollapseGroups keeps the hot path on 8-byte hash keys and
    // regroups only multi-member hash groups by the full signature —
    // the result must be EXACTLY the partition a direct groupBy(sig)
    // produces (same groups, same reps), including actual duplicate
    // signatures (the corpus has planted exact copies)
    val sig = Dedup.signatureTable(docs, shingleN = 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"rep", $"members").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val twoPhase = canon(Dedup.sigCollapseGroups(sig))
    val plain = canon(sig.groupBy($"sig")
      .agg(array_sort(collect_list($"doc_id")).as("members"))
      .select(element_at($"members", 1).as("rep"), $"members"))
    assert(twoPhase == plain && twoPhase.nonEmpty)
    // the fixture genuinely exercises the multi-member arm
    assert(plain.exists(_._2.size > 1), "no duplicate signatures planted")
  }

  test("simhash pairs include the highest-jaccard planted dup") {
    val top = Dedup.ngramJaccard(docs, n = 3, threshold = 0.5)
      .orderBy($"jaccard".desc).limit(1).collect()
    assume(top.nonEmpty)
    val (a, b) = (top.head.getLong(0), top.head.getLong(1))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 12)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((a, b)) || pairs.contains((b, a)))
  }

  test("prefix-filtered jaccard join equals the common-shingle join") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plain = pairsOf(Dedup.ngramJaccard(docs, n = 3, threshold = 0.4))
    val prefix = pairsOf(Dedup.ngramJaccardPrefix(docs, n = 3, threshold = 0.4))
    assert(prefix == plain, s"prefix=${prefix.size} plain=${plain.size}")
    assert(plain.nonEmpty, "fixture should contain planted near-dups")
  }

  test("prefix jaccard boundary: exact-integer threshold product (t=0.07)") {
    // doc A: 100 distinct shingles; doc B: its last 7 — J = 7/100 =
    // 0.07 exactly. fl(0.07)*100 = 7.000000000000001 rounds UP without
    // the epsilon guard, shortening A's prefix below the first shared
    // shingle (shared shingles have f=2 and sort LAST in rarest-first
    // order) and silently dropping the boundary pair.
    val wordsA = (1 to 102).map(i => s"w$i").mkString(" ")
    val wordsB = (94 to 102).map(i => s"w$i").mkString(" ")
    val two = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = triples(Dedup.ngramJaccard(two, n = 3, threshold = 0.07))
    assert(plain == Set((1L, 2L, 0.07)))
    assert(triples(Dedup.ngramJaccardPrefix(two, n = 3, threshold = 0.07)) == plain)
    assert(triples(Dedup.ngramJaccardAuto(two, n = 3, threshold = 0.07)) == plain)
  }

  test("portable simhash: banded pairs equal brute force (pigeonhole)") {
    val sigs = Dedup.simhashPortable(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // fingerprints fit in 60 bits (portable positive range)
    assert(sigs.forall { case (_, s) => s >= 0L && s < (1L << 60) })
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashPairsPortable(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}")
  }

  test("portable simhash is partition-count independent") {
    val a = Dedup.simhashPortable(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhashPortable(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("exact dedup groups: sum of copies equals row count") {
    val g = Dedup.exact(docs).agg(sum($"n_copies")).head().getLong(0)
    assert(g == docs.count())
  }

  test("embedding top pairs ordered by cosine desc") {
    val rows = Dedup.embeddingTopPairs(embeddings, topN = 10)
      .select($"cosine").collect().map(_.getDouble(0))
    assert(rows.length == 10)
    assert(rows.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("quantization round-trip error bounded by quantile step") {
    val bounds = Quantize.train(embeddings)
    val err = Quantize.roundTripError(embeddings.limit(50), bounds)
      .agg(max($"mae")).head().getDouble(0)
    // bucket width = (hi-lo)/255; typical hi-lo ~ 2σ range < 10 → step < 0.04;
    // clamped tails can exceed one step, so assert a loose sane bound
    assert(err < 0.1, s"round-trip mae $err")
  }

  test("synthetic embedder: deterministic, partition-independent, in range") {
    val a = Ingest.pipeline(docs, 20, 400).select($"doc_id", $"embedding")
    val b = Ingest.pipeline(docs.repartition(7), 20, 400)
      .select($"doc_id", $"embedding")
    val ma = a.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val mb = b.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(ma == mb)
    assert(ma.values.forall(v => v.length == 64 && v.forall(x => x >= -1f && x <= 1f)))
  }

  test("multimodal feature extraction: schema + determinism") {
    val f = Multimodal.extractFeatures(Multimodal.mediaTable(docs))
    assert(f.columns.toSeq ==
      Seq("doc_id", "media_type", "payload_len", "features"))
    val rows = f.collect()
    assert(rows.length == docs.count())
    val byId = rows.map(r => r.getLong(0) ->
      (r.getInt(2), r.getSeq[Float](3))).toMap
    // payload_len equals utf-8 byte length; features deterministic
    val lens = docs.select($"doc_id", octet_length($"text")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId.view.mapValues(_._1).toMap == lens)
    assert(byId.values.forall(_._2.length == Multimodal.FeatureDim))
  }

  test("bucketed embedding near-dup finds the same-cell brute-force pairs") {
    val centroids = graft.operators.AnnIvf.train(embeddings, 8, iterations = 2)
    val threshold = 0.9
    val bucketed = Dedup.embeddingNearPairsBucketed(
        embeddings, centroids, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force pairs above threshold, restricted to same-cell —
    // exactly what the bucketed path promises
    val cells = graft.operators.AnnIvf.index(embeddings, centroids)
      .select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = embeddings.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val brute = (for {
      (ia, va) <- a; (ib, vb) <- a
      if ia < ib && cells(ia) == cells(ib) &&
        -graft.operators.Knn.scalarDistance("cosine", va, vb) >= threshold
    } yield (ia, ib)).toSet
    assert(bucketed == brute)
    // and the bucketing keeps most genuinely-near pairs: every
    // brute-force pair above a TIGHT threshold shares a cell
    val tight = (for {
      (ia, va) <- a; (ib, vb) <- a
      if ia < ib && -graft.operators.Knn.scalarDistance("cosine", va, vb) >= 0.98
    } yield (cells(ia) == cells(ib))).toSeq
    assert(tight.isEmpty || tight.count(identity).toDouble / tight.size >= 0.8,
      s"cell bucketing split ${tight.count(!_)} of ${tight.size} near pairs")
  }

  test("multi-probe bucketing is a superset of single-assign pairs") {
    val centroids = graft.operators.AnnIvf.train(embeddings, 8, iterations = 2)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairsOf(Dedup.embeddingNearPairsBucketed(
      embeddings, centroids, threshold = 0.3))
    val multi = pairsOf(Dedup.embeddingNearPairsMultiProbe(
      embeddings, centroids, threshold = 0.3, nassign = 3))
    assert(single.subsetOf(multi),
      s"multi-probe lost pairs: ${(single -- multi).take(5)}")
    // boundary pairs recovered: multi-probe finds strictly more on
    // this data (cells are small, boundaries common)
    assert(multi.size >= single.size)
    // and every multi-probe pair is genuinely above the threshold
    val all = embeddings.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(multi.forall { case (a, b) =>
      -graft.operators.Knn.scalarDistance("cosine", all(a), all(b)) >= 0.3
    })
  }

  test("multi-probe recovers a PLANTED near-dup pair straddling a " +
      "cell boundary that single assignment misses by construction") {
    // two cells at (0,0,...) and (2,0,...); the planted near-dups sit
    // just either side of the x=1 boundary: a's nearest cell is c0,
    // b's is c1 (single-assign never pairs them), but both carry the
    // other cell as their SECOND-nearest — and cosine(a, b) ≈ 1
    val dim = 8
    def v(x: Float): Seq[Float] = x +: Seq.fill(dim - 1)(0.1f)
    val centroids = Seq((0, Seq.fill(dim)(0f).updated(0, 0f)),
        (1, Seq.fill(dim)(0f).updated(0, 2f)))
      .toDF("cid", "centroid")
    val vecs = Seq(
      (1L, v(0.9f)), (2L, v(1.1f)), // the boundary-straddling near-dups
      (3L, v(0.1f)), (4L, v(1.9f))  // deep-in-cell fillers
    ).toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairsOf(Dedup.embeddingNearPairsBucketed(
      vecs, centroids, threshold = 0.99))
    val multi = pairsOf(Dedup.embeddingNearPairsMultiProbe(
      vecs, centroids, threshold = 0.99, nassign = 2))
    assert(!single.contains((1L, 2L)),
      "fixture broken: single assignment should split the planted pair")
    assert(multi.contains((1L, 2L)),
      s"multi-probe missed the planted boundary pair (found $multi)")
    // and the pair appears exactly once even though both members
    // share BOTH cells (distinct() folds the duplicate discovery)
    val rows = Dedup.embeddingNearPairsMultiProbe(
        vecs, centroids, threshold = 0.99, nassign = 2)
      .filter($"id_a" === 1L && $"id_b" === 2L).count()
    assert(rows == 1L)
  }

  test("PII redaction: emails/IPs/digit runs replaced, counts staged") {
    val corpus = Seq(
      (1L, "mail a.b+c@ex-1.co.uk and x@y.io here"),
      (2L, "host 192.168.101.100 acct 123456789 short 123"),
      (3L, "clean text only")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(corpus).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (("mail <EMAIL> and <EMAIL> here", 2L, 0L, 0L)))
    // the IP's 3-digit octets never reach the 7-digit rule; the
    // account number does; "123" is below the floor
    assert(out(2L) == (("host <IP> acct <NUMBER> short 123", 0L, 1L, 1L)))
    assert(out(3L) == (("clean text only", 0L, 0L, 0L)))
  }

  test("dedupUnits keeps first occurrences in order, counts removals") {
    val corpus = Seq(
      (1L, "a b a c b a"),   // dups of a (x2) and b (x1)
      (2L, "x y z"),          // nothing repeated
      (3L, "w w w w")         // all one token
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupUnits(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("a b c", 3L)))
    assert(out(2L) == (("x y z", 0L)))
    assert(out(3L) == (("w", 3L)))
    // idempotent: a second pass removes nothing
    val second = TextAnalysis.dedupUnits(
      TextAnalysis.dedupUnits(corpus).select($"doc_id", $"text")).collect()
    assert(second.forall(_.getLong(2) == 0L))
  }

  test("language id + quality + fingerprint run and are total") {
    assert(TextAnalysis.languageId(docs).count() == docs.count())
    assert(TextAnalysis.qualityScore(docs)
      .filter($"quality".between(0.0, 1.0)).count() == docs.count())
    assert(TextAnalysis.fingerprint(docs)
      .select($"fingerprint").distinct().count() > 0)
  }
}
