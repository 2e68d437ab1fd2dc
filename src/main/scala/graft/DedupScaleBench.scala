package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** LLM-pipeline deduplication at scale: a synthetic corpus with
  * PLANTED duplicates, so detection is verifiable while wall-clock
  * measures the real shapes (shingle → minhash → band join → exact
  * verify; simhash pigeonhole chunks; RDD connected components).
  *
  * Corpus layout (deterministic, hash-derived, no RNG): docs come in
  * groups of 10. Doc id ≡ 8 (mod 10) is an EXACT copy of its group
  * leader (id ≡ 0); id ≡ 9 is a NEAR-DUP mutation of the leader (~5%
  * of tokens swapped → 3-shingle Jaccard ≈ 0.75); the other seven are
  * unique. So expected: exact-dup groups = n/10, and every group
  * contributes LSH pairs among {leader, copy, mutant}.
  *
  * Usage: runMain graft.DedupScaleBench [nDocs]
  * (SPARK_DRIVER_MEM=48g; must run alone like ScaleBench.)
  */
object DedupScaleBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val vocab = 50000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = SynthData.plantedDocs(spark, n, vocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val (_, genSec) = time { docs.count() }
    println(f"[dscale] generated $n docs (~60 tokens, 10%% exact copies, " +
      f"10%% near-dup mutants) in $genSec%.1fs")

    // SPARK_GRAFT_DSCALE_STAGES=exact,simhash restricts the run — the
    // 20M point measures the linear stages without sitting through the
    // (much slower, separately measured at 2M) LSH verify stage
    val stages = sys.env.get("SPARK_GRAFT_DSCALE_STAGES")
      .map(_.split(',').map(_.trim).toSet)
    def enabled(st: String): Boolean = stages.forall(_.contains(st))

    if (enabled("exact")) {
      val (nDupGroups, exactSec) = time {
        Dedup.exact(docs).filter(col("n_copies") > 1).count()
      }
      println(f"[dscale] exact dedup: $exactSec%.1fs -> $nDupGroups dup groups " +
        f"(expected ~${n / 10}) ${n / exactSec / 1e6}%.2fM docs/s")
    }

    // simhash runs BEFORE the LSH stage: minhashLsh caches its
    // shingle/signature tables internally (load-bearing there), and
    // that memory pressure must not sit under another timed stage
    if (enabled("simhash")) {
      val (shPairs, shSec) = time {
        Dedup.simhashPairs(docs, maxHamming = 3).count()
      }
      println(f"[dscale] simhash pigeonhole (hamming<=3): $shSec%.1fs -> " +
        f"$shPairs pairs ${n / shSec / 1e3}%.1fK docs/s")
    }

    // cc consumes the LSH pair relation, so requesting "cc" without
    // "lsh" still builds the pairs (untimed) — previously the cc block
    // was nested under the lsh gate and a stages=...,cc request
    // without lsh silently ran nothing.
    // deterministic training shuffle: one distributed range sort over
    // the seeded rank — the permutation+shard step of a corpus writer
    if (enabled("shuffle")) {
      val (nShards, shSec) = time {
        graft.operators.Corpus.shuffleShards(docs, seed = 42L,
          numShards = 1024).select("shard").distinct().count()
      }
      println(f"[dscale] training shuffle (range sort + 1024 shards): " +
        f"$shSec%.1fs -> $nShards shards ${n / shSec / 1e6}%.2fM docs/s")
    }

    // cross-doc first-occurrence line dedup at token granularity:
    // ~60n line rows through one min(struct) agg + one keyed join
    if (enabled("xdoc")) {
      val (survivors, xdSec) = time {
        Dedup.crossDocLineDedup(docs, sep = " ").count()
      }
      println(f"[dscale] cross-doc line dedup (~${60L * n / 1000000}M " +
        f"token rows): $xdSec%.1fs -> $survivors surviving docs " +
        f"${n / xdSec / 1e3}%.1fK docs/s")
    }

    // the Bench methodology for the round-9 stages: one untimed pass
    // over a tiny planted corpus compiles the codegen classes before
    // measurement (C1-only JVMs otherwise charge ~7x first-run
    // compile+interpret cost to the timed stage — measured 110s cold
    // vs 16.5s steady at 200K for the span stage)
    lazy val warmDocs = SynthData.plantedDocs(spark, 10000, vocab)

    // windowed exact-substring dedup: grams grouped once, per-doc
    // removed-position sets, expression-only reassembly. Exact copies
    // (id%10==8) share every window with their leader -> fully cut;
    // mutants survive partially
    if (enabled("span")) {
      Dedup.crossDocSpanDedup(warmDocs, n = 8).count()
      val (stats, spSec) = time {
        val r = Dedup.crossDocSpanDedup(docs, n = 8)
          .agg(count(lit(1)), sum(col("n_removed"))).head()
        (r.getLong(0), r.getLong(1))
      }
      println(f"[dscale] span dedup (8-token windows): $spSec%.1fs -> " +
        f"${stats._1} surviving docs (expected ~${n - n / 10}), " +
        f"${stats._2} tokens cut ${n / spSec / 1e3}%.1fK docs/s")
    }

    // CCNet perplexity filter: two corpus scans (LM counts, scoring)
    // + the term-keyed join — the quality-filter pass of the funnel
    if (enabled("ppl")) {
      graft.operators.TextAnalysis.lmScore(warmDocs, 9e99, 9e99).count()
      val (buckets, pplSec) = time {
        graft.operators.TextAnalysis.lmScore(docs, 9e99, 9e99)
          .groupBy("bucket").count().count()
      }
      println(f"[dscale] perplexity filter (unigram LM over $vocab vocab): " +
        f"$pplSec%.1fs -> $buckets buckets ${n / pplSec / 1e3}%.1fK docs/s")
    }

    // DSIR importance weights: one feature scan into (doc, bucket)
    // counts, 1024-bucket model trained in one job
    if (enabled("dsir")) {
      graft.operators.Corpus.dsirWeights(warmDocs,
        isTarget = col("doc_id") % 2 === 0, buckets = 1024).count()
      val (nScored, dsSec) = time {
        graft.operators.Corpus.dsirWeights(docs,
          isTarget = col("doc_id") % 2 === 0, buckets = 1024).count()
      }
      println(f"[dscale] dsir weights (uni+bigram, 1024 buckets): " +
        f"$dsSec%.1fs -> $nScored docs scored ${n / dsSec / 1e3}%.1fK docs/s")
    }

    // BM25 lexical retrieval: 100 standing queries (5-term prefixes of
    // every n/100-th doc) served top-10 over the full corpus — the
    // tf aggregate is the dominant scan, the query join broadcasts
    if (enabled("bm25")) {
      def qsOf(df: org.apache.spark.sql.DataFrame, every: Long) =
        df.filter(col("doc_id") % every === 0)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 5))
              .as("q_text"))
      graft.operators.Retrieval.bm25TopK(warmDocs,
        qsOf(warmDocs, 100L), k = 10).count()
      val (nHits, bmSec) = time {
        graft.operators.Retrieval.bm25TopK(docs,
          qsOf(docs, n / 100L), k = 10).count()
      }
      println(f"[dscale] bm25 (100 queries, top-10): $bmSec%.1fs -> " +
        f"$nHits result rows ${n / bmSec / 1e3}%.1fK docs/s")
    }

    // count-min sketch: one map-side-combined (row, bucket) aggregate
    // over 4x16384 counters — the bounded-memory frequency profile
    if (enabled("cms")) {
      graft.operators.TextAnalysis.cmsSketch(warmDocs,
        depth = 4, width = 16384).count()
      val (cells, cmsSec) = time {
        graft.operators.TextAnalysis.cmsSketch(docs,
          depth = 4, width = 16384).count()
      }
      println(f"[dscale] count-min sketch (4x16384): $cmsSec%.1fs -> " +
        f"$cells cells ${n / cmsSec / 1e3}%.1fK docs/s")
    }

    // BPE training: one corpus scan collapses to the distinct-word
    // relation (vocab-sized), then every merge round runs on it
    if (enabled("bpe")) {
      graft.operators.Bpe.trainBpe(warmDocs, numMerges = 2).count()
      val (nMerges, bpeSec) = time {
        graft.operators.Bpe.trainBpe(docs, numMerges = 6).count()
      }
      println(f"[dscale] bpe training (6 merges over $vocab-word vocab): " +
        f"$bpeSec%.1fs -> $nMerges merges ${n / bpeSec / 1e3}%.1fK docs/s")
    }

    // logistic quality classifier: feature snapshot (one scan) + 5
    // full-batch GD steps (each = broadcast lookup + two map-side-
    // combined aggregates); label = "contains any of w0..w99"
    // (learnable from the hashed unigram buckets)
    if (enabled("clf")) {
      val gate = exists(split(col("text"), " "),
        t => t.rlike("^w[0-9]{1,2}$"))
      graft.operators.Classifier.trainLogistic(warmDocs, gate,
        buckets = 1024, steps = 2, lr = 0.1)
      val (nw, clfSec) = time {
        graft.operators.Classifier.trainLogistic(docs, gate,
          buckets = 1024, steps = 5, lr = 0.1).size
      }
      println(f"[dscale] logistic classifier (1024 buckets, 5 GD steps): " +
        f"$clfSec%.1fs -> $nw weights ${n / clfSec / 1e3}%.1fK docs/s")
    }

    if (enabled("lsh") || enabled("cc")) {
      // AUTO mode (0) by default: minhashLsh resolves the band-sliced
      // low-disk plan itself past the banded-rows threshold — the
      // stats-adaptive choice under test here. SPARK_GRAFT_LSH_GROUPS
      // forces a mode for A/B runs.
      val lshGroups = sys.env.get("SPARK_GRAFT_LSH_GROUPS").map(_.toInt)
        .getOrElse(0)
      val resolved = graft.operators.Dedup.resolveBandGroups(
        docs, bands = 64, requested = lshGroups)
      println(s"[dscale] lsh bandGroups: requested=$lshGroups " +
        s"resolved=$resolved (auto threshold " +
        s"${spark.conf.get("graft.lsh.autoSliceBandedRows", "64000000")} " +
        "banded rows)")
      // CONSTRUCTION is inside the timed block: the band-sliced mode
      // runs its candidate slices EAGERLY while the DataFrame is
      // being built (multi-job orchestration cannot be lazy), so
      // timing only .count() would charge just the verify tail
      val ((pairsDf, lshPairs), lshSec) = time {
        val df = Dedup.minhashLsh(docs, shingleN = 3, threshold = 0.7,
          bandGroups = lshGroups)
        (df, df.count())
      }
      if (enabled("lsh")) {
        println(f"[dscale] minhash-lsh (128 hashes, 64 bands, verify@0.7, " +
          f"$resolved band groups): " +
          f"$lshSec%.1fs -> $lshPairs pairs ${n / lshSec / 1e3}%.1fK docs/s")
      }

      // Isolate CC from the LSH stage's internal caches (untimed): park
      // the pair relation on disk, drop every cache, re-warm docs, and
      // time the clustering loop ALONE over its true inputs.
      if (enabled("cc")) {
        val pairDir = java.nio.file.Files
          .createTempDirectory("graft_dscale_pairs").toString
        pairsDf.write.mode("overwrite").parquet(pairDir)
        spark.catalog.clearCache()
        docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        docs.count()
        val pairs = spark.read.parquet(pairDir)
        val (nClusters, ccSec) = time {
          Dedup.dupClustersFromPairs(docs.select(col("doc_id")), pairs)
            .select("cluster_id").distinct().count()
        }
        println(f"[dscale] near-dup clustering (CC over the parked pairs): " +
          f"$ccSec%.1fs -> $nClusters clusters")
      }
    }
    spark.stop()
  }
}
