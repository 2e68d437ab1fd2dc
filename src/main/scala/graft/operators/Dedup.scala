package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Document deduplication operators for large-scale training-data
  * pipelines. All paths are built from codegen'd built-ins (split /
  * transform / xxhash64 / array_* / joins) so Catalyst sees the whole
  * plan; nothing is a black-box UDF.
  *
  * Scale design (100 TB): the only quadratic danger is pair
  * generation. Exact-hash dedup is a hash aggregate (linear, map-side
  * combined). MinHash-LSH generates candidate pairs only within
  * LSH-band buckets (equi-join on band hash — shuffles by band key,
  * skew-salted if a bucket explodes). The shingle-join exact-Jaccard
  * path joins on a common shingle, which restricts pairs to documents
  * sharing at least one shingle. Verification is per-candidate-pair,
  * linear in candidates.
  */
object Dedup {

  /** Tokens column: whitespace split. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct n-word shingles of a token array (1-based element_at).
    * Declarative formulation — kept as executable documentation; the
    * operators below use the native single-pass NGramShingles
    * expression (`shinglesOf`), which avoids the per-lambda-element
    * re-evaluation of the split() child (~3n splits/row). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Native one-pass shingles from raw text (same semantics). */
  def shinglesOf(text: Column, n: Int): Column =
    graft.GraftFunctions.shingles(text, n)

  /** Exact duplicate groups by content hash (md5 — matches the SQL
    * oracle byte-for-byte). One row per distinct text: keeper id (min)
    * + copy count. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-duplicate pairs via common-shingle
    * equi-join (never a cross join): docs sharing no shingle are never
    * paired. Output (doc_a, doc_b, jaccard) with jaccard >= threshold.
    */
  def ngramJaccard(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = Spread.cpu(docs) // see minhashLsh (r21)
      .select(col(idCol).as("doc_id"),
        explode(shinglesOf(col(textCol), n)).as("sh"))
      .cache() // consumed 3× (sizes + both join sides)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard with PREFIX FILTERING (AllPairs/PPJoin): for
    * threshold t, any two shingle sets with J >= t must share a
    * shingle within the first |S| - ceil(t*|S|) + 1 elements of a
    * common global ordering (rarest shingle first). Candidates
    * therefore come from an equi-join on PREFIX shingles only — on a
    * corpus with frequent shingles this shrinks the candidate pair
    * stream by orders of magnitude versus joining on every common
    * shingle, while staying EXACT (same output as `ngramJaccard`,
    * asserted in PipelineSpec). The verify step re-scores candidates
    * against the full shingle sets. This is the 100-TB path: the only
    * quadratic-ish stage is bounded by prefix-bucket sizes, and the
    * rarest-first order makes hot buckets the rarest shingles. */
  def ngramJaccardPrefix(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = Spread.cpu(docs) // see minhashLsh (r21)
      .select(col(idCol).as("doc_id"),
        explode(shinglesOf(col(textCol), n)).as("sh"))
      .cache() // frequency count + prefix build + verify sets
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("f"))
    // per-doc shingle list in global (f, sh) order + full set size
    val ordered = sh.join(freq, "sh")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("f"), col("sh")))).as("os"),
        count(lit(1)).as("n_sh"))
    // prefix length |S| - ceil(t|S|) + 1. The 1e-9 guard keeps an
    // exact-integer product from rounding UP in floating point (e.g.
    // fl(0.07)*100 = 7.000000000000001 → ceil 8, one prefix element
    // too short, silently dropping a pair at exactly J = t).
    val prefLen = (col("n_sh") -
      ceil(col("n_sh") * threshold - lit(1e-9)) + 1).cast("int")
    val pref = ordered
      .select(col("doc_id"), prefLen.as("pl"), col("os"))
      .select(col("doc_id"),
        explode(slice(col("os"), lit(1), col("pl"))).as("p"))
      .select(col("doc_id"), col("p.sh").as("sh"))
    val candidates = pref.as("a")
      .join(pref.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify against full sets (same arithmetic as ngramJaccard)
    val shSets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("shs"))
    candidates
      .join(shSets.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        "doc_a")
      .join(shSets.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        "doc_b")
      .withColumn("inter", // fused count (r21) — identical to
        // size(array_intersect(..)), no intersection-array build
        GraftFunctions.intersectCount(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Stats-adaptive exact n-gram Jaccard: same output as `ngramJaccard`
    * / `ngramJaccardPrefix` (both are exact), choosing the lowering
    * from corpus statistics. The plain common-shingle join emits
    * Σ_s f(s)·(f(s)−1)/2 pair rows (f = docs containing shingle s) —
    * skinny rows, counted by a hash aggregate, never carrying shingle
    * arrays. The prefix path prunes candidates but its verify join
    * carries both full shingle arrays per candidate. When the join
    * volume is modest (uniform shingle frequencies — this corpus:
    * 1.27 M pairs from 5 000 docs), plain wins outright; when a few
    * hot shingles push the join volume past `maxPlainPairs` (the
    * 100-TB regime, where f² explodes), prefix filtering is the only
    * viable shape. One cheap stats pass (a count-distinct-size
    * aggregate over the shingle table) makes the choice. */
  def ngramJaccardAuto(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxPlainPairs: Long = 200000000L): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shinglesOf(col(textCol), n)).as("sh"))
    val joinPairs = sh.groupBy(col("sh")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * (col("f") - 1) / 2).cast("long"))
      .head().getLong(0)
    if (joinPairs <= maxPlainPairs) ngramJaccard(docs, n, threshold, idCol, textCol)
    else ngramJaccardPrefix(docs, n, threshold, idCol, textCol)
  }

  /** MinHash signature via the native expression: one xxhash64 per
    * shingle + a universal-hash family (k multiply-adds) — ~100×
    * cheaper than k string hashes per shingle at equal LSH quality. */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    GraftFunctions.minHash(sh, numHashes)

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    *
    * bands×rowsPerBand = numHashes. Candidate pairs come from equal
    * band hashes only; each candidate is then verified against the
    * exact shingle-set Jaccard so the output matches the brute-force
    * oracle (the LSH miss probability at j >= threshold is
    * (1-t^r)^b ≈ 1e-8 for the default 64×2 at t=0.5).
    */
  def minhashLsh(docs: DataFrame, shingleN: Int, threshold: Double,
      numHashes: Int = 128, bands: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      bandGroups: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val groups = resolveBandGroups(docs, bands, bandGroups)
    // NO Spread.cpu here (r21, measured): the sub-split doc scan does
    // serialize the shingle/signature cache builds on one task, but an
    // interleaved A/B showed the spread DOUBLES summed task time
    // (35 s → 70 s: exchange + 32-way columnar cache builders + task
    // overhead on 1778 vs 1435 tasks) for flat-to-worse wall
    // (6.3 → 6.6 s median) — the serial cache builds are not the
    // critical path; the AQE job chain is.
    val shingled = docs.select(col(idCol).as("doc_id"),
      shinglesOf(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    if (groups <= 1) {
      // .cache() is load-bearing: without it, CollapseProject inlines
      // the 128-hash signature expression into every band slice (64×)
      // and the self-join recomputes it again — observed 87s→2s at
      // sf0.01. At 100 TB the signature table is persisted parquet for
      // the same reason (compute once, shuffle only 8·numHashes
      // bytes/doc).
      val withSh = shingled.cache()
      // (doc_id, sig) ONLY — caching the signature next to the shingle
      // array (withColumn) would hold the wide `sh` twice and at 10M+
      // docs the duplicate spills past this host's disk; the verify
      // join reads `sh` from the withSh cache
      val sig = withSh
        .select(col("doc_id"),
          minhashSignature(col("sh"), numHashes).as("sig"))
        .cache()
      bandCollapseVerify(withSh, sig, threshold, numHashes, bands, 1)
    } else {
      // LOW-DISK mode (bandGroups > 1): the corpus-wide shingle cache
      // is the single biggest disk tenant at 10M+ docs (wide arrays,
      // MEMORY_AND_DISK spill) and the verify step only ever reads the
      // COLLIDING docs' arrays — so it is not built at all. The verify
      // semi-join receives the LAZY shingle projection: candidate ids
      // broadcast into it, shingles are recomputed narrowly per row
      // and non-colliding docs' arrays never exist off-CPU. Only the
      // compact signature relation is cached (and candidatesSliced
      // drops even that once the rep relation is materialized).
      val sig = shingled
        .select(col("doc_id"),
          minhashSignature(col("sh"), numHashes).as("sig"))
        .cache()
      bandCollapseVerify(shingled, sig, threshold, numHashes, bands,
        groups)
    }
  }

  /** STATS-ADAPTIVE plan choice for the LSH banding (the
    * `ngramJaccardAdaptive` pattern): `requested = 0` (the default)
    * resolves the mode from the corpus size — one column-pruned count
    * of the doc relation, trivial next to the LSH itself. Past
    * `graft.lsh.autoSliceBandedRows` banded rows (docs × bands — the
    * size of the candidate shuffle, default 64M ≈ 1M docs at 64
    * bands) the band-sliced low-disk mode is chosen with
    * `graft.lsh.autoSliceGroups` slices (default 4 — the measured
    * sweet spot at both the 2M and 20M scale points: equal-or-faster
    * wall clock and the only mode whose temp-disk peak stays inside
    * an 80 GB budget at 20M). Below the threshold the one-pass mode
    * (corpus-wide shingle cache, AQE-replanned verify) wins on fixed
    * overhead. An explicit `requested >= 1` bypasses the count and
    * forces that mode — the oracle pack pins 1 vs 3 vs 4 equal. */
  private[graft] def resolveBandGroups(docs: DataFrame, bands: Int,
      requested: Int): Int = {
    require(requested >= 0, "bandGroups must be >= 0 (0 = auto)")
    if (requested > 0) requested
    else {
      val conf = docs.sparkSession.conf
      val thresholdRows =
        conf.get("graft.lsh.autoSliceBandedRows", "64000000").toLong
      val sliceGroups = conf.get("graft.lsh.autoSliceGroups", "4").toInt
      val n = docs.count()
      if (n * bands >= thresholdRows) math.max(2, sliceGroups) else 1
    }
  }

  /** The persistable (doc_id, sig) signature relation — at 100 TB this
    * is written to parquet ONCE (compute-heavy: shingling + numHashes
    * permutation mins per doc) and banded/re-banded from disk as
    * thresholds change. Reading it back yields array<bigint> with
    * nullable elements; LshBandHashes accepts that at analysis and
    * fails loudly on an actual null slot. */
  def signatureTable(docs: DataFrame, shingleN: Int,
      numHashes: Int = 128, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      shinglesOf(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig"))

  /** MinHash-LSH near-dup pairs from a PRECOMPUTED signature relation
    * (typically `signatureTable` persisted to parquet) — band off the
    * stored signatures, verify with exact jaccard over shingles
    * recomputed from `docs`. Output is identical to `minhashLsh` on
    * the same corpus and parameters (asserted in PipelineSpec). */
  def minhashLshFromSignatures(docs: DataFrame, sigs: DataFrame,
      shingleN: Int, threshold: Double,
      numHashes: Int = 128, bands: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      bandGroups: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val groups = resolveBandGroups(docs, bands, bandGroups)
    val withSh = docs.select(col(idCol).as("doc_id"),
      shinglesOf(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()
    bandCollapseVerify(withSh,
      sigs.select(col("doc_id"), col("sig")), threshold, numHashes, bands,
      groups)
  }

  /** (rep, members) identical-signature groups — EXACT, with the hot
    * path on 8-byte keys: docs first group on xxhash64(sig) (only the
    * hash shuffles per doc, not the 8·numHashes-byte signature); a
    * singleton hash group is trivially an exact signature group, and
    * only the multi-member hash groups — the only place a hash
    * collision could merge two DIFFERENT signatures and silently lose
    * the unrepresented one's band collisions (a miss the exact verify
    * cannot repair; it only filters) — are regrouped by the FULL
    * signature. The wide keys travel a second time only for that
    * colliding sliver (the duplicate share of the corpus; near zero
    * on a mostly-unique one). */
  private[graft] def sigCollapseGroups(sig: DataFrame): DataFrame = {
    val hashGroups = sig
      .select(col("doc_id"), xxhash64(col("sig")).as("_hk"))
      .groupBy(col("_hk"))
      .agg(array_sort(collect_list(col("doc_id"))).as("members"))
    val single = hashGroups.filter(size(col("members")) === 1)
      .select(element_at(col("members"), 1).as("rep"), col("members"))
    val multiIds = hashGroups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("doc_id"))
    val multiExact = sig.join(multiIds, Seq("doc_id"), "left_semi")
      .groupBy(col("sig"))
      .agg(array_sort(collect_list(col("doc_id"))).as("members"))
      .select(element_at(col("members"), 1).as("rep"), col("members"))
    single.unionByName(multiExact)
  }

  /** Shared tail of both LSH entry points: identical-signature
    * collapse -> banding over representatives -> candidate expansion
    * -> diet-joined exact-jaccard verification. */
  private def bandCollapseVerify(withSh: DataFrame, sig: DataFrame,
      threshold: Double, numHashes: Int, bands: Int,
      bandGroups: Int): DataFrame = {
    require(bandGroups >= 1, "bandGroups must be >= 1")
    // IDENTICAL-SIGNATURE COLLAPSE: docs with equal signatures band
    // identically (every band hash is a function of the signature
    // alone), so band ONE representative per signature group and
    // expand members back over the rep pair relation afterwards. On a
    // dup-heavy corpus this is the big candidate-stage lever — an
    // exact-copy pair otherwise surfaces from ALL `bands` buckets
    // before distinct (64 identical pair rows per copy at the
    // defaults), and real pretraining corpora are dup-heavy by nature
    // (10% planted here; the reference scenario for exact dedup).
    // The expanded candidate set is provably the banded-collision set:
    // sig(a)=sig(rep) means a collides exactly where rep does, and
    // within-group pairs collide in every band by construction.
    val groups = sigCollapseGroups(sig)
      .cache() // consumed by rep selection + both expansion joins
    val reps = sig.join(
      groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val repCands =
      if (bandGroups <= 1) candidatesOf(bandHashes(reps, numHashes, bands))
      else candidatesSliced(reps, sig, numHashes, bands, bandGroups)
    // expansion: cross-group pairs (members_a x members_b, ordered) +
    // within-group pairs (identical sigs collide in every band)
    val cross = repCands
      .join(groups.select(col("rep").as("doc_a"),
        col("members").as("ms_a")), "doc_a")
      .join(groups.select(col("rep").as("doc_b"),
        col("members").as("ms_b")), "doc_b")
      .select(explode(col("ms_a")).as("a"), col("ms_b"))
      .select(col("a"), explode(col("ms_b")).as("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
    val within = groups.filter(size(col("members")) > 1)
      .select(col("members").as("ids"))
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    // no distinct needed: rep pairs are distinct, expansion of
    // disjoint groups cannot repeat a pair, and within-group pairs
    // never coincide with cross-group ones
    // cached: consumed twice below (id extraction + the verify join) —
    // without it the whole candidate pipeline runs twice
    val candidates = cross.unionByName(within).cache()
    // verify-join DIET: only docs that appear in some candidate pair
    // need their shingle arrays in the verify join. Semi-joining the
    // array relation down to candidate ids FIRST means the (wide)
    // shingle arrays of never-colliding docs — the overwhelming
    // majority of a mostly-unique corpus — are never shuffled; AQE
    // broadcasts the candidate-id list when it is small. Measured at
    // the 2M planted-dup corpus: the arrays entering the verify
    // shuffle drop from 2×2M to the ~0.6M colliding docs.
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    // low-disk mode pins the diet's physical shape: the id list is
    // BROADCAST (ids are 8 bytes — even 20M colliding docs are a
    // ~160 MB build side) so the corpus-sized shingle relation is
    // filtered in place with NO shuffle, and the dieted result is
    // CACHED because both pair sides consume it — left to AQE at 20M,
    // the estimator picked a sort-merge semi-join that shuffled the
    // recomputed 20M-doc array relation TWICE and overflowed the
    // host's disk in sort spills
    val candIdsSide =
      if (bandGroups > 1) broadcast(candIds) else candIds
    val shSetsBase = withSh.select(col("doc_id"), col("sh"))
      .join(candIdsSide, Seq("doc_id"), "left_semi")
    // the cache is LOW-DISK-MODE-ONLY: wrapping the semi-join in an
    // InMemoryRelation hides it from AQE's runtime re-plan, and in
    // the default mode that forfeits the runtime broadcast of the
    // candidate-id list (measured 4x on the 2M verify stage). In
    // low-disk mode the broadcast is already pinned by hint, and the
    // cache stops the uncached lazy shingle projection from being
    // recomputed for both pair sides.
    val shSets =
      if (bandGroups > 1) shSetsBase.cache() else shSetsBase
    candidates
      .join(shSets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shSets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", // fused count (r21) — identical to
        // size(array_intersect(..)), no intersection-array build
        GraftFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** BAND-SLICED candidate generation — the TEMP-SPACE-BOUNDED mode
    * for corpora where one shuffle of the full banded relation
    * (docs × bands rows) exceeds local shuffle disk (observed: 20M
    * docs × 64 bands overflowed a 79 GB budget). Bands are processed
    * in `groups` slices; each slice's bucket shuffle is its own JOB
    * whose (1/groups-sized) shuffle files become unreferenced once
    * the slice's pairs are parked in a temp parquet, so the context
    * cleaner reclaims them before the next slice runs. The union of
    * slice pair sets, deduped, IS the full candidate set — a pair
    * sharing a band in slice g surfaces from slice g, and
    * `candidatesOf`'s semantics are per-band to begin with. Cost:
    * `groups` passes over the (cached) signature relation instead of
    * one — the classic space-for-scans trade, chosen past the auto
    * threshold or when the caller asks (`bandGroups > 1`).
    *
    * SCRATCH STORAGE: slice pair sets park under `graft.lsh.scratch`
    * (a Spark conf), resolved through the Hadoop FileSystem — on a
    * multi-node cluster this MUST point at shared storage (HDFS/S3):
    * executors write their partitions there and the driver-side
    * read-back must see all of them. The default (the JVM temp dir)
    * is correct only in local mode, where this mode was measured. The
    * parked sets are deleted before returning — the deduped candidate
    * relation is localCheckpointed first, so the returned DataFrame
    * does not depend on the scratch files. */
  private def candidatesSliced(reps: DataFrame, sig: DataFrame,
      numHashes: Int, bands: Int, groups: Int): DataFrame = {
    val spark = reps.sparkSession
    val scratchRoot = spark.conf.get("graft.lsh.scratch",
      System.getProperty("java.io.tmpdir"))
    val tmpPath = new org.apache.hadoop.fs.Path(scratchRoot,
      s"graft_lsh_slices_${java.util.UUID.randomUUID.toString.take(12)}")
    val fs = tmpPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // FAIL FAST on the silent-under-dedup trap: with a file:// scratch
    // on a multi-node master, executors write slice partitions to
    // their OWN local disks and the driver-side read-back silently
    // misses them — dropped candidate pairs, not an error. Band
    // slicing auto-enables past the banded-row threshold, so a large
    // cluster can reach this path without ever opting in.
    val master = spark.sparkContext.master
    if (fs.getScheme == "file" && !master.startsWith("local"))
      throw new IllegalStateException(
        s"graft.lsh.scratch resolves to the local filesystem " +
          s"('$scratchRoot') but the master is '$master' — executors " +
          "would park slice pair sets on their own disks and the " +
          "read-back would silently drop candidates. Set " +
          "graft.lsh.scratch to shared storage (HDFS/S3) or force " +
          "bandGroups = 1.")
    val tmp = tmpPath.toString
    // materialize the rep relation ONCE: each slice then reads cached
    // blocks instead of re-running the sig ⋈ groups semi-join shuffle
    // per slice, and the (equally large) upstream signature cache is
    // dropped immediately — at any moment only ONE signature-sized
    // store lives on disk, the low-disk invariant of this mode
    val repsC = reps.cache()
    repsC.count()
    sig.unpersist(blocking = true) // reclaim before the slices shuffle
    val perGroup = math.ceil(bands.toDouble / groups).toInt
    (0 until groups).foreach { g =>
      val lo = g * perGroup
      val hi = math.min(bands, lo + perGroup)
      if (lo < hi) {
        candidatesOf(
          bandHashes(repsC, numHashes, bands)
            .filter(col("band") >= lo && col("band") < hi))
          .write.mode("append").parquet(tmp)
        // let the context cleaner drop this slice's now-unreferenced
        // shuffle files before the next slice shuffles its own
        System.gc()
      }
    }
    repsC.unpersist(blocking = true) // reclaim before the verify joins
    // cross-slice dedup: a pair colliding in several slices appears in
    // each of their parked sets exactly once. localCheckpoint (eager)
    // severs the result from the scratch files so they can be deleted
    // NOW instead of leaking — the checkpointed pair relation (16 B a
    // row) is orders smaller than the shingle/signature stores this
    // mode exists to bound.
    try spark.read.parquet(tmp).distinct().localCheckpoint()
    finally fs.delete(tmpPath, true)
  }

  /** LSH band hashes of a signature table (`doc_id`, `sig`): one
    * (doc_id, band, band_hash) row per band — the banding shared by
    * the batch candidate join and the streaming bucket state. */
  def bandHashes(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // native single-pass banding; byte-identical to the interpreted
    // xxhash64(slice(sig, b*r+1, r), b) formulation it replaced
    // (pinned in HashPropertySpec), ~10x cheaper per doc
    sig.select(col("doc_id"),
      posexplode(graft.GraftFunctions.lshBands(col("sig"), bands))
        .as(Seq("band", "band_hash")))
  }

  /** Distinct (doc_a < doc_b) pairs sharing at least one band — the
    * single definition of the LSH candidate condition, used by every
    * verified batch path.
    * Singleton buckets (the overwhelming majority: docs×bands rows,
    * almost all unique hashes) can never produce a pair, so they are
    * pruned with one map-side-combined count BEFORE the self-join —
    * at 2M docs this cuts the join's shuffle from 128M band rows per
    * side to only the colliding ones. Pair semantics are identical. */
  private[graft] def candidatesOf(banded: DataFrame): DataFrame = {
    // ONE shuffle of the banded relation (numHashes rows/doc): bucket
    // membership via groupBy + collect_list — singleton buckets (the
    // overwhelming majority) die inside the same shuffle for free —
    // then the sorted within-bucket (a < b) pairs, deduped across
    // bands. This replaced a hot-bucket prefilter + bucket-keyed
    // self-join that shuffled the banded rows three times (hot
    // aggregate, prune join, self-join); measured at the 2M planted
    // corpus the candidate stage dropped 69s -> 45s with a
    // bit-identical pair set. Per-bucket work is quadratic in bucket
    // size for BOTH formulations (every colliding pair must surface —
    // the exactness contract of the verify step); at 100 TB the
    // bucket-size distribution is the dial, set by `bands` and the
    // band width r = numHashes/bands.
    //
    // The bucket key is band_hash ALONE (band projected away before
    // the shuffle — ~20% fewer bytes): LshBandHashes seeds each
    // band's hash with the band index, so a cross-band key collision
    // is a 2^-64 event, and even then it only MERGES two buckets —
    // a superset of candidate pairs that the exact-jaccard verify
    // step is contracted to kill. Misses remain impossible.
    banded.select(col("band_hash"), col("doc_id"))
      .groupBy(col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** All (doc_a < doc_b) pairs of an ascending-sorted id array as an
    * array of structs — the shared in-bucket pair emission. Caller
    * must guarantee size >= 2 (sequence() would run DESCENDING on a
    * singleton's 0..-1 bound). */
  private[graft] def pairsOfSorted(ids: Column): Column = {
    val s = size(ids)
    flatten(transform(
      sequence(lit(0), s - 2),
      i => transform(
        slice(ids, i + 2, s - i - 1),
        b => struct(element_at(ids, (i + 1).cast("int")).as("doc_a"),
          b.as("doc_b")))))
  }

  /** SimHash 64-bit fingerprints (native expression, §2.10). */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      GraftFunctions.simHash(tokens(col(textCol))).as("simhash"))

  /** Portable 60-bit SimHash over distinct whitespace tokens: token
    * hash = first 15 hex chars of md5 (identical in every engine —
    * unlike seeded xxhash — so a SQL oracle reproduces the fingerprint
    * bit-for-bit; 15 chars keep the value < 2^60, positive in a signed
    * 64-bit integer everywhere, so no sign-extension games); bit b is
    * set iff the ±1 majority vote over token hashes' bit b is
    * positive. Relational map-reduce formulation: each token yields a
    * ±1 vote vector over the 60 bit positions; the element-wise
    * VectorSum aggregate (map-side partial) reduces them to one
    * 60-long tally per doc — one shuffle row per (doc × partition)
    * instead of tokens×60 exploded rows. Vote sums are small integers,
    * exact in the double accumulator, so the bits match the oracle's
    * integer arithmetic. The native one-pass SimHash64 expression
    * above is the hot-path variant; this one trades a constant factor
    * for engine-portability of the exact bits. */
  val portableBits = 60

  def simhashPortable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Spread.cpu (r21): the explode + dict-join + 60-bit-sum PARTIAL
    // aggregate are one narrow stage over the doc scan — single-task
    // on a sub-split file (profiled 1.0 s at sf0.1); identity at scale
    val toks = Spread.cpu(docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    // TOKEN DICTIONARY: md5+conv once per distinct token corpus-wide,
    // joined back to occurrences — identical bits to hashing in place
    // (same function of the same token), but the expensive md5/conv
    // work drops from Σ tokens-per-doc to |vocabulary|. The broadcast
    // hint fits any real vocabulary (even 10^8 tokens × 16 B is
    // executor-memory scale); AQE would pick a shuffle join past that.
    val dict = toks.select(col("tok")).distinct()
      .select(col("tok"),
        GraftFunctions.md5Prefix(col("tok"), 15).as("hv"))
    val h = toks.join(broadcast(dict), "tok").select(col("doc_id"), col("hv"))
    // Per-bit ±1 vote sums, flattened to 60 integer sum() aggregates in
    // ONE codegen'd HashAggregate (vote_b = 2·ones_b − n > 0  ⟺
    // 2·ones_b > n — same sign as the oracle's ±1 sum, all-integer, so
    // the bits match exactly). This replaces the earlier 60-float vote
    // array through the imperative VectorSum aggregate, which fell out
    // of whole-stage codegen and — cached — tripped a pathological
    // ~40 s build stall on this host.
    val bitSums = (0 until portableBits).map(b =>
      sum(shiftright(col("hv"), b).bitwiseAND(lit(1L))).as(s"_b$b"))
    h.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("_n"), bitSums: _*)
      .select(col("doc_id"),
        (0 until portableBits).map(b =>
          when(col(s"_b$b") * 2 > col("_n"), shiftleft(lit(1L), b))
            .otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** Near-dup pairs on the portable 60-bit SimHash, pigeonhole-banded
    * into 4×15-bit chunks: any pair within Hamming distance 3 shares an
    * identical chunk, so with maxHamming <= 3 the banded result EQUALS
    * the brute-force pair set (exact, oracle-checkable) while the join
    * stays an equi-join on (chunk_idx, chunk) — never all-pairs. */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk pigeonhole is only exact for maxHamming <= 3")
    // localCheckpoint, not .cache(): both join sides read ONE
    // materialized signature table (8+8 bytes/doc), and the row-level
    // block write sidesteps the InMemoryRelation columnar-build stall
    // this host exhibits on aggregate-topped cached plans (~40 s for a
    // 1.7 s plan). At 100 TB persist the signature table to parquet.
    val sigs = simhashPortable(docs, idCol, textCol)
      .localCheckpoint(eager = true)
    pigeonholePairs(sigs,
      (0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(lit(0x7fffL))),
      (a, b) => bit_count(a.bitwiseXOR(b)).cast("long"), maxHamming,
      guard = docs)
  }

  /** Pigeonhole-banded hamming pairs over a (doc_id, simhash)
    * relation: equi-join on (chunk_idx, chunk), exact hamming
    * computed and filtered inside the join's codegen stage BEFORE the
    * distinct shuffle.
    *
    * Deliberately a JOIN, not the bucket-list (groupBy+collect_list)
    * shape the LSH candidatesOf uses: 15/16-bit chunk values are a
    * DENSE key space (~n/2^16 docs per bucket — hundreds at 20M), so
    * pair volume is inherently large and the per-pair cost dominates;
    * the codegen'd sort-merge join + whole-stage hamming filter
    * processes those pairs ~3x faster than the allocation-heavy
    * array-expression emission (measured at 20M: 102s join vs 329s
    * bucket-list, identical pairs). LSH is the opposite regime —
    * band-seeded 64-bit hashes make buckets mostly singletons, so the
    * shuffle COUNT dominates and the one-pass bucket list wins. */
  private def pigeonholePairs(sigs: DataFrame, chunks: Seq[Column],
      hamming: (Column, Column) => Column, maxHamming: Int,
      guard: DataFrame): DataFrame = {
    // Spread.cpu by key (r21): hash-partition the chunked relation by the
    // JOIN KEYS so the self-join reuses the partitioning — without it
    // a sub-split signature table collapses (AQE-coalesced) to ONE
    // task for the whole pair emission + hamming filter + distinct
    // (profiled 0.76 s single-task at sf0.1, 271 K pair rows out).
    // Key-hash placement cannot change an equi-join's row set;
    // identity at scale by the guard.
    val chunked = Spread.cpu(
      sigs.select(col("doc_id"), col("simhash"),
        posexplode(array(chunks: _*)).as(Seq("chunk_idx", "chunk"))),
      guard, col("chunk_idx"), col("chunk"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming) // shrink before the distinct
      .distinct()
  }

  /** SimHash near-dup pairs: pigeonhole-banded (4×16-bit chunks — any
    * pair within Hamming distance 3 shares an identical chunk), then
    * verified with the exact 64-bit Hamming distance. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    pigeonholePairs(simhashSignatures(docs, idCol, textCol),
      (0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))),
      (a, b) => GraftFunctions.hamming64(a, b), maxHamming,
      guard = docs)

  /** Embedding-cosine near-duplicate: top-N most similar vector pairs.
    * Exact all-pairs here (fine to ~10^4 rows / partition-streamed);
    * `embeddingNearPairsBucketed` is the 100-TB path. */
  def embeddingTopPairs(vecs: DataFrame, topN: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Spread.cpu (r21): the whole all-pairs cosine kernel is ONE
    // broadcast-nested-loop task when the data side is sub-split
    // (profiled 2.5-3.0 s single-task at sf0.1). The top-N cut is a
    // (cos desc, id_a, id_b) total order — placement-free.
    val a = Spread.cpu(vecs)
      .select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosine(col("v_a"), col("v_b")).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(topN)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Embedding near-dup pairs at scale: bucket by nearest IVF centroid
    * (narrow NearestCentroid assignment — near-duplicate vectors land
    * in the same cell), score pairs only WITHIN a cell via a
    * self-equi-join on cid, keep pairs above the cosine threshold.
    * Quadratic work is bounded per cell instead of per corpus; recall
    * loss is only for near-dup pairs straddling a cell boundary (add
    * `nprobe`-style multi-assign for those — same plumbing). */
  def embeddingNearPairsBucketed(vecs: DataFrame, centroids: DataFrame,
      threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = AnnIvf.index(vecs, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cid"))
    pairsWithinCells(bucketed, threshold, idCol, vecCol)
  }

  /** Multi-probe variant: each vector is assigned to its `nassign`
    * nearest cells (NearestCells — the same narrow expression the
    * search probes use), so a near-dup pair straddling a cell boundary
    * still shares at least one cell with high probability. Work grows
    * ~nassign^2/C per pair candidate; distinct() dedupes pairs found
    * in several shared cells. Single-assign (nassign=1) is exactly
    * `embeddingNearPairsBucketed`. */
  def embeddingNearPairsMultiProbe(vecs: DataFrame, centroids: DataFrame,
      threshold: Double, nassign: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val matrix = AnnIvf.collectCentroids(centroids)
    val bucketed = vecs.select(col(idCol), col(vecCol),
      explode(GraftFunctions.nearestCells(col(vecCol), matrix, nassign))
        .as("cid"))
    pairsWithinCells(bucketed, threshold, idCol, vecCol)
      .distinct()
  }

  private def pairsWithinCells(bucketed: DataFrame, threshold: Double,
      idCol: String, vecCol: String): DataFrame = {
    // Spread.cpu (r21): sub-split cell assignment makes the in-cell
    // cosine join ONE task (profiled 0.7-0.8 s at sf0.1); the b side
    // broadcasts at exactly these sizes, so the spread a side keeps
    // its parallelism. Threshold filters are placement-free.
    val a = Spread.cpu(bucketed).select(col("cid"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = bucketed.select(col("cid"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round a node takes the min of its label and its neighbors'
    * labels; at the fixpoint every component carries its minimum
    * member id. Convergence is O(component diameter) rounds — dup
    * clusters are near-cliques (a near-dup of a near-dup is usually a
    * near-dup), so diameters stay in the single digits even when
    * components are huge.
    *
    * Scale design (100 TB): the edge list and the label state are
    * hash-partitioned by id ONCE; every per-round join is then narrow
    * (co-partitioned), so the only data moved per round is the
    * map-side-combined (id, min candidate label) update stream —
    * the edge list itself is never re-shuffled. Never an all-pairs
    * product; state is one (id, label) row per node. The driver-side
    * loop only issues rounds and checks the converged count; no data
    * is collected. The loop runs on the RDD API deliberately: every
    * round localCheckpoints the new label snapshot (truncating
    * lineage so round N never re-derives rounds 1..N-1) and then
    * UNPERSISTS the superseded one, so block-manager state is two
    * snapshots + the edge list, regardless of round count — a
    * DataFrame localCheckpoint loop cannot release its superseded
    * snapshots.
    *
    * nodes: one column `id` (long). edges: columns `src`, `dst`
    * (long, undirected — one row per pair suffices). Edge endpoints
    * that are not in `nodes` still propagate labels (they can bridge
    * two components, exactly as if they were nodes) but are dropped
    * from the output: the result has one (id, label = min component
    * member id) row per `nodes` row, always.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIterations: Int = 50,
      localEdgeBudget: Long = 2L * 1000 * 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = nodes.sparkSession
    import spark.implicits._
    // materialize the (possibly expensive) edge derivation ONCE — the
    // propagation loop consumes `sym` every round, and without this a
    // pair join feeding `edges` would re-execute per round. Everything
    // is hash-partitioned by id up front: the per-round edge-side join
    // and the convergence-check join are then NARROW (co-partitioned)
    // — the edge list is shuffled exactly once for the whole run, and
    // each round moves only the propagated (id, label) updates.
    val part = new org.apache.spark.HashPartitioner(
      spark.sessionState.conf.numShufflePartitions)
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // COST-BASED LOWERING: near-dup pair
    // relations are usually a sliver of the corpus — when the edge
    // list fits a driver budget (~32 MB at the 2M default), a
    // path-compressed union-find over the already-materialized edges
    // computes the exact same min-label fixpoint in one pass, and
    // only the bounded (touched-id -> label) map is broadcast back;
    // `nodes` itself is never collected. The iterative loop remains
    // the path for edge sets past the budget. Label semantics are
    // identical by construction: unions always attach the larger
    // root under the smaller, so every root is its component's min.
    if (sym.count() / 2 <= localEdgeBudget) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (parent.getOrElse(cur, cur) != cur) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      val es = sym.collect()
      sym.unpersist(blocking = false)
      es.foreach { case (s, d) =>
        val rs = find(s); val rd = find(d)
        if (rs != rd) {
          if (rs < rd) parent(rd) = rs else parent(rs) = rd
        }
      }
      val touched = new scala.collection.mutable.LongMap[Long](es.length)
      es.foreach { case (s, d) =>
        if (!touched.contains(s)) touched(s) = find(s)
        if (!touched.contains(d)) touched(d) = find(d)
      }
      val labelDf = spark.createDataset(
        touched.iterator.map { case (id, l) => (id, l) }.toSeq)
        .toDF("id", "lbl")
      return nodes.select(col("id").cast("long").as("id"))
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("lbl"), col("id")).as("label"))
    }
    val nodeIds = nodes.select(col("id").cast("long")).as[Long].rdd
      .map(id => (id, id)).partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed: own id, or min neighbor id if smaller (sym IS (id,
    // candidate-label) pairs — one free propagation half-round)
    val seed = sym.union(nodeIds).reduceByKey(part, math.min(_, _))
    seed.localCheckpoint()
    var labels: org.apache.spark.rdd.RDD[(Long, Long)] = seed
    // the localCheckpointed RDD backing the live `labels` view
    var snapshot: org.apache.spark.rdd.RDD[_] = seed
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // candidate labels via one hop, combined map-side; the ONLY
      // per-round shuffle, and it carries updates, not edges
      val updates = sym.join(labels) // narrow: both partitioned by `part`
        .map { case (_, (dst, label)) => (dst, label) }
        .reduceByKey(part, math.min(_, _))
      // merge + convergence flag in one narrow co-partitioned pass
      val merged = labels.leftOuterJoin(updates)
        .mapValues { case (o, u) =>
          val n = u.fold(o)(math.min(o, _)); (n, n < o) }
      merged.localCheckpoint()
      // the count materializes `merged` (while `labels` is still
      // live), after which the previous snapshot has no referents
      val changed = merged.filter(_._2._2).count()
      snapshot.unpersist(blocking = false)
      snapshot = merged
      labels = merged.mapValues(_._1)
      converged = changed == 0
      iter += 1
    }
    sym.unpersist(blocking = false)
    require(converged,
      s"connectedComponents: no fixpoint after $maxIterations rounds")
    // restrict to `nodes` (propagation may have touched edge-only ids)
    val out = labels.join(nodeIds).mapValues(_._1)
    val result = out.toDF("id", "label")
    result.cache().count() // materialize before releasing the snapshots
    snapshot.unpersist(blocking = false)
    nodeIds.unpersist(blocking = false)
    result
  }

  /** Near-duplicate CLUSTERS over an ALREADY-COMPUTED near-dup pair
    * relation (columns doc_a, doc_b): the transitive closure via
    * `connectedComponents`. One row per document: (doc_id,
    * cluster_id = min doc_id of its cluster, is_canonical = 1 for the
    * cluster representative). Dropping `is_canonical = 0` rows yields
    * the deduplicated corpus — the standard keep-one-per-cluster step
    * of a training-data pipeline (the pair queries alone under-delete:
    * near-dup is not transitive, A~B, B~C with A!~C still must
    * collapse to ONE kept doc, not two). The pair relation is produced
    * once and consumed by both the pair report and the cluster
    * closure. */
  def dupClustersFromPairs(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(docs.select(col(idCol).as("id")), edges)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).cast("long").as("is_canonical"))
  }

  /** Fingerprint STORE for snapshot-incremental dedup: one row per
    * accepted document — (text_hash md5, doc_id) — parquet-appended
    * batch after batch. The store is the only state the incremental
    * pass reads; the accepted corpora themselves never re-hash.
    *
    * ORDERING CONTRACT: PERSIST (write out, or checkpoint) an
    * `incrementalExact` result BEFORE appending it here. Spark plans
    * are lazy, and appending invalidates the store's cached file
    * index, so an accepted-batch plan evaluated after the append —
    * even a cache()d one, whose cache key is the re-analyzed plan —
    * would anti-join against its own fingerprints and come back
    * empty. The natural pipeline order (write accepted docs to their
    * output table, then advance the store) satisfies this for free;
    * CorpusSpec pins the two-batch sequence. */
  def writeFingerprintStore(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    docs.select(md5(col(textCol)).as("text_hash"),
        col(idCol).cast("long").as(idCol))
      .write.mode("append").parquet(path)

  /** SNAPSHOT-INCREMENTAL exact dedup — the "daily crawl increment"
    * workflow: deduplicate a NEW batch against the persisted
    * fingerprint store of every previously-accepted document AND
    * within itself (keep-min-id per content hash), without ever
    * re-hashing the accepted corpus. Call `writeFingerprintStore` on
    * the result to advance the store; a two-batch sequence then
    * equals the one-shot dedup of the union (spec-pinned).
    *
    * Scale design (100 TB): ONE hash anti-join against the store
    * (both sides keyed on the 128-bit content hash — co-partitioned
    * shuffle, no broadcast assumption: the store is corpus-sized) and
    * one map-side-combined min_by for the in-batch collapse.
    * Output: (idCol, text_hash) of accepted docs. */
  def incrementalExact(newDocs: DataFrame, storePath: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = newDocs.sparkSession
    val store = spark.read.parquet(storePath).select(col("text_hash"))
    val hashed = newDocs.select(col(idCol).cast("long").as(idCol),
      md5(col(textCol)).as("text_hash"))
    hashed.join(store, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("text_hash"))
  }

  /** CROSS-DOCUMENT exact line dedup with FIRST-OCCURRENCE retention
    * (the line-granularity exact-substring pass of "deduplicate the
    * training set, keep one copy"): every occurrence of a line EXCEPT
    * the globally first one — (doc_id, pos) order — is removed, so
    * shared content survives in exactly one place. Contrast
    * `boilerplateRemove`, which drops frequent lines from EVERY doc
    * including the first, and `TextAnalysis.dedupUnits`, which is
    * intra-document only. `sep` = "\n" for real documents; the driver
    * query runs at token granularity (synthetic docs are single-line).
    *
    * Scale design (100 TB): the line relation explodes once; the
    * global first occurrence is ONE map-side-combined min(struct) —
    * heavy lines collapse to a single row per map partition before
    * the shuffle — and the keep decision is a hash join back on the
    * line key (co-partitioned with the aggregate's output). No
    * window, no driver state. A doc whose every line occurred earlier
    * elsewhere drops out entirely (as in boilerplateRemove).
    * Output: (idCol, textCol deduped, n_removed). */
  def crossDocLineDedup(docs: DataFrame, sep: String = "\n",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).cast("long").as(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col(idCol), col("pos"))).as("fo"))
    val kept = lines.join(firsts, "line")
      .filter(col(idCol) === col("fo")(idCol) &&
        col("pos") === col("fo")("pos"))
    kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), sep).as(textCol),
        count(lit(1)).as("n_kept"))
      .join(lines.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_total")), idCol)
      .select(col(idCol), col(textCol),
        (col("n_total") - col("n_kept")).as("n_removed"))
  }

  /** WINDOWED EXACT-SUBSTRING DEDUP (the removal counterpart of
    * `TextAnalysis.crossDocNgramCoverage`; a windowed approximation
    * of Lee et al. 2022's suffix-array substring dedup): every
    * n-token window occurring MORE THAN ONCE in the corpus (across
    * documents or within one) keeps only its globally FIRST
    * occurrence (min (doc_id, position)); token positions covered by
    * any non-keeper occurrence of a duplicated window are removed,
    * and surviving tokens reassemble in order. A document whose every
    * position is covered by non-keeper windows drops out entirely.
    * Windowed vs suffix-array: repeats shorter than n are kept (not
    * detected), repeats >= n are removed in n-aligned windows — the
    * deterministic, shuffle-friendly approximation.
    *
    * Scale design (100 TB): the gram relation (one row per window
    * position, no blowup) is shuffled by gram ONCE into a grouped
    * occurrence list — the LSH candidate-stage shape, so duplicate
    * detection, keeper pick (array_min over the (doc, pos) structs)
    * and non-keeper emission all happen inside one aggregate instead
    * of a groupBy + self-join that would compute and shuffle the
    * grams twice (measured 2x the query cost). A gram's occurrence
    * list is the same volume the join would have shuffled; a
    * corpus-boilerplate window frequent enough to overflow one task's
    * list is exactly what `boilerplateRemove` strips upstream.
    * Removed positions then fold to ONE bounded set per document
    * (<= doc length), and the cut + reassembly is expression-only
    * against that array — the token relation is never exploded or
    * shuffled. Output: (idCol, textCol deduped, n_tokens,
    * n_removed). */
  def crossDocSpanDedup(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1)
    // Spread.cpu (r20): the per-position window hash below is the
    // dominant per-row cost — a sub-split corpus scan would run it on
    // one core. Placement-independent: grams carry (doc, pos), every
    // downstream group is keyed on values.
    val base = Spread.cpu(docs).select(col(idCol).cast("long").as(idCol),
      split(col(textCol), " ").as("toks"))
    // group key = 104-bit md5 prefix of the window, NOT the window
    // text: the shuffle key is fixed-width however long the window is
    // (a 50-token dedup window would otherwise shuffle ~300 bytes per
    // position; collision odds at 2^104 are nil at any corpus size).
    // Fused Md5PrefixStr (r20) = substring(md5(x), 1, 26) byte-for-byte.
    val grams = base.where(size(col("toks")) >= n)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("toks")) - n),
          i => GraftFunctions.md5PrefixStr(
            array_join(slice(col("toks"), i + 1, lit(n)), " "), 26))))
      .select(col(idCol), col("pos").as("i"), col("col").as("gram"))
    val removed = grams
      .groupBy(col("gram"))
      .agg(collect_list(struct(col(idCol), col("i"))).as("occs"))
      .where(size(col("occs")) >= 2)
      .select(col("occs"), array_min(col("occs")).as("k"))
      .select(explode(filter(col("occs"),
        o => !(o(idCol) === col("k")(idCol) &&
          o("i") === col("k")("i")))).as("o"))
      .select(col("o")(idCol).as(idCol),
        explode(sequence(col("o")("i"), col("o")("i") + (n - 1)))
          .as("pos"))
    val removedByDoc = removed.groupBy(col(idCol))
      .agg(collect_set(col("pos")).as("rm"))
    base.join(removedByDoc, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .where(size(col("rm")) < size(col("toks"))) // fully-cut docs drop
      // surviving positions via array_except (hash-set lookup, order
      // of the left array preserved, positions are distinct) — a
      // filter + array_contains would rescan rm per position, going
      // quadratic on exactly the boilerplate-laden docs this targets
      .select(col(idCol),
        array_join(transform(
          array_except(sequence(lit(0), size(col("toks")) - 1),
            col("rm")),
          i => element_at(col("toks"), i + 1)), " ").as(textCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("rm")).cast("long").as("n_removed"))
  }

  /** KEEPER-POLICY near-dup collapse: like `dupClustersFromPairs`,
    * but each cluster keeps its BEST-QUALITY member (6dp-rounded
    * `TextAnalysis.qualityCols` score; ties → smallest id) instead of
    * the minimum id — what a production dedup actually wants: when
    * near-identical copies differ by boilerplate or truncation, keep
    * the cleanest one.
    *
    * Scale design (100 TB): components exactly as in
    * `connectedComponents` (unchanged); the keeper pick is ONE
    * map-side-combined max_by aggregate over (cluster, struct(quality,
    * -id)) — no per-cluster window, so a giant cluster costs its
    * members' partial aggregates, never one task. Membership rejoins
    * the (cluster, keeper) relation on the cluster key — both sides
    * already hash-partitioned by it after the aggregate. Output:
    * (doc_id, cluster_id, keeper_id, is_canonical). */
  def dupClustersKeepBest(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (_, quality) = TextAnalysis.qualityCols(col("toks"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = connectedComponents(docs.select(col(idCol).as("id")), edges)
    val q = docs
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.whitespaceTokens(col(textCol)).as("toks"))
      .select(col("id"), quality.as("quality"))
    val memb = comp.join(q, "id")
    val keepers = memb.groupBy(col("label"))
      .agg(max_by(col("id"), struct(col("quality"), -col("id")))
        .as("keeper_id"))
    memb.join(keepers, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("keeper_id"),
        (col("id") === col("keeper_id")).cast("long").as("is_canonical"))
  }

  /** SEMDEDUP (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, find near-duplicate pairs ONLY within each
    * cluster (cosine >= threshold), connect them into duplicate
    * groups, and keep ONE representative per group — the member
    * FARTHEST from its cluster centroid (the paper's "low similarity
    * to centroid" keeper: the most atypical copy carries the most
    * information), ties broken by min id. Singletons (no near-dup)
    * are trivially kept.
    *
    * Scale design (100 TB): identical skeleton to
    * `embeddingNearPairsBucketed` + `connectedComponents` — narrow
    * centroid assignment, per-cell bounded quadratic pair scoring,
    * hash-partitioned label propagation; the keeper pick is one
    * map-side-combined max_by over (component, struct(dist, -id)),
    * never a per-cluster window. The centroid table broadcasts into
    * the distance computation (C rows by construction). Output:
    * (vec_id, cluster_id = min component member, keeper_id, is_kept).
    *
    * MULTIPROBE IS THE DEFAULT (`nassign = 2`, r13 measurement): at
    * 5M rows / 16,384 cells, 1.64% of true near-dup pairs straddle a
    * cell boundary and are STRUCTURALLY unfindable at single
    * assignment — nassign=2 recovered 100,000/100,000 planted twins
    * vs 98,359, inside the ~nassign²/C ≈ 4× pair-work bound
    * (`BENCH_scale_r13.json` semdedup_5m). Pass `nassign = 1` to
    * trade that recall for the cheaper single-assign pass. Pair
    * candidacy uses all `nassign` cells; the keeper's
    * farthest-from-centroid distance stays defined against the
    * PRIMARY (nearest) centroid, as in the paper. */
  def semDedup(vecs: DataFrame, centroids: DataFrame, threshold: Double,
      nassign: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = AnnIvf.index(vecs, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cid"))
    val pairs =
      if (nassign <= 1) pairsWithinCells(bucketed, threshold, idCol, vecCol)
      else embeddingNearPairsMultiProbe(vecs, centroids, threshold,
        nassign, idCol, vecCol)
    val comp = connectedComponents(
      vecs.select(col(idCol).cast("long").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val dists = bucketed
      .join(broadcast(centroids.select(col("cid"), col("centroid"))),
        Seq("cid"))
      .select(col(idCol).cast("long").as("id"),
        GraftFunctions.sqDist(col(vecCol), col("centroid")).as("cdist"))
    val memb = comp.join(dists, "id")
    val keepers = memb.groupBy(col("label"))
      .agg(max_by(col("id"), struct(col("cdist"), -col("id")))
        .as("keeper_id"))
    memb.join(keepers, "label")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        col("keeper_id"),
        (col("id") === col("keeper_id")).cast("long").as("is_kept"))
  }

  /** LINE-LEVEL BOILERPLATE REMOVAL (CCNet / RefinedWeb-style): a
    * line that appears in at least `minDocs` DISTINCT documents is
    * corpus boilerplate (nav bars, cookie banners, license headers)
    * and is dropped from every document; surviving lines are
    * reassembled in their original order. `sep` is the line separator
    * ("\n" for real documents; a driver query runs at token
    * granularity with " " — same machinery, corpus-frequency token
    * filtering). A document whose every line is boilerplate drops out
    * entirely, as in CCNet. Output: (idCol, textCol cleaned,
    * n_removed) for documents with at least one surviving line.
    *
    * Scale design: repetition within one doc counts ONCE (distinct
    * (line, doc) before the count — CCNet's definition); the count is
    * a map-side-combined hash agg over the exploded line relation;
    * the heavy-hitter table (count >= minDocs) is by construction the
    * corpus's boilerplate — small — so it BROADCASTS into the
    * anti-join and the corpus-sized line relation never shuffles for
    * the filter. The only corpus-sized shuffle is the per-doc
    * reassembly groupBy. */
  def boilerplateRemove(docs: DataFrame, minDocs: Int,
      sep: String = "\n", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val heavy = lines.select(col("line"), col(idCol)).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"))
    val kept = lines.join(broadcast(heavy), Seq("line"), "left_anti")
    kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s("line")), sep).as(textCol),
        count(lit(1)).as("n_kept"))
      .join(lines.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_total")), idCol)
      .select(col(idCol), col(textCol),
        (col("n_total") - col("n_kept")).as("n_removed"))
  }

  /** Test-set DECONTAMINATION: drop (flag) every training document
    * that shares at least one n-gram shingle with any held-out test
    * document — the standard guard against benchmark leakage when a
    * training corpus and an eval set may overlap (n=5..13 word n-grams
    * in published pipelines; the shingle machinery is the same as the
    * Jaccard dedup path). Returns one row per TRAIN doc:
    * (doc_id, n_shared = distinct shingles also present in the test
    * set, contaminated = 1 if n_shared > 0).
    *
    * Scale design: the test-set shingle table is DISTINCT shingles of
    * the eval set only — eval sets are orders of magnitude smaller
    * than a 100-TB training corpus, so it broadcasts; the train side
    * streams through one broadcast-hash join + a map-side-combined
    * count. No shuffle of the training corpus at all. */
  def decontaminate(docs: DataFrame, isTest: Column, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"), isTest.as("is_test"),
      explode(shinglesOf(col(textCol), n)).as("s"))
    val testSh = sh.filter(col("is_test")).select("s").distinct()
    val hits = sh.filter(!col("is_test"))
      .join(broadcast(testSh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.filter(!isTest).select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("long")
          .as("contaminated"))
  }
}
