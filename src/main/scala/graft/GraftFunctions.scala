package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Shim.{column, expression}

import graft.functions._

/** Typed Column wrappers for the engine's native Catalyst expressions,
  * and `register` for SQL text.
  *
  * Each wrapper builds its expression directly from typed Scala values
  * (e.g. `NearestCells(expression(vec), centroids, nprobe)`), so the
  * Column DSL needs no registration and works on any session; Catalyst
  * still sees the native expression (codegen, constant folding, null
  * propagation). `register` installs the `graft_*` names in a session's
  * FunctionRegistry for `spark.sql` / `expr` text only. Its builders
  * check the argument count and evaluate the literal arguments, because
  * SQL arguments come from outside the program.
  */
object GraftFunctions {

  private def foldableInt(e: Expression, fn: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: first argument must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: first argument (k) must be a literal")
  }

  /** `build` behind an argument-count check: a call with any other
    * count fails analysis naming the function and both counts, instead
    * of an IndexOutOfBounds from the builder's `es(i)`. */
  private def withArity(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument${if (arity == 1) "" else "s"}, " +
          s"got ${es.length}")
      build(es)
    }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def fn(name: String, arity: Int)(
        build: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, withArity(name, arity)(build),
        "built-in")
    fn("graft_sqdist", 2)(es => VectorSqDist(es(0), es(1)))
    fn("graft_dot", 2)(es => VectorDot(es(0), es(1)))
    fn("graft_cosine", 2)(es => VectorCosine(es(0), es(1)))
    fn("graft_norm", 1)(es => VectorNorm(es(0)))
    fn("graft_packbits", 1)(es => PackSignBits(es(0)))
    fn("graft_hamming", 2)(es => HammingDistance(es(0), es(1)))
    fn("graft_simhash", 1)(es => SimHash64(es(0)))
    fn("graft_hamming64", 2)(es => HammingDistance64(es(0), es(1)))
    fn("graft_shingles", 2)(es =>
      NGramShingles(es(0), foldableInt(es(1), "graft_shingles")))
    fn("graft_minhash", 2)(es =>
      MinHashSignature(es(0), foldableInt(es(1), "graft_minhash")))
    fn("graft_lsh_bands", 2)(es =>
      LshBandHashes(es(0), foldableInt(es(1), "graft_lsh_bands")))
    fn("graft_vecsum", 1)(es => VectorSum(es(0)))
    fn("graft_vecsum_long", 1)(es => VectorSumLong(es(0)))
    fn("graft_fp16_encode", 1)(es => Fp16Encode(es(0)))
    fn("graft_fp16_decode", 1)(es => Fp16Decode(es(0)))
    fn("graft_topk", 3)(es =>
      TopKSmallest(foldableInt(es(0), "graft_topk"), es(1), es(2)))
    fn("graft_nearest_centroid", 2)(es => NearestCentroid(es(0),
      foldableMatrix(es(1), "graft_nearest_centroid")))
    fn("graft_nearest_centroid2", 5)(es => NearestCentroidTwoLevel(es(0),
      foldableMatrix(es(1), "graft_nearest_centroid2"),
      foldableMatrix(es(2), "graft_nearest_centroid2"),
      foldableIntMatrix(es(3), "graft_nearest_centroid2"),
      foldableInt(es(4), "graft_nearest_centroid2")))
    fn("graft_repetition", 1)(es => RepetitionStats(es(0)))
    fn("graft_nearest_cells", 3)(es => NearestCells(es(0),
      foldableMatrix(es(1), "graft_nearest_cells"),
      foldableInt(es(2), "graft_nearest_cells")))
    fn("graft_term_counts", 2)(es => TermCounts(es(0),
      foldableStringSeq(es(1), "graft_term_counts")))
    fn("graft_md5_prefix", 2)(es =>
      Md5PrefixLong(es(0), foldableInt(es(1), "graft_md5_prefix")))
    fn("graft_md5_prefix_str", 2)(es =>
      Md5PrefixStr(es(0), foldableInt(es(1), "graft_md5_prefix_str")))
    fn("graft_intersect_count", 2)(es => IntersectCardinality(es(0), es(1)))
    fn("graft_nearest_cells2", 6)(es => NearestCellsTwoLevel(es(0),
      foldableMatrix(es(1), "graft_nearest_cells2"),
      foldableMatrix(es(2), "graft_nearest_cells2"),
      foldableIntMatrix(es(3), "graft_nearest_cells2"),
      foldableInt(es(4), "graft_nearest_cells2"),
      foldableInt(es(5), "graft_nearest_cells2")))
  }

  /** Evaluate a foldable array<array<float>> literal to a JVM matrix
    * (the centroid table baked into NearestCentroid's codegen). */
  private def foldableMatrix(e: Expression, fn: String): Array[Array[Float]] = {
    require(e.foldable, s"$fn: centroid matrix must be a literal")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val outer = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements()) { c =>
      val inner = outer.getArray(c)
      Array.tabulate(inner.numElements())(i => inner.getFloat(i))
    }
  }

  /** Evaluate a foldable array<string> literal to a Seq[String] (the
    * fixed term list baked into TermCounts). */
  private def foldableStringSeq(e: Expression, fn: String): Seq[String] = {
    require(e.foldable, s"$fn: term list must be a literal")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val arr = e.eval().asInstanceOf[ArrayData]
    Seq.tabulate(arr.numElements())(i => arr.getUTF8String(i).toString)
  }

  /** Evaluate a foldable array<array<int>> literal to a JVM int matrix
    * (the super→member-cid lists of the two-level quantizer). */
  private def foldableIntMatrix(e: Expression, fn: String): Array[Array[Int]] = {
    require(e.foldable, s"$fn: member matrix must be a literal")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val outer = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements()) { g =>
      val inner = outer.getArray(g)
      Array.tabulate(inner.numElements())(i => inner.getInt(i))
    }
  }

  // Column-DSL wrappers: each builds its expression, no registry.
  def sqDist(a: Column, b: Column): Column =
    column(VectorSqDist(expression(a), expression(b)))
  def dot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column =
    column(VectorCosine(expression(a), expression(b)))
  def norm(a: Column): Column = column(VectorNorm(expression(a)))
  def packBits(a: Column): Column = column(PackSignBits(expression(a)))
  def hamming(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
  def simHash(a: Column): Column = column(SimHash64(expression(a)))
  def hamming64(a: Column, b: Column): Column =
    column(HammingDistance64(expression(a), expression(b)))
  def shingles(text: Column, n: Int): Column =
    column(NGramShingles(expression(text), n))
  def minHash(shingles: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingles), numHashes))
  def lshBands(sig: Column, bands: Int): Column =
    column(LshBandHashes(expression(sig), bands))
  def vecSum(a: Column): Column =
    column(VectorSum(expression(a)).toAggregateExpression())
  /** One-pass fixed-term occurrence counts — see TermCounts. */
  def termCounts(toks: Column, terms: Seq[String]): Column =
    column(TermCounts(expression(toks), terms))
  /** Fused `conv(substring(md5(x), 1, nHex), 16, 10).cast("long")` —
    * bit-identical, see Md5PrefixLong. */
  def md5Prefix(text: Column, nHex: Int): Column =
    column(Md5PrefixLong(expression(text), nHex))
  /** Fused `substring(md5(x), 1, nHex)` — byte-identical, see
    * Md5PrefixStr. */
  def md5PrefixStr(text: Column, nHex: Int): Column =
    column(Md5PrefixStr(expression(text), nHex))
  def vecSumLong(a: Column): Column =
    column(VectorSumLong(expression(a)).toAggregateExpression())
  /** Fused `size(array_intersect(a, b))` — identical count, no
    * intersection-array materialization; see IntersectCardinality. */
  def intersectCount(a: Column, b: Column): Column =
    column(IntersectCardinality(expression(a), expression(b)))
  def repetition(text: Column): Column =
    column(RepetitionStats(expression(text)))

  /** Bloom-filter membership probe. The filter is a field of the
    * expression, so each column keeps its own; it has no SQL name (a
    * filter cannot be a SQL literal). */
  def bloomMightContain(text: Column,
      bf: org.apache.spark.util.sketch.BloomFilter): Column =
    column(BloomMightContain(expression(text), bf))
  def fp16Encode(a: Column): Column = column(Fp16Encode(expression(a)))
  def fp16Decode(a: Column): Column = column(Fp16Decode(expression(a)))

  /** Snap every element of a float-array column to the 2^-7 grid
    * (floor(v·128 + 0.5)/128). Every multiple of 1/128 with |v| < 16
    * is exactly representable in IEEE binary16, so values snapped by
    * this helper round-trip LOSSLESSLY through the Fp16 codec — the
    * basis of the fp16 oracle queries (knn_fp16, hbin_roundtrip). Any
    * SQL mirror must use the identical floor(x*128+0.5)/128 formula. */
  def fp16Grid(a: Column): Column =
    org.apache.spark.sql.functions.transform(a, v =>
      (org.apache.spark.sql.functions.floor(v.cast("double") * 128.0 + 0.5)
        / 128.0).cast("float"))
  def topK(k: Int, ord: Column, payload: Column): Column =
    column(TopKSmallest(k, expression(ord), expression(payload))
      .toAggregateExpression())
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    column(NearestCentroid(expression(vec), centroids))
  def nearestCentroid2(vec: Column, supers: Array[Array[Float]],
      centroids: Array[Array[Float]], members: Array[Array[Int]],
      wSuper: Int = 1): Column =
    column(NearestCentroidTwoLevel(expression(vec), supers, centroids,
      members, wSuper))
  def nearestCells(vec: Column, centroids: Array[Array[Float]],
      nprobe: Int): Column =
    column(NearestCells(expression(vec), centroids, nprobe))
  def nearestCells2(vec: Column, supers: Array[Array[Float]],
      centroids: Array[Array[Float]], members: Array[Array[Int]],
      wSuper: Int, nprobe: Int): Column =
    column(NearestCellsTwoLevel(expression(vec), supers, centroids,
      members, wSuper, nprobe))
}
