package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment as a single narrow expression.
  *
  * The IVF coarse quantizer (the Spark-native analog of the reference's
  * index-build partitioning, /root/reference/cuvs_bench_grid_search_v3
  * .py:197-207) needs `argmin_c sqdist(vec, centroid_c)` per row. Doing
  * that relationally (crossJoin with the centroid table + groupBy(id))
  * shuffles n x C rows — catastrophic at scale. This expression holds
  * the (small) centroid matrix as a referenced constant, so assignment
  * is a per-row loop inside whole-stage codegen: zero shuffle, zero
  * join, O(C x dim) per row.
  *
  * Tie-break: strict `<` keeps the lowest centroid id — identical to
  * `min(struct(dist, cid))` semantics, deterministic.
  *
  * Hot-loop shape (this is n × C × dim flops at index-build time — the
  * dominant build cost at scale): the input is copied to a local
  * `float[]` ONCE per row (instead of C × dim virtual `getFloat`
  * calls through ArrayData), and the per-centroid scan early-abandons
  * in 16-dim blocks — once the partial sum reaches the best distance
  * so far the centroid cannot win (the sum only grows, and the final
  * test is strict `<`), so skipping it is EXACT, same argmin and same
  * tie-break. On clustered data most centroids die after one block.
  *
  * At large C (>= 512) a second EXACT pruning layer kicks in: the
  * centroids are themselves clustered into ~sqrt(C) groups once per
  * executor (deterministic local Lloyd over the C x dim matrix —
  * microseconds), each group keeping its center and covering radius.
  * Per row the scan visits groups in ascending group-center distance
  * and skips a whole group when the triangle-inequality lower bound
  * (d(x, g_center) - radius_g)^2 already exceeds the best distance —
  * no member of that group can beat it. Because groups reorder the
  * centroid visit sequence, ties compare (dist, cid) explicitly, so
  * the result is still bit-identical to the naive ascending-cid scan.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  override def prettyName: String = "graft_nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  private val dimLen = if (centroids.nonEmpty) centroids(0).length else 0
  @transient private lazy val uniformDim: Boolean =
    centroids.forall(_.length == dimLen)
  @transient private lazy val groupIndex: CentroidGroups =
    CentroidGroups.build(centroids)

  private def sqdistFull(x: Array[Float], y: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < x.length) {
      val d = x(i).toDouble - y(i).toDouble; acc += d * d; i += 1
    }
    acc
  }

  /** Flat blocked early-abandon scan in ascending cid order (strict <
    * keeps the lowest cid on ties without an explicit id compare). */
  private def flatAssign(x: Array[Float]): Int = {
    var best = -1; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val n = math.min(x.length, cen.length)
      var acc = 0.0; var i = 0
      var dead = false
      while (i < n && !dead) {
        val lim = math.min(i + 16, n)
        while (i < lim) {
          val d = x(i).toDouble - cen(i).toDouble
          acc += d * d; i += 1
        }
        dead = acc >= bestD
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** The kernel behind both eval and codegen. */
  def assignOne(x: Array[Float]): Int = {
    if (centroids.length < CentroidGroups.MinCentroids ||
        !uniformDim || x.length != dimLen) return flatAssign(x)
    val gi = groupIndex
    val nG = gi.centers.length
    // distances to group centers + visit order ascending (dist, g)
    val gd = new Array[Double](nG)
    var g = 0
    while (g < nG) { gd(g) = sqdistFull(x, gi.centers(g)); g += 1 }
    val order = Array.range(0, nG)
    // insertion sort of the small order array by (gd, g)
    var a = 1
    while (a < nG) {
      val og = order(a); val od = gd(og)
      var b = a - 1
      while (b >= 0 && (gd(order(b)) > od ||
          (gd(order(b)) == od && order(b) > og))) {
        order(b + 1) = order(b); b -= 1
      }
      order(b + 1) = og
      a += 1
    }
    var best = -1; var bestD = Double.MaxValue
    var oi = 0
    while (oi < nG) {
      val gidx = order(oi)
      // triangle inequality: no member can be closer than
      // (sqrt(d(x, center)) - radius)^2; strict > keeps groups that
      // could tie (the lower-cid winner may live there)
      val slack = math.sqrt(gd(gidx)) - gi.radii(gidx)
      if (!(slack > 0.0 && slack * slack > bestD)) {
        val members = gi.members(gidx)
        var mi = 0
        while (mi < members.length) {
          val c = members(mi)
          val cen = centroids(c)
          var acc = 0.0; var i = 0
          var dead = false
          while (i < dimLen && !dead) {
            val lim = math.min(i + 16, dimLen)
            while (i < lim) {
              val d = x(i).toDouble - cen(i).toDouble
              acc += d * d; i += 1
            }
            dead = acc > bestD // strict: an exact tie must still compare cids
          }
          if (!dead && (acc < bestD || (acc == bestD && c < best))) {
            bestD = acc; best = c
          }
          mi += 1
        }
      }
      oi += 1
    }
    best
  }

  override def nullSafeEval(v: Any): Any =
    assignOne(v.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $self.assignOne($a.toFloatArray());")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Two-level (hierarchical) coarse assignment: argmin over C1 ≈ √C
  * SUPER-centroids, then argmin over only that super-cell's member
  * sub-centroids. Per-row cost drops from O(C·dim) to
  * O((C1 + C/C1)·dim) — the difference between the flat n×C assignment
  * (~O(n²/cellsize) at fixed cell size, the one named scale asymptote
  * at 20M+ rows) and a row-linear build at any corpus size. This is
  * the standard two-level IVF quantizer (FAISS IMI lineage): unlike
  * the EXACT triangle-inequality pruning above (which still pays the
  * full scan in the worst case and measured ~250 s at 20M×8192), the
  * hierarchy is a DIFFERENT, coarser-grained quantizer — boundary rows
  * may land in a cell that is not the global argmin. Search is
  * unaffected structurally: probe ranking stays flat-exact over the
  * full centroid table (queries are few; data rows are the asymptote),
  * and nprobe remains the recall dial.
  *
  * Determinism: super ties break to the lowest sid (bounded insertion,
  * strict `>` shift — row_number() OVER (ORDER BY dist, sid)
  * semantics); the member scan visits supers in ascending (dist, sid)
  * order and compares (dist, cid) explicitly, so the result is
  * bit-reproducible in SQL — the basis of the ann_ivf2_fixed oracle.
  * `wSuper` > 1 scans the members of the w nearest super-cells
  * (tightens the boundary approximation at w× member-scan cost).
  */
case class NearestCentroidTwoLevel(child: Expression,
    supers: Array[Array[Float]], centroids: Array[Array[Float]],
    members: Array[Array[Int]], wSuper: Int)
    extends UnaryExpression {
  override def prettyName: String = "graft_nearest_centroid2"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  def assignOne(x: Array[Float]): Int = {
    val w = math.min(math.max(wSuper, 1), supers.length)
    // top-w supers by (dist, sid): bounded insertion, early abandon
    // against the current w-th best (exact — the partial only grows
    // and the insertion test is strict <)
    val ids = new Array[Int](w)
    val ds = new Array[Double](w)
    var filled = 0
    var s = 0
    while (s < supers.length) {
      val cen = supers(s)
      val n = math.min(x.length, cen.length)
      val thr = if (filled < w) Double.MaxValue else ds(w - 1)
      var acc = 0.0; var i = 0
      var dead = false
      while (i < n && !dead) {
        val lim = math.min(i + 16, n)
        while (i < lim) {
          val d = x(i).toDouble - cen(i).toDouble
          acc += d * d; i += 1
        }
        dead = acc >= thr
      }
      if (!dead && (filled < w || acc < ds(filled - 1))) {
        var p = math.min(filled, w - 1)
        while (p > 0 && ds(p - 1) > acc) {
          if (p < w) { ds(p) = ds(p - 1); ids(p) = ids(p - 1) }
          p -= 1
        }
        ds(p) = acc; ids(p) = s
        if (filled < w) filled += 1
      }
      s += 1
    }
    // member scan over the selected super-cells: explicit (dist, cid)
    // tie compare (supers reorder the cid visit sequence)
    var best = -1; var bestD = Double.MaxValue
    var si = 0
    while (si < filled) {
      val mem = members(ids(si))
      var mi = 0
      while (mi < mem.length) {
        val c = mem(mi)
        val cen = centroids(c)
        val n = math.min(x.length, cen.length)
        var acc = 0.0; var i = 0
        var dead = false
        while (i < n && !dead) {
          val lim = math.min(i + 16, n)
          while (i < lim) {
            val d = x(i).toDouble - cen(i).toDouble
            acc += d * d; i += 1
          }
          dead = acc > bestD // strict: an exact tie must still compare cids
        }
        if (!dead && (acc < bestD || (acc == bestD && c < best))) {
          bestD = acc; best = c
        }
        mi += 1
      }
      si += 1
    }
    best
  }

  override def nullSafeEval(v: Any): Any =
    assignOne(v.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid2", this,
      classOf[NearestCentroidTwoLevel].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $self.assignOne($a.toFloatArray());")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Group index over a centroid matrix: ~sqrt(C) groups from a
  * deterministic local Lloyd run, with covering radii for exact
  * triangle-inequality pruning. Built lazily once per executor. */
private[graft] final class CentroidGroups(
    val centers: Array[Array[Float]],
    val radii: Array[Double],
    val members: Array[Array[Int]])

private[graft] object CentroidGroups {
  /** Below this the flat blocked scan wins (and the SQL-oracle fixed
    * -centroid fixtures stay on the simplest path). */
  val MinCentroids = 512

  def build(centroids: Array[Array[Float]]): CentroidGroups = {
    val c = centroids.length
    val dim = centroids(0).length
    val nG = math.max(1, math.ceil(math.sqrt(c.toDouble)).toInt)
    // spread deterministic init over the cid range
    var centers = Array.tabulate(nG)(g => centroids((g.toLong * c / nG).toInt).clone())
    val assign = new Array[Int](c)
    var iter = 0
    while (iter < 8) {
      var i = 0
      while (i < c) {
        var best = 0; var bestD = Double.MaxValue
        var g = 0
        while (g < nG) {
          var acc = 0.0; var j = 0
          val ctr = centers(g)
          while (j < dim && acc < bestD) {
            val d = centroids(i)(j).toDouble - ctr(j).toDouble
            acc += d * d; j += 1
          }
          if (acc < bestD) { bestD = acc; best = g }
          g += 1
        }
        assign(i) = best
        i += 1
      }
      // last iteration keeps centers matching the final assignment
      // (tighter covering radii); correctness never depends on it
      if (iter < 7) {
        val sums = Array.fill(nG)(new Array[Double](dim))
        val counts = new Array[Int](nG)
        i = 0
        while (i < c) {
          val g = assign(i); counts(g) += 1
          var j = 0
          while (j < dim) { sums(g)(j) += centroids(i)(j); j += 1 }
          i += 1
        }
        centers = Array.tabulate(nG) { g =>
          if (counts(g) == 0) centers(g)
          else Array.tabulate(dim)(j => (sums(g)(j) / counts(g)).toFloat)
        }
      }
      iter += 1
    }
    val memberLists = Array.fill(nG)(new scala.collection.mutable.ArrayBuffer[Int])
    var i = 0
    while (i < c) { memberLists(assign(i)) += i; i += 1 }
    val members = memberLists.map(_.toArray) // ascending cid by construction
    val radii = Array.tabulate(nG) { g =>
      var r = 0.0
      members(g).foreach { ci =>
        var acc = 0.0; var j = 0
        while (j < dim) {
          val d = centroids(ci)(j).toDouble - centers(g)(j).toDouble
          acc += d * d; j += 1
        }
        r = math.max(r, math.sqrt(acc))
      }
      r
    }
    new CentroidGroups(centers, radii, members)
  }
}

/** Top-`nprobe` nearest centroids of a vector, ordered by (dist, cid)
  * asc — the probe-ranking step of IVF search as one narrow expression
  * (no crossJoin against the centroid table, no aggregate, no
  * shuffle). Returns array<int> of cell ids. The ranking itself is
  * `CellProbe`, the array-level probe the driver-local serving tiers
  * call directly; this expression only unwraps and wraps the arrays,
  * so the distributed and local probes are one code path. */
case class NearestCells(child: Expression, centroids: Array[Array[Float]],
    nprobe: Int) extends UnaryExpression {
  override def prettyName: String = "graft_nearest_cells"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val probe = new CellProbe(centroids, nprobe)

  override def nullSafeEval(v: Any): Any =
    ArrayData.toArrayData(probe(v.asInstanceOf[ArrayData].toFloatArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCells", this,
      classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"$self.nullSafeEval($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Array-level probe: the top-`nprobe` cell ids of a query by
  * (dist, cid) asc, squared L2 over min(query, centroid) dims. Selection
  * is a bounded insertion into two parallel local arrays (nprobe is
  * small), visiting cids in ascending order with a strict `<`, so the
  * lowest cid wins a tie. Each distance early-abandons against the
  * current worst kept one (exact: an abandoned partial sum is already
  * above it and the insertion test is strict).
  *
  * Uniform-dim centroids are copied once into one contiguous array
  * (`flat`; the local replicas pass the copy they keep, so a serve
  * call does not repeat it) and scanned four at a time through
  * `Knn.sqDistBounded4` under the threshold read at the start of the
  * group (it only tightens, so a lane past it is past the live one
  * too); each lane is then offered in cid order against the live
  * threshold, so the kept list equals the one-at-a-time scan's, NaN
  * and ties included (KnnSpec probe-parity pin). Ragged centroid rows
  * and the remainder past the last group of four take the single-row
  * `Knn.distBoundedSlices`. Immutable after construction, so one
  * instance serves concurrent callers. */
private[graft] final class CellProbe(centroids: Array[Array[Float]],
    nprobe: Int, flat: Array[Float]) extends (Array[Float] => Array[Int]) {
  def this(centroids: Array[Array[Float]], nprobe: Int) =
    this(centroids, nprobe, graft.operators.Knn.flattenUniform(centroids))
  private[this] val np = math.min(nprobe, centroids.length)
  private[this] val dim = if (centroids.isEmpty) 0 else centroids(0).length

  def apply(x: Array[Float]): Array[Int] = {
    val ids = new Array[Int](np)
    val ds = new Array[Double](np)
    var filled = 0
    var c = 0
    if (flat != null) {
      val n = math.min(x.length, dim)
      val out = new Array[Double](4)
      while (c + 4 <= centroids.length) {
        val thr = if (filled < np) Double.MaxValue else ds(np - 1)
        graft.operators.Knn.sqDistBounded4(flat, c * dim, (c + 1) * dim,
          (c + 2) * dim, (c + 3) * dim, n, x, thr, out)
        filled = offer(ids, ds, filled, out(0), c)
        filled = offer(ids, ds, filled, out(1), c + 1)
        filled = offer(ids, ds, filled, out(2), c + 2)
        filled = offer(ids, ds, filled, out(3), c + 3)
        c += 4
      }
    }
    while (c < centroids.length) {
      val cen = centroids(c)
      val thr = if (filled < np) Double.MaxValue else ds(np - 1)
      filled = offer(ids, ds, filled, graft.operators.Knn.distBoundedSlices(
        0, cen, 0, cen.length, x, 0, x.length, thr), c)
      c += 1
    }
    java.util.Arrays.copyOf(ids, filled)
  }

  /** Offer cell `c` at distance `d` (exact whenever it is below the
    * live threshold) to the kept list; returns the new fill count. */
  private def offer(ids: Array[Int], ds: Array[Double], filled: Int,
      d: Double, c: Int): Int = {
    val thr = if (filled < np) Double.MaxValue else ds(np - 1)
    if (!(d >= thr) && (filled < np || d < ds(filled - 1))) {
      var p = math.min(filled, np - 1)
      while (p > 0 && ds(p - 1) > d) {
        if (p < np) { ds(p) = ds(p - 1); ids(p) = ids(p - 1) }
        p -= 1
      }
      ds(p) = d; ids(p) = c
      if (filled < np) filled + 1 else filled
    } else filled
  }
}

/** Two-level probe ranking (r19): `NearestCells`' √C twin — the
  * expression form of `AnnIvf.twoLevelProberLocal`, for the
  * DISTRIBUTED probe paths (`searchPersisted`/`searchShuffledFast`/
  * NSW/PQ). Beam the `wSuper` nearest SUPER-centroids by (dist, sid),
  * then rank top-`nprobe` cells by (dist, cid) over ONLY the beamed
  * supers' member cells: O((√C + wSuper·C/√C)·dim) per query instead
  * of the flat O(C·dim) — the term that dominates distributed probe
  * cost at 100-TB cell counts (C ~ 10⁵–10⁶ under the √N rule).
  *
  * A DIAL, not a drop-in (same contract as the local prober): a
  * query whose true nearest cell lives under a non-beamed super gets
  * a different probe set, so this is a new (recall, qps) operating
  * point — opt-in at every call site, never a silent default. With
  * `wSuper >= supers.length` the beam covers every member list and
  * the output equals flat `NearestCells` exactly (KnnSpec pin).
  *
  * Determinism: the super beam breaks ties to the lowest sid
  * (bounded insertion, strict `<`, ascending-sid visit order); the
  * member scan compares (dist, cid) EXPLICITLY because supers
  * reorder the cid visit sequence — identical tie semantics to
  * `twoLevelProberLocal`'s TopKBuffer, so local and distributed
  * two-level serves are row-identical (pinned) and the
  * serve_twolevel_* SQL oracle replays both. */
case class NearestCellsTwoLevel(child: Expression,
    supers: Array[Array[Float]], centroids: Array[Array[Float]],
    members: Array[Array[Int]], wSuper: Int, nprobe: Int)
    extends UnaryExpression {
  override def prettyName: String = "graft_nearest_cells2"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  require(supers.nonEmpty && members.length == supers.length,
    "graft_nearest_cells2: members must align with supers")
  require(wSuper >= 1 && nprobe >= 1,
    s"graft_nearest_cells2: wSuper and nprobe must be >= 1, " +
      s"got wSuper=$wSuper nprobe=$nprobe")

  def probeOne(x: Array[Float]): Array[Int] = {
    val w = math.min(wSuper, supers.length)
    // super beam: top-w by (dist, sid) — bounded insertion, strict <
    // keeps the lowest sid on ties (ascending-sid visit), early
    // abandon against the current w-th best (exact: partial sums only
    // grow and the insertion test is strict <)
    val sids = new Array[Int](w)
    val sds = new Array[Double](w)
    var sFilled = 0
    var s = 0
    while (s < supers.length) {
      val cen = supers(s)
      val n = math.min(x.length, cen.length)
      val thr = if (sFilled < w) Double.MaxValue else sds(w - 1)
      var acc = 0.0; var i = 0
      var dead = false
      while (i < n && !dead) {
        val lim = math.min(i + 16, n)
        while (i < lim) {
          val d = x(i).toDouble - cen(i).toDouble
          acc += d * d; i += 1
        }
        dead = acc >= thr
      }
      if (!dead && (sFilled < w || acc < sds(sFilled - 1))) {
        var p = math.min(sFilled, w - 1)
        while (p > 0 && sds(p - 1) > acc) {
          if (p < w) { sds(p) = sds(p - 1); sids(p) = sids(p - 1) }
          p -= 1
        }
        sds(p) = acc; sids(p) = s
        if (sFilled < w) sFilled += 1
      }
      s += 1
    }
    // member-cell scan: top-np by (dist, cid) with EXPLICIT id
    // compare everywhere — the beam visits cids out of ascending
    // order, so a tie at the bound must still let a lower cid in
    // (member lists are disjoint: each cid belongs to exactly one
    // super, so no candidate repeats)
    val np = math.min(nprobe, centroids.length)
    val ids = new Array[Int](np)
    val ds = new Array[Double](np)
    var filled = 0
    var si = 0
    while (si < sFilled) {
      val mem = members(sids(si))
      var mi = 0
      while (mi < mem.length) {
        val c = mem(mi)
        val cen = centroids(c)
        val n = math.min(x.length, cen.length)
        val thr = if (filled < np) Double.MaxValue else ds(np - 1)
        var acc = 0.0; var i = 0
        var dead = false
        while (i < n && !dead) {
          val lim = math.min(i + 16, n)
          while (i < lim) {
            val d = x(i).toDouble - cen(i).toDouble
            acc += d * d; i += 1
          }
          dead = acc > thr // strict: a tie at the bound compares cids
        }
        if (!dead && (filled < np || acc < ds(filled - 1) ||
            (acc == ds(filled - 1) && c < ids(filled - 1)))) {
          var p = math.min(filled, np - 1)
          while (p > 0 && (ds(p - 1) > acc ||
              (ds(p - 1) == acc && ids(p - 1) > c))) {
            if (p < np) { ds(p) = ds(p - 1); ids(p) = ids(p - 1) }
            p -= 1
          }
          ds(p) = acc; ids(p) = c
          if (filled < np) filled += 1
        }
        mi += 1
      }
      si += 1
    }
    java.util.Arrays.copyOf(ids, filled)
  }

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      probeOne(v.asInstanceOf[ArrayData].toFloatArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCells2", this,
      classOf[NearestCellsTwoLevel].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"$self.nullSafeEval($a);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
