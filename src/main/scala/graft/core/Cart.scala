package graft.core

/** CART regression trees with ANOVA splitting and cost-complexity
  * pruning — the reference's `rpart(..., method="anova")` +
  * `prune(fit, cp=.02)` (`Supplemental_Data_1.R:312-313`), fitted
  * per (region, driver) on a few hundred training rows, so fitting is a
  * driver-side concern (SURVEY.md §2.9 M1-M2); inference walks the
  * packed forest below inside one codegen'd expression (M3).
  *
  * Semantics implemented (matching rpart's documented ANOVA method):
  *  - node deviance R(t) = sum of squared errors about the node mean;
  *  - best split maximizes R(parent) - R(left) - R(right) over all
  *    features and midpoints between consecutive distinct values;
  *    `x < threshold` goes left;
  *  - a split is attempted only when n >= minsplit, kept only when both
  *    children have >= minbucket rows and the gain scaled by R(root) is
  *    >= cp (rpart's complexity gate);
  *  - prune(cp) is weakest-link cost-complexity pruning: repeatedly
  *    collapse the internal node with the smallest per-leaf scaled gain
  *    g(t) = (R(t) - R(subtree)) / (leaves-1) / R(root) while g < cp;
  *  - ties on gain resolve to the lowest feature index then lowest
  *    threshold (deterministic; rpart's C order).
  *
  * NA handling: none needed — the pipeline fills NA to 0 upstream
  * (R:229,247,270), so no surrogate splits.
  */
object Cart {

  final case class Params(
      minSplit: Int = 20,
      minBucket: Int = 7,
      cp: Double = 0.01,
      maxDepth: Int = 30)

  sealed trait Tree {
    def predict(x: Array[Double]): Double = this match {
      case Leaf(v, _, _) => v
      case Split(f, thr, lo, hi, _, _, _) =>
        if (x(f) < thr) lo.predict(x) else hi.predict(x)
    }
    def nLeaves: Int = this match {
      case _: Leaf => 1
      case s: Split => s.lo.nLeaves + s.hi.nLeaves
    }
    /** Deviance of this node treated as a leaf. */
    def dev: Double
    /** Total deviance of the subtree's leaves. */
    def subtreeDev: Double = this match {
      case l: Leaf => l.dev
      case s: Split => s.lo.subtreeDev + s.hi.subtreeDev
    }
    def depth: Int = this match {
      case _: Leaf => 1
      case s: Split => 1 + math.max(s.lo.depth, s.hi.depth)
    }
  }
  /** The 7x5 tree matrix flattened to primitive arrays for branch-walk
    * inference. Compiling each tree into a `when`-chain `Column` is
    * correct but generates code proportional to total node count x
    * region count; at 35 trees x 85 features the generated method blows
    * past the JIT's huge-method limit and the job degrades to contended
    * interpreted bytecode (measured: throughput DECREASED with added
    * cores). This packed form keeps the generated code at one static
    * call and walks ~tree-depth nodes per row, reading feature bands
    * lazily from the tile payload.
    *
    * Node i: feat(i) < 0 means leaf with value(i); else compare feature
    * feat(i) (0-based over the predictor bands) against thr(i) and
    * descend to left(i)/right(i). offsets((region-1)*nDrivers + d-1) is
    * the root of tree (region, driver d+1). */
  final case class PackedForest(nDrivers: Int, offsets: Array[Int],
      feat: Array[Int], thr: Array[Double], left: Array[Int],
      right: Array[Int], value: Array[Double]) {
    /** True when some tree has a split: only then does the walk read a
      * predictor band, so only then is the band payload an input. */
    def hasSplit: Boolean = feat.exists(_ >= 0)
  }

  object PackedForest {
    def apply(trees: Map[(Int, Int), Tree], nRegions: Int,
        nDrivers: Int): PackedForest = {
      val feat = scala.collection.mutable.ArrayBuffer[Int]()
      val thr = scala.collection.mutable.ArrayBuffer[Double]()
      val left = scala.collection.mutable.ArrayBuffer[Int]()
      val right = scala.collection.mutable.ArrayBuffer[Int]()
      val value = scala.collection.mutable.ArrayBuffer[Double]()
      def emit(t: Tree): Int = t match {
        case Leaf(v, _, _) =>
          val i = feat.length
          feat += -1; thr += 0.0; left += -1; right += -1; value += v
          i
        case Split(f, th, lo, hi, _, _, _) =>
          val i = feat.length
          feat += f; thr += th; left += -1; right += -1; value += 0.0
          val l = emit(lo)
          val r = emit(hi)
          left(i) = l; right(i) = r
          i
      }
      val offsets = Array.tabulate(nRegions * nDrivers) { k =>
        emit(trees((k / nDrivers + 1, k % nDrivers + 1)))
      }
      PackedForest(nDrivers, offsets, feat.toArray, thr.toArray,
        left.toArray, right.toArray, value.toArray)
    }

    /** The vote over an f32 tile payload: walk the region's nDrivers
      * trees reading band feat+1 at pixel p lazily, first-max argmax
      * (which.max semantics, R:370), strict <confFloor -> 0 (R:382),
      * loss (band 0) < lossFloor -> 0 (R:407). */
    def classify(pf: PackedForest, bytes: Array[Byte], p: Int, region: Int,
        nPix: Int, lossFloor: Double, confFloor: Double): Long =
      classify(pf, bytes, bytes, p, region, nPix, lossFloor, confFloor)

    /** classify() with the loss read from `loss`, an f32 payload whose
      * element p is pixel p's loss (the tile table's `loss` column, or
      * the band payload itself, whose band 0 comes first). */
    def classify(pf: PackedForest, loss: Array[Byte], bytes: Array[Byte],
        p: Int, region: Int, nPix: Int, lossFloor: Double,
        confFloor: Double): Long = {
      if (Codec.floatAt(loss, p).toDouble < lossFloor) return 0L
      var best = Double.NegativeInfinity
      var bestD = 0
      val base = (region - 1) * pf.nDrivers
      var d = 0
      while (d < pf.nDrivers) {
        val prob = leaf(pf, pf.offsets(base + d), bytes, p, nPix)
        if (prob > best) { best = prob; bestD = d + 1 }
        d += 1
      }
      if (best < confFloor) 0L else bestD.toLong
    }

    /** The single-tree walk: leaf value of the tree rooted at node
      * `root` for pixel p, reading band feat+1 lazily from the payload
      * (~tree-depth nodes visited). */
    def leaf(pf: PackedForest, root: Int, bytes: Array[Byte], p: Int,
        nPix: Int): Double = {
      var node = root
      while (pf.feat(node) >= 0) {
        val f = Codec.floatAt(bytes, p + (pf.feat(node) + 1) * nPix).toDouble
        node = if (f < pf.thr(node)) pf.left(node) else pf.right(node)
      }
      pf.value(node)
    }

    /** classify() with the region lookup FOLDED IN: one ray-cast PIP per
      * pixel, returning -1 when no polygon contains the point (the
      * caller filters on the cheap long output instead of re-evaluating
      * the PIP in a separate Filter — Catalyst has no cross-operator
      * subexpression elimination, so the region-column-then-filter shape
      * ray-casts every pixel twice). */
    def classifyAt(pf: PackedForest, polys: Array[Polygon],
        bytes: Array[Byte], p: Int, px: Double, py: Double, nPix: Int,
        lossFloor: Double, confFloor: Double): Long = {
      val r = Geom.regionOf(polys, px, py)
      if (r < 0) -1L
      else classify(pf, bytes, p, r, nPix, lossFloor, confFloor)
    }

    /** classifyAt() with the block-covering short circuit (the q72 scale
      * path folded into the fused vote): the region comes from
      * Geom.regionOfCovered, so points in a region-constant block read
      * it from the block map in O(1) and only boundary-block points pay
      * the exact ray-cast. `blockConst`, `nbx` and `b` as in
      * regionOfCovered. Bit-equal to classifyAt by Covering's parity
      * argument (proven vs the exact oracle by q72; re-asserted over the
      * real geometry in CoreSpec). */
    def classifyAtCovered(pf: PackedForest, polys: Array[Polygon],
        blockConst: Array[Int], nbx: Int, b: Int,
        bytes: Array[Byte], p: Int, px: Double, py: Double, nPix: Int,
        lossFloor: Double, confFloor: Double): Long =
      classifyAtCovered(pf, polys, blockConst, nbx, b, bytes, bytes, p, px,
        py, nPix, lossFloor, confFloor)

    /** classifyAtCovered() with the loss read from `loss` (see the
      * loss-payload classify). */
    def classifyAtCovered(pf: PackedForest, polys: Array[Polygon],
        blockConst: Array[Int], nbx: Int, b: Int, loss: Array[Byte],
        bytes: Array[Byte], p: Int, px: Double, py: Double, nPix: Int,
        lossFloor: Double, confFloor: Double): Long = {
      val r = Geom.regionOfCovered(polys, blockConst, nbx, b, px, py)
      if (r < 0) -1L
      else classify(pf, loss, bytes, p, r, nPix, lossFloor, confFloor)
    }
  }

  final case class Leaf(value: Double, n: Int, dev: Double) extends Tree
  final case class Split(feature: Int, threshold: Double, lo: Tree, hi: Tree,
      value: Double, n: Int, dev: Double) extends Tree

  /** Variable importance: summed deviance improvement per feature over
    * all (primary) splits, the reference's `fit$variable.importance`
    * surface (R:319). */
  def importance(t: Tree, nFeatures: Int): Array[Double] = {
    val imp = new Array[Double](nFeatures)
    def walk(t: Tree): Unit = t match {
      case _: Leaf => ()
      case s: Split =>
        imp(s.feature) += s.dev - s.lo.dev - s.hi.dev
        walk(s.lo); walk(s.hi)
    }
    walk(t)
    imp
  }

  def fit(xs: Array[Array[Double]], y: Array[Double], p: Params = Params()): Tree = {
    require(xs.length == y.length && y.nonEmpty, "bad training data")
    val rootDev = devOf(y.indices.toArray, y)
    grow(xs, y, y.indices.toArray, rootDev, p, 1)
  }

  private def devOf(idx: Array[Int], y: Array[Double]): Double = {
    var s = 0.0; var s2 = 0.0
    var i = 0
    while (i < idx.length) { val v = y(idx(i)); s += v; s2 += v * v; i += 1 }
    math.max(0.0, s2 - s * s / idx.length)
  }

  private def meanOf(idx: Array[Int], y: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < idx.length) { s += y(idx(i)); i += 1 }
    s / idx.length
  }

  private def grow(xs: Array[Array[Double]], y: Array[Double],
      idx: Array[Int], rootDev: Double, p: Params, depth: Int): Tree = {
    val n = idx.length
    val dev = devOf(idx, y)
    val mean = meanOf(idx, y)
    if (n < p.minSplit || depth > p.maxDepth || dev <= 0.0 || rootDev <= 0.0)
      return Leaf(mean, n, dev)

    // best split: for each feature, sort node rows by value, sweep
    // prefix sums; O(features * n log n).
    var bestGain = 0.0
    var bestFeat = -1
    var bestThr = 0.0
    val nf = xs(0).length
    var f = 0
    while (f < nf) {
      val sorted = idx.sortBy(i => xs(i)(f))
      var sumL = 0.0; var sqL = 0.0
      val sumT = { var s = 0.0; var i = 0
        while (i < n) { s += y(sorted(i)); i += 1 }; s }
      val sqT = { var s = 0.0; var i = 0
        while (i < n) { val v = y(sorted(i)); s += v * v; i += 1 }; s }
      var i = 0
      while (i < n - 1) {
        val v = y(sorted(i))
        sumL += v; sqL += v * v
        val nl = i + 1
        val nr = n - nl
        val xl = xs(sorted(i))(f)
        val xr = xs(sorted(i + 1))(f)
        if (xl != xr && nl >= p.minBucket && nr >= p.minBucket) {
          val devL = sqL - sumL * sumL / nl
          val sumR = sumT - sumL
          val devR = (sqT - sqL) - sumR * sumR / nr
          val gain = dev - devL - devR
          if (gain > bestGain + 1e-12) {
            bestGain = gain
            bestFeat = f
            bestThr = (xl + xr) / 2.0
          }
        }
        i += 1
      }
      f += 1
    }

    if (bestFeat < 0 || bestGain / rootDev < p.cp)
      return Leaf(mean, n, dev)

    val (loIdx, hiIdx) = idx.partition(i => xs(i)(bestFeat) < bestThr)
    Split(bestFeat, bestThr,
      grow(xs, y, loIdx, rootDev, p, depth + 1),
      grow(xs, y, hiIdx, rootDev, p, depth + 1),
      mean, n, dev)
  }

  /** Weakest-link cost-complexity pruning at complexity `cp` (scaled by
    * the root deviance, rpart's convention). */
  def prune(t: Tree, cp: Double): Tree = {
    val rootDev = t.dev
    if (rootDev <= 0.0) return t
    def g(s: Split): Double =
      (s.dev - s.subtreeDev) / math.max(1, s.nLeaves - 1) / rootDev
    def minLink(t: Tree): Double = t match {
      case _: Leaf => Double.PositiveInfinity
      case s: Split => math.min(g(s), math.min(minLink(s.lo), minLink(s.hi)))
    }
    def collapse(t: Tree, target: Double): Tree = t match {
      case l: Leaf => l
      case s: Split =>
        if (g(s) == target) Leaf(s.value, s.n, s.dev)
        else s.copy(lo = collapse(s.lo, target), hi = collapse(s.hi, target))
    }
    var cur = t
    var link = minLink(cur)
    while (link < cp && !cur.isInstanceOf[Leaf]) {
      cur = collapse(cur, link)
      link = minLink(cur)
    }
    cur
  }
}
