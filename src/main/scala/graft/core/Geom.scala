package graft.core

/** Planar polygon with packed vertex arrays and even-odd ray-cast
  * point-in-polygon, the engine's spatial-join primitive (SURVEY.md §2.8
  * G3; the reference ships the result precomputed as
  * `GoodeR_Boundaries_Region.csv`, `Supplemental_Data_1.R:112`, with the
  * source polygons only appearing in the commented KML block R:884-912 —
  * `readOGR` layers of continental boundaries carry holes (lakes,
  * enclaves) and multi-part geometries (archipelagos)).
  *
  * MULTI-RING: `ringStarts` is a CSR index into the packed vertex
  * arrays — ring r spans vertices [ringStarts(r), ringStarts(r+1)) (the
  * last ring runs to the end). Each ring is an OPEN loop (no repeated
  * closing vertex); its last vertex connects back to its first. The
  * even-odd ray-cast walks every ring's edges, which yields hole and
  * multipolygon semantics with no orientation bookkeeping: a point
  * inside the outer ring AND inside a hole ring crosses an even total
  * number of edges, so it is outside — exactly the even-odd fill rule
  * of the ESRI/OGC simple-features model.
  *
  * Packed arrays (not object graphs) so a broadcast of all region
  * polygons is a handful of primitive arrays, cheap to serialize and
  * cache-friendly inside an Expression eval loop.
  */
final case class Polygon(regionId: Int, xs: Array[Double], ys: Array[Double],
    ringStarts: Array[Int] = Array(0)) {
  require(xs.length == ys.length && xs.length >= 3, "need >= 3 vertices")
  require(ringStarts.nonEmpty && ringStarts(0) == 0,
    "ringStarts must begin with 0")
  require(ringStarts.indices.forall { r =>
    val end = if (r + 1 < ringStarts.length) ringStarts(r + 1) else xs.length
    end - ringStarts(r) >= 3
  }, "every ring needs >= 3 vertices and ringStarts must be increasing")

  /** Number of rings (1 = simple polygon). */
  def nRings: Int = ringStarts.length

  /** [start, end) vertex range of ring r. */
  def ringRange(r: Int): (Int, Int) =
    (ringStarts(r),
      if (r + 1 < ringStarts.length) ringStarts(r + 1) else xs.length)

  /** Directed edge list (x1, y1, x2, y2), each ring closing onto its own
    * first vertex — the exact edge set contains() ray-casts, exposed for
    * SQL oracles and sinks. */
  def edgeList: IndexedSeq[(Double, Double, Double, Double)] =
    (0 until xs.length).map { i =>
      val j = prevIdx(i)
      (xs(j), ys(j), xs(i), ys(i))
    }

  val (minX, maxX) = (xs.min, xs.max)
  val (minY, maxY) = (ys.min, ys.max)

  /** Ring-predecessor of each vertex: the edge ending at vertex i starts
    * at prevIdx(i) (wraps to its OWN ring's last vertex, never across
    * rings). Rebuilt lazily per JVM, never serialized. */
  @transient private lazy val prevIdx: Array[Int] = {
    val prev = new Array[Int](xs.length)
    var r = 0
    while (r < ringStarts.length) {
      val s = ringStarts(r)
      val e = if (r + 1 < ringStarts.length) ringStarts(r + 1) else xs.length
      prev(s) = e - 1
      var i = s + 1
      while (i < e) { prev(i) = i - 1; i += 1 }
      r += 1
    }
    prev
  }

  /** Banded y-interval edge index (CSR layout): edges bucketed by the
    * horizontal bands their y-span overlaps, so a point test touches
    * only the O(edges / bands) edges that can straddle its y — the
    * structure a production polygon layer (continental boundaries run
    * to thousands of vertices) needs; the linear scan is O(edges) per
    * point. @transient lazy: never shipped, rebuilt after
    * deserialization, about 0.05 ms a 1280-edge polygon once compiled
    * and 1-3 ms on a cold JVM. In local mode every task
    * deserializes its own copy of the plan's polygons, so every task
    * pays that rebuild. Only edges with
    * min(y1,y2) <= py < max(y1,y2) can satisfy the straddle test, and
    * each edge is indexed into every band overlapping [min, max], so
    * the banded walk applies the IDENTICAL arithmetic to a superset of
    * the straddling edges — results are bit-equal to the linear scan
    * (property-tested, including band-boundary ys). */
  @transient private lazy val bands: (Int, Double, Array[Int], Array[Int]) = {
    val n = xs.length
    val prevIdx = this.prevIdx // hoist the lazy-val read out of the loops
    val nBands = math.max(1, math.min(256, n))
    val bandH = (maxY - minY) / nBands
    def bandOf(y: Double): Int =
      if (bandH <= 0) 0
      else math.min(nBands - 1, math.max(0, ((y - minY) / bandH).toInt))
    val counts = new Array[Int](nBands + 1)
    var i = 0
    while (i < n) {
      val j = prevIdx(i)
      val lo = bandOf(math.min(ys(j), ys(i)))
      val hi = bandOf(math.max(ys(j), ys(i)))
      var b = lo
      while (b <= hi) { counts(b + 1) += 1; b += 1 }
      i += 1
    }
    var b = 0
    while (b < nBands) { counts(b + 1) += counts(b); b += 1 }
    val offsets = counts.clone()
    val edges = new Array[Int](counts(nBands))
    val fill = counts.clone()
    i = 0
    while (i < n) {
      val j = prevIdx(i)
      val lo = bandOf(math.min(ys(j), ys(i)))
      val hi = bandOf(math.max(ys(j), ys(i)))
      var b2 = lo
      while (b2 <= hi) { edges(fill(b2)) = i; fill(b2) += 1; b2 += 1 }
      i += 1
    }
    (nBands, bandH, offsets, edges)
  }

  /** Even-odd crossing test: ray from (px,py) toward +x. Edges whose y
    * span straddles py (half-open: y1 > py != y2 > py, so vertices touch
    * exactly one of their two edges) count when the intersection x
    * exceeds px. Boundary behavior follows the strict inequalities —
    * test fixtures keep query points off edges/vertices. Walks only the
    * point's y-band of the edge index. */
  def contains(px: Double, py: Double): Boolean = {
    if (px < minX || px > maxX || py < minY || py > maxY) return false
    val (nBands, bandH, offsets, edges) = bands
    val b =
      if (bandH <= 0) 0
      else math.min(nBands - 1, math.max(0, ((py - minY) / bandH).toInt))
    var inside = false
    var k = offsets(b)
    val end = offsets(b + 1)
    val n = xs.length
    if (ringStarts.length == 1) {
      // single-ring fast path: the predecessor is pure arithmetic — no
      // prev-array load in the PIP hot loop (this is the headline
      // bench's per-pixel inner loop; simple layers must not pay the
      // multi-ring indirection)
      while (k < end) {
        val i = edges(k)
        val j = if (i == 0) n - 1 else i - 1
        val y1 = ys(j); val y2 = ys(i)
        if ((y1 > py) != (y2 > py)) {
          val x1 = xs(j); val x2 = xs(i)
          val xInt = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
          if (px < xInt) inside = !inside
        }
        k += 1
      }
    } else {
      // hoist the lazy-val accessor (a volatile read the JIT cannot
      // lift out of the loop)
      val prev = prevIdx
      while (k < end) {
        val i = edges(k)
        val j = prev(i)
        val y1 = ys(j); val y2 = ys(i)
        if ((y1 > py) != (y2 > py)) {
          val x1 = xs(j); val x2 = xs(i)
          val xInt = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
          if (px < xInt) inside = !inside
        }
        k += 1
      }
    }
    inside
  }

  /** The unindexed O(edges) scan — the reference implementation the
    * banded index is property-tested against. */
  def containsLinear(px: Double, py: Double): Boolean = {
    if (px < minX || px > maxX || py < minY || py > maxY) return false
    var inside = false
    val n = xs.length
    val prev = prevIdx
    var i = 0
    while (i < n) {
      val j = prev(i)
      val y1 = ys(j); val y2 = ys(i)
      if ((y1 > py) != (y2 > py)) {
        val x1 = xs(j); val x2 = xs(i)
        val xInt = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
        if (px < xInt) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Signed WINDING NUMBER at a point (the NONZERO fill rule's count —
    * the dual of `contains`' even-odd parity; SVG/OGC distinguish the
    * two and they differ exactly where same-orientation rings overlap):
    * each upward ray crossing counts +1, each downward −1, with the
    * identical crossing and x-intersection tests as the even-odd path
    * so the dyadic-exactness argument carries over unchanged. */
  def winding(px: Double, py: Double): Int = {
    if (px < minX || px > maxX || py < minY || py > maxY) return 0
    var w = 0
    val n = xs.length
    val prev = prevIdx
    var i = 0
    while (i < n) {
      val j = prev(i)
      val y1 = ys(j); val y2 = ys(i)
      if ((y1 > py) != (y2 > py)) {
        val x1 = xs(j); val x2 = xs(i)
        val xInt = x1 + (x2 - x1) * (py - y1) / (y2 - y1)
        if (px < xInt) w += (if (y2 > y1) 1 else -1)
      }
      i += 1
    }
    w
  }
}

object Geom {
  /** Region of a point among broadcast polygons; ties (overlaps) resolve
    * to the lowest region id; -1 when in no polygon (the reference then
    * drops the row: `filter(!is.na(Region))`, R:273-274). */
  def regionOf(polys: Array[Polygon], px: Double, py: Double): Int = {
    var best = -1
    var i = 0
    while (i < polys.length) {
      val p = polys(i)
      if ((best == -1 || p.regionId < best) && p.contains(px, py))
        best = p.regionId
      i += 1
    }
    best
  }

  /** The block-cover entry of a block some polygon edge crosses: its
    * points need the exact ray-cast (engine/Covering.Boundary). */
  val CoverBoundary: Int = Int.MinValue

  /** [[regionOf]] through a block cover (engine/Covering.Blocks): the
    * region of the point's `b` x `b` block when the block is
    * region-constant, else the exact ray-cast. `blockConst` is the
    * cover's per-block region (`CoverBoundary` = ray-cast), `nbx` its
    * block-grid width. Equal to regionOf by Covering's parity argument. */
  def regionOfCovered(polys: Array[Polygon], blockConst: Array[Int],
      nbx: Int, b: Int, px: Double, py: Double): Int = {
    val c = blockConst((py / b).toInt * nbx + (px / b).toInt)
    if (c != CoverBoundary) c else regionOf(polys, px, py)
  }

  /** Region of a point under the NONZERO (winding-number) fill rule;
    * lowest region id wins ties, -1 when no polygon's winding is
    * nonzero. The q194 dual of [[regionOf]]'s even-odd rule. */
  def windRegionOf(polys: Array[Polygon], px: Double, py: Double): Int = {
    var best = -1
    var i = 0
    while (i < polys.length) {
      val p = polys(i)
      if ((best == -1 || p.regionId < best) && p.winding(px, py) != 0)
        best = p.regionId
      i += 1
    }
    best
  }

  /** One Sutherland-Hodgman half-plane pass over a closed ring
    * (textbook convex-clipper step): keeps vertices with coordinate
    * `>= bound` (keepGE) or `<= bound` along the x (vertical=true) or
    * y axis, inserting the boundary intersection on each crossing edge
    * — intersection BEFORE the kept endpoint, the canonical emit order
    * the DuckDB oracle reproduces with (2i, 2i+1) sort keys. The
    * intersection arithmetic is written in the EXACT expression order
    * the oracle uses (slope form, see the inline comment): every
    * operation is IEEE-correctly-rounded in both engines, so results
    * match bit for bit; on this repo's dyadic-by-construction geometry
    * they are moreover EXACT dyadics for any integer clip bound.
    * Returns the new vertex count; output in (ox, oy), sized >= 2*n. */
  private def clipHalf(xs: Array[Double], ys: Array[Double], n: Int,
      vertical: Boolean, bound: Double, keepGE: Boolean,
      ox: Array[Double], oy: Array[Double]): Int = {
    @inline def in(x: Double, y: Double): Boolean = {
      val v = if (vertical) x else y
      if (keepGE) v >= bound else v <= bound
    }
    var m = 0
    var i = 0
    while (i < n) {
      val j = if (i == 0) n - 1 else i - 1
      val sx = xs(j); val sy = ys(j)
      val ex = xs(i); val ey = ys(i)
      val sIn = in(sx, sy); val eIn = in(ex, ey)
      if (sIn != eIn) {
        // SLOPE form, not the parametric-t form: the ratio
        // (e-s)_along / (e-s)_across is the LINE's slope, identical for
        // every sub-segment a previous pass produced — with integer
        // vertices and dyadic slopes (this world: 0, ±8, ∞) every
        // intersection coordinate stays an exact dyadic for ANY integer
        // clip bound, so shoelace sums are order-independent. The
        // t-form ((bound-s)/(e-s)) rounds whenever the sub-segment
        // length is not a power of two.
        if (vertical) {
          ox(m) = bound
          oy(m) = sy + ((ey - sy) / (ex - sx)) * (bound - sx)
        } else {
          ox(m) = sx + ((ex - sx) / (ey - sy)) * (bound - sy)
          oy(m) = bound
        }
        m += 1
      }
      if (eIn) { ox(m) = ex; oy(m) = ey; m += 1 }
      i += 1
    }
    m
  }

  /** Area of polygon INTERSECT axis-aligned rect [rx0,rx1]x[ry0,ry1]
    * plus the clipped vertex count — the vector-overlay primitive
    * (zonal area weighting, coverage fractions, tile pruning) via
    * Sutherland-Hodgman against the rect's four half-planes then the
    * shoelace sum. Rings clip independently; the signed ring areas SUM
    * (holes carry opposite orientation) and the absolute value is
    * taken once at the end. Shoelace terms are x_prev*y_i - x_i*y_prev
    * — the per-edge form the oracle's final self-join reproduces
    * term-for-term. */
  def clipRectArea(poly: Polygon, rx0: Double, ry0: Double,
      rx1: Double, ry1: Double): (Double, Int) = {
    var twice = 0.0
    var nv = 0
    var r = 0
    while (r < poly.nRings) {
      val (s, e) = poly.ringRange(r)
      val n0 = e - s
      // each pass at most doubles the count; 4 passes from n0
      val cap = n0 * 16 + 16
      val ax = new Array[Double](cap); val ay = new Array[Double](cap)
      val bx = new Array[Double](cap); val by = new Array[Double](cap)
      var i = 0
      while (i < n0) { ax(i) = poly.xs(s + i); ay(i) = poly.ys(s + i); i += 1 }
      var n = n0
      n = clipHalf(ax, ay, n, vertical = true, rx0, keepGE = true, bx, by)
      n = clipHalf(bx, by, n, vertical = true, rx1, keepGE = false, ax, ay)
      n = clipHalf(ax, ay, n, vertical = false, ry0, keepGE = true, bx, by)
      n = clipHalf(bx, by, n, vertical = false, ry1, keepGE = false, ax, ay)
      nv += n
      var k = 0
      while (k < n) {
        val j = if (k == 0) n - 1 else k - 1
        twice += ax(j) * ay(k) - ax(k) * ay(j)
        k += 1
      }
      r += 1
    }
    (math.abs(twice) / 2.0, nv)
  }
}
