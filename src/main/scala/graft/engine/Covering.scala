package graft.engine

import graft.core.{Geom, Polygon}

/** Block covering for the PIP join (G3) — the standard planetary-scale
  * refinement: partition the point plane into BxB blocks, classify each
  * block ONCE driver-side as either region-constant (no polygon edge
  * crosses the block rectangle, so the even-odd parity — and therefore
  * `regionOf` — is constant over the whole block) or boundary (some
  * edge crosses: points need the exact ray-cast). The classification is
  * a tiny broadcastable array (rows*cols/B^2 entries), interior points
  * short-circuit to an O(1) lookup, and only boundary-block points pay
  * the ray-cast — at scale the exact-test fraction falls to
  * ~perimeter*B/area. The reference has no covering (it ray-casts every
  * cell, `Supplemental_Data_1.R:884-912` via over()); this is the
  * engine's scale path, proven equal to the exact join by q72's oracle
  * (the same SQL ray-cast as q21).
  *
  * Correctness: ray-cast parity w.r.t. one polygon changes only when
  * crossing one of its edges, so if NO ring edge of ANY polygon
  * intersects the closed block rectangle, every polygon's
  * contains-status is uniform over the (connected) rectangle and
  * `regionOf` equals its value at the block center. Edge-rectangle
  * intersection is exact (Liang-Barsky clip), not a bbox overestimate.
  */
object Covering {

  /** Block grid over points (px, py) in (0, cols) x (0, rows):
    * block (bi, bj) covers the closed rect
    * [bj*b, (bj+1)*b] x [bi*b, (bi+1)*b]; blockId = bi * nbx + bj.
    * `const(blockId)` = uniform region id (-1 = outside every polygon),
    * or `Boundary` when the block needs per-point ray-casts. */
  final case class Blocks(nbx: Int, nby: Int, b: Int, const: Array[Int]) {
    def nBoundary: Int = const.count(_ == Boundary)
    def nConst: Int = const.length - nBoundary
  }

  val Boundary: Int = Geom.CoverBoundary

  /** Does segment (x1,y1)-(x2,y2) intersect the closed axis-aligned
    * rect [xmin,xmax] x [ymin,ymax]? Liang-Barsky parametric clip. */
  private[graft] def segmentMeetsRect(x1: Double, y1: Double,
      x2: Double, y2: Double, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Boolean = {
    val dx = x2 - x1
    val dy = y2 - y1
    var t0 = 0.0
    var t1 = 1.0
    // clip against p*t <= q for the four half-planes
    def clip(p: Double, q: Double): Boolean = {
      if (p == 0.0) q >= 0.0 // parallel: inside iff q >= 0
      else {
        val t = q / p
        if (p < 0.0) { if (t > t0) t0 = t }
        else { if (t < t1) t1 = t }
        t0 <= t1
      }
    }
    clip(-dx, x1 - xmin) && clip(dx, xmax - x1) &&
      clip(-dy, y1 - ymin) && clip(dy, ymax - y1)
  }

  /** Classify every block of the rows x cols point grid. Block size
    * need not divide the grid — edge blocks are ragged (their rects
    * clip to the grid extent), so e.g. 8x8 blocks work on the real
    * 1737x4008 reference grid. */
  def build(polys: Array[Polygon], rows: Int, cols: Int, b: Int): Blocks = {
    require(b > 0, s"block size $b must be positive")
    val nbx = (cols + b - 1) / b
    val nby = (rows + b - 1) / b
    val const = new Array[Int](nbx * nby)
    var bi = 0
    while (bi < nby) {
      val ymin = (bi * b).toDouble
      val ymax = math.min((bi + 1) * b, rows).toDouble
      var bj = 0
      while (bj < nbx) {
        val xmin = (bj * b).toDouble
        val xmax = math.min((bj + 1) * b, cols).toDouble
        var crossed = false
        var pi = 0
        while (pi < polys.length && !crossed) {
          val p = polys(pi)
          // bbox precheck: an edge of a polygon whose bounding box
          // misses the rect cannot meet it — O(1) skip per polygon
          // instead of O(edges) clips (the usual case for strip-shaped
          // regions at 100k+ blocks)
          val bboxMisses = p.maxX < xmin || p.minX > xmax ||
            p.maxY < ymin || p.minY > ymax
          var r = 0
          while (!bboxMisses && r < p.nRings && !crossed) {
            val (s, e) = p.ringRange(r)
            var i = s
            while (i < e && !crossed) {
              val j = if (i + 1 == e) s else i + 1 // ring closure edge
              if (segmentMeetsRect(p.xs(i), p.ys(i), p.xs(j), p.ys(j),
                  xmin, ymin, xmax, ymax))
                crossed = true
              i += 1
            }
            r += 1
          }
          pi += 1
        }
        const(bi * nbx + bj) =
          if (crossed) Boundary
          else Geom.regionOf(polys, (xmin + xmax) / 2, (ymin + ymax) / 2)
        bj += 1
      }
      bi += 1
    }
    Blocks(nbx, nby, b, const)
  }
}
