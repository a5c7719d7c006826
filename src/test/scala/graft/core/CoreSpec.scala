package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Seeded pseudo-property tests (scalatestplus bridge unavailable in the
  * offline cache, so sampling is a plain seeded loop).
  */
trait SeededChecks {
  def checkN[A](n: Int)(gen: scala.util.Random => A)(body: A => Unit): Unit = {
    val rng = new scala.util.Random(42)
    (0 until n).foreach(_ => body(gen(rng)))
  }
}

class GridSpec_Test extends AnyFunSuite with SeededChecks {
  val g = GoodeGrid.reference

  test("reference grid constants (R:54,63,117)") {
    assert(g.nCells == 6961896L)
    assert(g.rows == 1737 && g.cols == 4008)
  }

  test("id <-> rowcol bijection over the full domain") {
    checkN(2000)(r => 1L + r.nextLong(g.nCells)) { id =>
      assert(g.id(g.row(id), g.col(id)) == id)
    }
    assert(g.row(1L) == 1 && g.col(1L) == 1)
    assert(g.row(g.nCells) == g.rows && g.col(g.nCells) == g.cols)
    assert(g.col(4008L) == 4008 && g.row(4008L) == 1)
    assert(g.col(4009L) == 1 && g.row(4009L) == 2)
  }

  test("centroid -> idAt round-trip") {
    checkN(2000)(r => 1L + r.nextLong(g.nCells)) { id =>
      assert(g.idAt(g.centroidX(id), g.centroidY(id)) == id)
    }
  }

  test("idAt outside extent is -1") {
    assert(g.idAt(g.xMin - 1.0, g.yMax - 5000.0) == -1L)
    assert(g.idAt(g.xMin + 5000.0, g.yMax + 1.0) == -1L)
  }
}

class IghSpec extends AnyFunSuite with SeededChecks {

  test("equator maps to y=0, x = R*lon") {
    val (x, y) = Igh.forward(0.0, 0.0)
    assert(math.abs(x) < 1e-6 && math.abs(y) < 1e-6)
    val (x2, _) = Igh.forward(90.0, 0.0)
    assert(math.abs(x2 - Igh.R * math.Pi / 2) < 1e-3)
  }

  test("forward/inverse round-trip across lobes and the blend latitude") {
    checkN(5000) { r =>
      (r.nextDouble() * 359.8 - 179.9, r.nextDouble() * 178.0 - 89.0)
    } { case (lon, lat) =>
      val (x, y) = Igh.forward(lon, lat)
      val (lon2, lat2) = Igh.inverse(x, y)
      assert(math.abs(lat2 - lat) < 1e-9, s"lat $lat -> $lat2")
      assert(math.abs(lon2 - lon) < 1e-7, s"lon $lon at lat $lat -> $lon2")
    }
  }

  test("continuity at the Mollweide/sinusoidal blend") {
    for (lon <- Seq(-170.0, -50.0, 0.0, 100.0, 179.0)) {
      val phi = 40.0 + 44.0 / 60 + 11.8 / 3600
      val (x1, y1) = Igh.forward(lon, phi - 1e-9)
      val (x2, y2) = Igh.forward(lon, phi + 1e-9)
      assert(math.abs(y1 - y2) < 1.0, s"y discontinuity at lon $lon: $y1 vs $y2")
      assert(math.abs(x1 - x2) < 10.0, s"x discontinuity at lon $lon: $x1 vs $x2")
    }
  }

  test("projected extent roughly matches the reference grid") {
    val (xw, _) = Igh.forward(-180.0, 0.0)
    assert(math.abs(xw - -20037508.34) < 10.0)
    val (_, yn) = Igh.forward(0.0, 90.0)
    assert(yn > 8.5e6 && yn < 8.8e6, s"north pole y = $yn")
  }
}

class H3LiteSpec extends AnyFunSuite with SeededChecks {

  test("encode/centroid stability: centroid re-encodes to same cell") {
    checkN(2000) { r =>
      (r.nextDouble() * 179.8 - 89.9, r.nextDouble() * 359.8 - 179.9,
        r.nextInt(16))
    } { case (lat, lng, res) =>
      val id = H3Lite.encode(lat, lng, res)
      val (clat, clng) = H3Lite.centroid(id)
      assert(H3Lite.encode(clat, clng, res) == id)
    }
  }

  test("parent nests with direct coarse encode") {
    checkN(2000) { r =>
      (r.nextDouble() * 179.8 - 89.9, r.nextDouble() * 359.8 - 179.9,
        1 + r.nextInt(15))
    } { case (lat, lng, res) =>
      val id = H3Lite.encode(lat, lng, res)
      assert(H3Lite.parent(id, res - 1) == H3Lite.encode(lat, lng, res - 1))
    }
  }

  test("kRing size and wrap") {
    val id = H3Lite.encode(0.0, 179.9, 4)
    val ring = H3Lite.kRing(id, 1)
    assert(ring.length == 9)
    assert(ring.distinct.length == 9)
    assert(ring.contains(id))
    val top = H3Lite.pack(4, (1 << 4) - 1, 0)
    assert(H3Lite.kRing(top, 1).length == 6)
  }

  test("ids are valid and res round-trips") {
    (0 to 15).foreach { res =>
      val id = H3Lite.encode(12.3, 45.6, res)
      assert(H3Lite.isValid(id) && H3Lite.res(id) == res)
    }
  }

  test("a grid table serializes as its key and reads back as the " +
    "JVM's cached table") {
    val t = H3Lite.table(1737, 4008, 9)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(t)
    out.close()
    assert(bytes.size < 1000, s"${bytes.size} bytes")
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back eq t)
  }

  test("wrapLng is bit-identical to the % chain") {
    def chain(lon: Double): Double =
      ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    var n = 0L
    var bad = List.empty[Double]
    def check(lon: Double): Unit = {
      n += 1
      if (java.lang.Double.doubleToRawLongBits(H3Lite.wrapLng(lon)) !=
          java.lang.Double.doubleToRawLongBits(chain(lon)) && bad.size < 5)
        bad ::= lon
    }
    // every lobe-gap cell of the headline grid, at the longitude its
    // H3 encode wraps
    val (rows, cols) = (1737, 4008)
    val t = H3Lite.table(rows, cols, 9)
    var gap = 0
    for (r <- 0 until rows; c <- 0 until cols) {
      val ri = t.inv(r)
      val lon = Igh.lonDegAt(ri, t.xs(c),
        if (ri.north) t.cmN(c) else t.cmS(c))
      if (!(lon + 180.0 >= 0.0 && lon + 180.0 < 360.0)) {
        gap += 1
        check(lon)
      }
    }
    assert(gap == 809669, "lobe-gap cells of the 1737x4008 grid")
    // signed zeros, NaN, infinities, the 1e12 cut-over
    Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e12, -1e12, 1e12 - 180.0, -1e12 - 180.0,
      Double.MaxValue, Double.MinPositiveValue, -Double.MinPositiveValue)
      .foreach(check)
    // multiples of 360 (as a = lon + 180 and as lon) and their +-1-ulp
    // neighbours, where a quotient a / 360 could round across an
    // integer; wrapLng needs no correction step only because
    // trunc(a / 360) is exact there (a * (1 / 360) is not: it gives
    // q = 5 for a = 1800 - 1 ulp)
    val rk = new scala.util.Random(360)
    val ks = (-4000L to 4000L) ++
      (0 to 31).flatMap(e => Seq(1L << e, (1L << e) - 1, 3L << e, 5L << e)) ++
      Seq.fill(20000)(1L + rk.nextInt(Int.MaxValue).toLong) ++
      Seq(2777777777L, 2777777778L)
    var badQ = List.empty[Double]
    for (k <- ks; s <- Seq(1L, -1L); base <- Seq(360.0 * k * s - 180.0,
        360.0 * k * s); lon <- Seq(base, math.nextUp(base),
        math.nextDown(base))) {
      check(lon)
      val a = lon + 180.0
      if (math.abs(a) < 1e12 && (a / 360.0).toLong !=
          new java.math.BigDecimal(a).divide(java.math.BigDecimal.valueOf(360),
            0, java.math.RoundingMode.DOWN).longValueExact && badQ.size < 5)
        badQ ::= a
    }
    assert(badQ.isEmpty, s"trunc(a / 360) inexact at ${badQ.mkString(", ")}")
    // m1 just under 360: m1 + 360 rounds to 720
    val edge = 180.0 - math.pow(2, -44)
    assert((edge + 180.0) + 360.0 == 720.0)
    check(edge)
    // seeded random doubles: raw bit patterns, and values spread over
    // the exact range and just past it
    val rnd = new scala.util.Random(12)
    for (_ <- 0 until 1000000)
      check(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    for (_ <- 0 until 1000000) {
      val mag = math.pow(10, rnd.nextDouble() * 13)
      check(if (rnd.nextBoolean()) mag else -mag)
    }
    for (_ <- 0 until 200000) check(rnd.nextDouble() * 2160.0 - 1080.0)
    assert(n > 2000000)
    assert(bad.isEmpty, s"wrapLng differs at " +
      bad.map(l => f"$l%s (0x${java.lang.Double.doubleToRawLongBits(l)}%x)")
        .mkString(", "))
  }
}

class GeomSpec extends AnyFunSuite with SeededChecks {

  /** Independent winding-number oracle. */
  private def windingContains(p: Polygon, px: Double, py: Double): Boolean = {
    var wn = 0
    val n = p.xs.length
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val (x1, y1, x2, y2) = (p.xs(i), p.ys(i), p.xs(j), p.ys(j))
      val isLeft = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
      if (y1 <= py) { if (y2 > py && isLeft > 0) wn += 1 }
      else if (y2 <= py && isLeft < 0) wn -= 1
      i += 1
    }
    wn != 0
  }

  test("ray-cast matches winding oracle on random convex polygons") {
    checkN(3000) { r =>
      val cx = r.nextDouble() * 100 - 50
      val cy = r.nextDouble() * 100 - 50
      val rad = 1.0 + r.nextDouble() * 29
      val k = 3 + r.nextInt(8)
      val poly = Polygon(1,
        Array.tabulate(k)(i => cx + rad * math.cos(2 * math.Pi * i / k)),
        Array.tabulate(k)(i => cy + rad * math.sin(2 * math.Pi * i / k)))
      (poly, r.nextDouble() * 120 - 60, r.nextDouble() * 120 - 60)
    } { case (poly, px, py) =>
      assert(poly.contains(px, py) == windingContains(poly, px, py))
    }
  }

  test("pinned cases: square") {
    val sq = Polygon(1, Array(0, 10, 10, 0).map(_.toDouble),
      Array(0, 0, 10, 10).map(_.toDouble))
    assert(sq.contains(5.5, 5.5))
    assert(!sq.contains(10.5, 5.5))
    assert(!sq.contains(-0.5, 5.5))
  }

  test("regionOf picks lowest region id on overlap, -1 outside") {
    val a = Polygon(2, Array(0.0, 10.0, 10.0, 0.0), Array(0.0, 0.0, 10.0, 10.0))
    val b = Polygon(1, Array(5.0, 15.0, 15.0, 5.0), Array(0.0, 0.0, 10.0, 10.0))
    assert(Geom.regionOf(Array(a, b), 7.5, 5.5) == 1)
    assert(Geom.regionOf(Array(a, b), 2.5, 5.5) == 2)
    assert(Geom.regionOf(Array(a, b), 20.0, 5.5) == -1)
  }

  test("clipRectArea: hand-computed triangle clips") {
    // right triangle (0,0)-(8,0)-(0,8), area 32
    val tri = Polygon(1, Array(0.0, 8.0, 0.0), Array(0.0, 0.0, 8.0))
    // rect containing it entirely
    assert(Geom.clipRectArea(tri, -1, -1, 10, 10)._1 == 32.0)
    // disjoint rect
    assert(Geom.clipRectArea(tri, 20, 20, 30, 30) == ((0.0, 0)))
    // left half [0,4]x[0,8]: trapezoid with parallel sides 8 and 4
    assert(Geom.clipRectArea(tri, 0, 0, 4, 8)._1 == 24.0)
    // unit cell [3,4]x[3,4]: x+y <= 8 everywhere inside -> full cell
    assert(Geom.clipRectArea(tri, 3, 3, 4, 4)._1 == 1.0)
    // cell [3,4]x[4,5]: area below x+y=8 is int_3^4 (4-x) dx = 0.5
    assert(Geom.clipRectArea(tri, 3, 4, 4, 5)._1 == 0.5)
  }

  test("clipRectArea: a hole subtracts (opposite-orientation ring)") {
    // outer square (0,0)-(8,8) CW-in-screen with hole (2,2)-(6,6)
    // reversed: clipped to a rect containing both, area 64 - 16
    val p = Polygon(1,
      Array(0.0, 8, 8, 0, /* hole, reversed */ 2, 2, 6, 6),
      Array(0.0, 0, 8, 8, /* hole */ 2, 6, 6, 2),
      ringStarts = Array(0, 4))
    assert(Geom.clipRectArea(p, -1, -1, 9, 9)._1 == 48.0)
    // a rect over the hole's interior only: zero coverage
    assert(Geom.clipRectArea(p, 3, 3, 5, 5)._1 == 0.0)
    // straddling the hole's left edge: [1,3]x[3,5] -> outer 4 - hole 2
    assert(Geom.clipRectArea(p, 1, 3, 3, 5)._1 == 2.0)
  }

  test("clipRectArea: world tile areas partition each region exactly") {
    val spec = graft.world.World.tiny
    val polys = graft.world.World.polygons(spec)
    val T = spec.tile
    polys.foreach { p =>
      // polygon's own shoelace area (exact dyadics end to end)
      var twice = 0.0
      val n = p.xs.length
      for (i <- 0 until n) {
        val j = (i + n - 1) % n
        twice += p.xs(j) * p.ys(i) - p.xs(i) * p.ys(j)
      }
      val whole = math.abs(twice) / 2.0
      val tiled = (0 until spec.nTiles).map { t =>
        val rx0 = (t % spec.tilesX) * T
        val ry0 = (t / spec.tilesX) * T
        Geom.clipRectArea(p, rx0, ry0, rx0 + T, ry0 + T)._1
      }.sum
      assert(tiled == whole, s"region ${p.regionId}: $tiled != $whole")
      assert(whole > 0)
    }
    // non-degenerate coverage: some tile is mostly inside a region
    // (no tile can be FULLY inside: regions are 30 cols wide and tiles
    // 16-aligned, so every tile touches a region boundary or the notch)
    assert(polys.exists(p => (0 until spec.nTiles).exists { t =>
      val rx0 = (t % spec.tilesX) * T
      val ry0 = (t / spec.tilesX) * T
      Geom.clipRectArea(p, rx0, ry0, rx0 + T, ry0 + T)._1 > 0.75 * T * T
    }), "fixture degenerate: no tile mostly covered by a region")
  }

  test("clipRectArea: unit-width slice decomposition of every PA rect " +
    "sums exactly to the direct clip (arbitrary integer bounds)") {
    val spec = graft.world.World.tiny
    val polys = graft.world.World.polygons(spec)
    var anyPartial = false
    for (k <- 0L until 8L; p <- polys) {
      val (x0, y0, x1, y1) =
        graft.world.World.paRect(k, spec.cols, spec.rows)
      assert(x0 >= 0 && y0 >= 0 && x1 <= spec.cols && y1 <= spec.rows,
        s"PA $k out of grid: ($x0,$y0,$x1,$y1)")
      val direct = Geom.clipRectArea(p, x0, y0, x1, y1)._1
      // the same area through DIFFERENT clip bounds: one-column slices
      val sliced = (x0 until x1).map(cx =>
        Geom.clipRectArea(p, cx, y0, cx + 1, y1)._1).sum
      assert(sliced == direct, s"PA $k region ${p.regionId}")
      val paArea = ((x1 - x0).toLong * (y1 - y0)).toDouble
      if (direct > 0 && direct < paArea) anyPartial = true
    }
    assert(anyPartial,
      "fixture degenerate: no PA straddles a region boundary")
  }

  test("winding number: agrees with even-odd on simple and holed rings, " +
    "diverges exactly on same-orientation overlap") {
    import graft.core.{Geom, Polygon}
    val simple = Polygon(1, Array[Double](0, 10, 10, 0),
      Array[Double](0, 0, 10, 10))
    val holed = Polygon(2, Array[Double](0, 10, 10, 0, 3, 3, 7, 7),
      Array[Double](0, 0, 10, 10, 3, 7, 7, 3), Array(0, 4))
    val overlap = Polygon(3, Array[Double](0, 10, 10, 0, 5, 15, 15, 5),
      Array[Double](0, 0, 10, 10, 5, 5, 15, 15), Array(0, 4))
    val probes = for (x <- 0 until 16; y <- 0 until 16)
      yield (x + 0.5, y + 0.5)
    probes.foreach { case (x, y) =>
      assert((simple.winding(x, y) != 0) == simple.contains(x, y))
      assert((holed.winding(x, y) != 0) == holed.contains(x, y))
    }
    // the overlap square: even-odd empties it, winding counts 2
    assert(!overlap.contains(7.5, 7.5) && overlap.winding(7.5, 7.5) == 2)
    assert(overlap.contains(2.5, 2.5) && overlap.winding(2.5, 2.5) == 1)
    // the overlap zone (5..10)² is inside BOTH polygons: lowest id wins
    assert(Geom.windRegionOf(Array(simple, overlap), 7.5, 7.5) == 1)
    // alone, the nonzero rule keeps the overlap zone (even-odd wouldn't)
    assert(Geom.windRegionOf(Array(overlap), 7.5, 7.5) == 3)
    assert(Geom.windRegionOf(Array(simple, overlap), 12.5, 7.5) == 3)
    assert(Geom.windRegionOf(Array(simple, overlap), 20.5, 2.5) == -1)
  }
}

class CoveringSpec extends AnyFunSuite with SeededChecks {
  import graft.engine.Covering

  test("segmentMeetsRect: pinned cases") {
    val r = (2.0, 2.0, 6.0, 6.0)
    def m(x1: Double, y1: Double, x2: Double, y2: Double) =
      Covering.segmentMeetsRect(x1, y1, x2, y2, r._1, r._2, r._3, r._4)
    assert(m(0, 0, 8, 8)) // diagonal through
    assert(m(3, 3, 4, 4)) // fully inside
    assert(m(0, 4, 8, 4)) // horizontal through
    assert(m(2, 0, 2, 8)) // along the left edge (closed rect)
    assert(!m(0, 0, 1, 8)) // left of rect
    assert(!m(0, 7, 8, 9)) // above, sloped
    assert(!m(7, 0, 9, 9)) // right of rect
  }

  test("every const block's region id equals the exact ray-cast for " +
    "EVERY point in the block; boundary and const blocks both occur") {
    val spec = graft.world.World.tiny
    val polys = graft.world.World.polygons(spec)
    val b = 8
    val blocks = Covering.build(polys, spec.rows, spec.cols, b)
    assert(blocks.nConst > 0 && blocks.nBoundary > 0)
    // the shortcut must cover a useful share of the plane, not a corner
    // (36/96 at the tiny 64x96 world; the interior share scales with
    // grid area while boundary scales with perimeter * B, so the real
    // 1737x4008 grid is overwhelmingly const)
    assert(blocks.nConst * 4 > blocks.const.length,
      s"covering too weak: ${blocks.nConst}/${blocks.const.length} const")
    var checked = 0
    for (row <- 1 to spec.rows; colN <- 1 to spec.cols) {
      val px = colN - 1 + 0.5
      val py = row - 1 + 0.5
      val id = (py / b).toInt * blocks.nbx + (px / b).toInt
      val c = blocks.const(id)
      if (c != Covering.Boundary) {
        assert(c == Geom.regionOf(polys, px, py),
          s"block $id claims $c but point ($px,$py) ray-casts to " +
            s"${Geom.regionOf(polys, px, py)}")
        checked += 1
      }
    }
    assert(checked > 0)
  }

  test("holes stay exact: a block strictly inside a hole is const -1, " +
    "one strictly inside the ring annulus is const 1, and every point " +
    "agrees with the exact ray-cast") {
    // outer 0..64 square with a 20..44 hole; 8x8 blocks: block (1,1) =
    // [8,16]^2 sits strictly inside the annulus (edges at 0/64 and
    // 20/44), block (3,3) = [24,32]^2 strictly inside the hole
    val holed = Polygon(1,
      Array(0, 64, 64, 0, 20, 44, 44, 20).map(_.toDouble),
      Array(0, 0, 64, 64, 20, 20, 44, 44).map(_.toDouble),
      Array(0, 4))
    val blocks = Covering.build(Array(holed), 64, 64, 8)
    assert(blocks.const(1 * blocks.nbx + 1) == 1, "annulus block")
    assert(blocks.const(3 * blocks.nbx + 3) == -1, "hole-interior block")
    for (row <- 1 to 64; colN <- 1 to 64) {
      val px = colN - 1 + 0.5
      val py = row - 1 + 0.5
      val c = blocks.const((py / 8).toInt * blocks.nbx + (px / 8).toInt)
      if (c != Covering.Boundary)
        assert(c == Geom.regionOf(Array(holed), px, py))
    }
  }

  test("headline covering: the REAL 1737x4008 geometry's block map " +
    "agrees with the exact ray-cast on a dense sample, the interior " +
    "share dominates, and classifyAtCovered == classifyAt") {
    val spec = graft.engine.Headline.spec
    val polys = graft.engine.Headline.polys
    val b = graft.engine.Headline.CoverB
    val t0 = System.nanoTime()
    val blocks = graft.engine.Headline.cover
    val buildMs = (System.nanoTime() - t0) / 1e6
    info(f"covering build: $buildMs%.0f ms, const ${blocks.nConst}/" +
      s"${blocks.const.length} blocks")
    // at B=8 on the real geometry boundary ~ perimeter*B/area: const
    // blocks must dominate for the short circuit to matter
    assert(blocks.nConst * 10 > blocks.const.length * 9,
      s"covering too weak: ${blocks.nConst}/${blocks.const.length}")
    // dense deterministic sample (every 7th cell) + the fused classify:
    // region equality is the full property (classify depends on the
    // point only through the region id)
    val pf = Cart.PackedForest(
      (1 to spec.nRegions).flatMap(r => (1 to 5).map(d =>
        (r, d) -> (Cart.Leaf(0.6, 1, 0.0): Cart.Tree))).toMap,
      spec.nRegions, 5)
    val bytes = Codec.encodeF32(Array(Array.fill(4)(0.5f)))
    var id = 1L
    while (id <= spec.nCells) {
      val px = ((id - 1) % spec.cols).toDouble + 0.5
      val py = ((id - 1) / spec.cols).toDouble + 0.5
      val c = blocks.const((py / b).toInt * blocks.nbx + (px / b).toInt)
      val exact = Geom.regionOf(polys, px, py)
      if (c != Covering.Boundary)
        assert(c == exact, s"block claims $c, exact $exact at ($px,$py)")
      assert(Cart.PackedForest.classifyAtCovered(pf, polys, blocks.const,
        blocks.nbx, b, bytes, 0, px, py, 4, 0.005, 0.5) ==
        Cart.PackedForest.classifyAt(pf, polys, bytes, 0, px, py, 4,
          0.005, 0.5))
      id += 7
    }
  }

  test("oracle guard bands: every q75/q67 fixture value sits far from " +
    "its floor/round boundary, so a last-ulp libm divergence between " +
    "the JVM and DuckDB cannot silently flip a compared value") {
    // q75: the 6144 sampled Goode cells. Floors feed the H3 row/col
    // bits; ROUND(x*1e6) boundaries sit at half-integers. Cross-engine
    // divergence is a few ulps (floor units ~3e-13; round units ~1e-7),
    // so thresholds of 1e-6 / 1e-5 sit 2-6 orders above the failure
    // scale and comfortably under the measured minima (7.7e-5 / 1.4e-4).
    // Deterministic fixture: measured minima, not statistical hopes.
    def fracDist(v: Double): Double = {
      val f = v - math.floor(v)
      math.min(f, 1.0 - f)
    }
    def roundDist(v: Double): Double = math.abs(v - math.round(v).toDouble)
    var minFloor = Double.MaxValue
    var minRound = Double.MaxValue
    (0L until 6144L).foreach { k =>
      val id = k * 1133L + 1
      val (lat, lng) = H3Lite.gridCellToLatLng(id, 1737, 4008)
      minFloor = math.min(minFloor, fracDist((lat + 90.0) / 180.0 * 512))
      minFloor = math.min(minFloor, fracDist((lng + 180.0) / 360.0 * 1024))
      minRound = math.min(minRound, roundDist(lat * 1e6))
      minRound = math.min(minRound, roundDist(lng * 1e6))
    }
    info(f"q75 min floor distance: $minFloor%.3e, min round distance: $minRound%.3e")
    assert(minFloor > 1e-6, f"a sampled Goode cell sits $minFloor%.2e " +
      "from an H3 floor boundary - cross-libm flip risk; adjust the sample")
    assert(minRound > 1e-5, f"a sampled Goode cell sits $minRound%.2e " +
      "from a 1e-6-deg round boundary; adjust the sample")
    // q67: s*m / t*m floor distances for the tiny-world S2 fixture
    val spec = graft.world.World.tiny
    val m = 1 << 10
    var minS2 = Double.MaxValue
    (1L to spec.nCells).foreach { id =>
      val lat = (((id - 1) / spec.cols) + 0.5) / spec.rows * 180.0 - 90.0
      val lng = (((id - 1) % spec.cols) + 0.5) / spec.cols * 360.0 - 180.0
      val phi = lat * (math.Pi / 180.0)
      val lam = lng * (math.Pi / 180.0)
      val cosPhi = math.cos(phi)
      val (_, u, v) = S2Lite.xyzToFaceUv(cosPhi * math.cos(lam),
        cosPhi * math.sin(lam), math.sin(phi))
      minS2 = math.min(minS2, fracDist(S2Lite.uvToSt(u) * m))
      minS2 = math.min(minS2, fracDist(S2Lite.uvToSt(v) * m))
    }
    info(f"q67 min s*m/t*m floor distance: $minS2%.3e")
    assert(minS2 > 1e-6, f"an S2 fixture point sits $minS2%.2e from an " +
      "ST cell boundary - cross-libm flip risk; adjust the fixture")
  }

  test("ragged grids: block size need not divide rows/cols (the real " +
    "1737x4008 grid with B=8), edge blocks clip to the extent") {
    val spec = graft.world.World.tiny
    val polys = graft.world.World.polygons(spec)
    // 13 divides neither 64 nor 96
    val b = 13
    val blocks = Covering.build(polys, spec.rows, spec.cols, b)
    assert(blocks.nbx == (spec.cols + b - 1) / b &&
      blocks.nby == (spec.rows + b - 1) / b)
    for (row <- 1 to spec.rows; colN <- 1 to spec.cols) {
      val px = colN - 1 + 0.5
      val py = row - 1 + 0.5
      val c = blocks.const((py / b).toInt * blocks.nbx + (px / b).toInt)
      if (c != Covering.Boundary)
        assert(c == Geom.regionOf(polys, px, py))
    }
  }
}

class CodecSpec extends AnyFunSuite {

  test("f32 multiband round-trip is exact") {
    val bands = Array(
      Array(0.0f, 1.5f, -2.25f, Float.NaN),
      Array(100f, 200f, 255f, 0.0009765625f))
    val bytes = Codec.encodeF32(bands)
    assert(bytes.length == 4 * 4 * 2)
    val b0 = Codec.decodeF32Band(bytes, 4, 0)
    val b1 = Codec.decodeF32Band(bytes, 4, 1)
    assert(java.util.Arrays.equals(
      b0.map(java.lang.Float.floatToRawIntBits),
      bands(0).map(java.lang.Float.floatToRawIntBits)))
    assert(b1.sameElements(bands(1)))
    assert(Codec.bandCount(bytes, 4) == 2)
  }

  test("png16 round-trip PSNR >= 40 dB on loss-like data") {
    val w = 16; val h = 16
    val band = Array.tabulate(w * h)(i => ((i * 37 % 1024) / 1024.0).toFloat)
    val png = Codec.encodePng16(band, w, h)
    val back = Codec.decodePng16(png)
    val p = Codec.psnr(band, back, peak = 1.0)
    assert(p >= 40.0, s"PSNR $p")
  }

  test("jpeg gray round-trip: smooth data >= 40 dB at quality 1.0; " +
    "noise decodes deterministically at full size") {
    val w = 64; val h = 64
    // smooth gradient — the regime where baseline JPEG is near-lossless
    val smooth = Array.tabulate(w * h)(i =>
      (128.0 + 100.0 * math.sin(i % w / 9.0) * math.cos(i / w / 7.0)).toFloat)
    val back = Codec.decodeJpegGray(Codec.encodeJpegGray(smooth, w, h))
    assert(back.length == w * h)
    val ref = smooth.map(v => math.max(0, math.min(255, math.round(v))).toFloat)
    val p = Codec.psnr(ref, back, peak = 255.0)
    assert(p >= 40.0, s"smooth-gradient JPEG PSNR $p")
    // hash noise — worst case for a DCT codec; pin determinism + shape,
    // and that decode goes through the real codec (inexact but close)
    val noise = Array.tabulate(w * h)(i =>
      ((i * 2654435761L % 4294967296L) % 256).toFloat)
    val enc = Codec.encodeJpegGray(noise, w, h)
    val dec1 = Codec.decodeBand("jpeg", enc, w * h, 0)
    val dec2 = Codec.decodeBand("jpeg", enc, w * h, 0)
    assert(java.util.Arrays.equals(dec1, dec2))
    assert(dec1.length == w * h && dec1.forall(v => v >= 0 && v <= 255))
  }

  test("psnr is infinite for identical, finite for perturbed") {
    val a = Array.tabulate(64)(_.toFloat)
    assert(Codec.psnr(a, a, 63.0).isPosInfinity)
    val b = a.clone(); b(0) += 1.0f
    assert(Codec.psnr(a, b, 63.0) > 0 && !Codec.psnr(a, b, 63.0).isPosInfinity)
  }

  test("phash deterministic and sensitive") {
    val w = 16; val h = 16
    val a = Array.tabulate(w * h)(i => (i % 7).toFloat)
    val b = Array.tabulate(w * h)(i => ((i / 16) % 5).toFloat)
    assert(Codec.phash(a, w, h) == Codec.phash(a.clone(), w, h))
    assert(Codec.phash(a, w, h) != Codec.phash(b, w, h))
  }
}

class CartSpec extends AnyFunSuite {

  test("single perfect split on 1 feature") {
    val xs = Array.tabulate(40)(i => Array(i.toDouble))
    val y = Array.tabulate(40)(i => if (i < 20) 0.0 else 1.0)
    val t = Cart.fit(xs, y, Cart.Params(minSplit = 10, minBucket = 3, cp = 0.01))
    t match {
      case Cart.Split(0, thr, lo, hi, _, _, _) =>
        assert(thr == 19.5)
        assert(lo.asInstanceOf[Cart.Leaf].value == 0.0)
        assert(hi.asInstanceOf[Cart.Leaf].value == 1.0)
      case other => fail(s"expected root split, got $other")
    }
  }

  test("picks the more informative of two features") {
    val rng = new scala.util.Random(42)
    val xs = Array.tabulate(60)(i => Array(rng.nextDouble(), (i % 2).toDouble))
    val y = Array.tabulate(60)(i => (i % 2).toDouble)
    val t = Cart.fit(xs, y, Cart.Params(minSplit = 10, minBucket = 3, cp = 0.01))
    t match {
      case s: Cart.Split => assert(s.feature == 1)
      case other => fail(s"expected split, got $other")
    }
  }

  test("cp gate stops weak splits; minsplit stops small nodes") {
    val xs = Array.tabulate(10)(i => Array(i.toDouble))
    val y = Array.tabulate(10)(i => if (i < 5) 0.0 else 1.0)
    assert(Cart.fit(xs, y, Cart.Params()) == Cart.Leaf(0.5, 10, 2.5))
  }

  test("prune collapses low-gain subtrees (cp=0.02, R:313)") {
    val xs = Array.tabulate(100)(i => Array(i.toDouble))
    val y = Array.tabulate(100)(i =>
      if (i < 50) 0.0 else if (i < 75) 1.0 else 1.02)
    val full = Cart.fit(xs, y, Cart.Params(minSplit = 10, minBucket = 5, cp = 1e-7))
    assert(full.nLeaves >= 3)
    val pruned = Cart.prune(full, 0.02)
    assert(pruned.nLeaves == 2, s"pruned to ${pruned.nLeaves} leaves")
    assert(Cart.prune(full, 1.1).nLeaves == 1)
  }

  test("row-table grid->H3 encode is bit-identical to the direct " +
    "trig-per-cell inverse (all specs, boundary rows, random cells)") {
    val rnd = new scala.util.Random(11)
    for ((rows, cols, res) <- Seq((64, 96, 9), (1737, 4008, 9),
        (1737, 4008, 4), (50, 72, 7))) {
      val n = rows.toLong * cols
      // every row at a fixed col + random cells + first/last ids
      val ids = (0 until rows).map(r => r.toLong * cols + 1 + (r * 7) % cols) ++
        (0 until 2000).map(_ => 1L + math.abs(rnd.nextLong()) % n) ++
        Seq(1L, n)
      ids.foreach { id =>
        assert(H3Lite.gridCellToH3(id, rows, cols, res) ==
          H3Lite.gridCellToH3Direct(id, rows, cols, res),
          s"id $id in ${rows}x$cols res $res")
      }
    }
    // every cell of the headline grid at its res 9: the row-table path
    // wraps longitude without fmod where that is exact, and a sample
    // cannot show that no cell of the grid takes the other branch wrong
    val (rows, cols, res) = (1737, 4008, 9)
    var mismatches = 0L
    var first = 0L
    var id = 1L
    while (id <= rows.toLong * cols) {
      if (H3Lite.gridCellToH3(id, rows, cols, res) !=
          H3Lite.gridCellToH3Direct(id, rows, cols, res)) {
        if (mismatches == 0) first = id
        mismatches += 1
      }
      id += 1
    }
    assert(mismatches == 0, s"$mismatches cells differ, first id $first")
  }

  test("banded edge index: contains equals the linear scan on random " +
    "polygons, densified strips, and band-boundary points") {
    val rnd = new scala.util.Random(7)
    val polys = Seq.tabulate(20) { pi =>
      val n = 3 + rnd.nextInt(40)
      // star polygon around a centre: simple (non-self-intersecting)
      val cx = rnd.nextDouble() * 100
      val cy = rnd.nextDouble() * 100
      val pts = (0 until n).map { k =>
        val a = 2 * math.Pi * k / n
        val r = 5 + rnd.nextDouble() * 30
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      graft.core.Polygon(pi + 1, pts.map(_._1).toArray, pts.map(_._2).toArray)
    } ++ graft.world.World
      .densify(graft.world.World.polygons(graft.world.World.tiny), 64)
    polys.foreach { p =>
      // random points + points pinned to exact band boundaries
      val nBands = math.max(1, math.min(256, p.xs.length))
      val bandH = (p.maxY - p.minY) / nBands
      val probes =
        (0 until 500).map(_ => (p.minX - 5 + rnd.nextDouble() * (p.maxX - p.minX + 10),
          p.minY - 5 + rnd.nextDouble() * (p.maxY - p.minY + 10))) ++
        (0 until nBands).map(b => (p.minX + (p.maxX - p.minX) / 3,
          p.minY + b * bandH)) ++
        p.ys.indices.map(i => (p.minX + 1e-3, p.ys(i))) // vertex ys
      probes.foreach { case (px, py) =>
        assert(p.contains(px, py) == p.containsLinear(px, py),
          s"poly ${p.regionId} point ($px, $py)")
      }
    }
  }

  test("multi-ring polygons: even-odd hole/island semantics, banded " +
    "index equals linear scan, densify preserves containment") {
    val rnd = new scala.util.Random(41)
    // concentric-square rings: outer, hole, island-in-hole — the
    // even-odd parity alternates in, out, in again
    val nested = graft.core.Polygon(1,
      Array[Double](0, 12, 12, 0, 2, 10, 10, 2, 4, 8, 8, 4),
      Array[Double](0, 0, 12, 12, 2, 2, 10, 10, 4, 4, 8, 8),
      Array(0, 4, 8))
    assert(nested.contains(1.0, 1.0))   // outer band
    assert(!nested.contains(3.0, 3.0))  // inside the hole
    assert(nested.contains(6.0, 6.0))   // island inside the hole
    assert(!nested.contains(13.0, 6.0)) // outside

    // regionOf: a point in region 1's hole belongs to overlapping
    // region 2 only; lowest id still wins where both contain
    val r2 = graft.core.Polygon(2,
      Array[Double](1, 11, 11, 1), Array[Double](1, 1, 11, 11))
    val layer = Array(nested, r2)
    assert(graft.core.Geom.regionOf(layer, 3.0, 3.0) == 2) // hole of 1
    assert(graft.core.Geom.regionOf(layer, 6.0, 6.0) == 1) // island, both
    assert(graft.core.Geom.regionOf(layer, 0.5, 0.5) == 1) // only 1
    assert(graft.core.Geom.regionOf(layer, 13.0, 6.0) == -1)

    // banded == linear on random multi-ring layers (outer star + a
    // small square hole inside it)
    (0 until 10).foreach { trial =>
      val n = 8 + rnd.nextInt(30)
      val cx = rnd.nextDouble() * 100
      val cy = rnd.nextDouble() * 100
      val outer = (0 until n).map { k =>
        val a = 2 * math.Pi * k / n
        val r = 20 + rnd.nextDouble() * 20
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val hole = Seq((cx - 3, cy - 3), (cx + 3, cy - 3),
        (cx + 3, cy + 3), (cx - 3, cy + 3))
      val pts = outer ++ hole
      val p = graft.core.Polygon(trial + 1,
        pts.map(_._1).toArray, pts.map(_._2).toArray, Array(0, n))
      (0 until 500).foreach { _ =>
        val px = p.minX - 5 + rnd.nextDouble() * (p.maxX - p.minX + 10)
        val py = p.minY - 5 + rnd.nextDouble() * (p.maxY - p.minY + 10)
        assert(p.contains(px, py) == p.containsLinear(px, py),
          s"trial $trial point ($px, $py)")
      }
      assert(!p.contains(cx, cy), s"trial $trial: hole centre not empty")
      // densify: same containment on a probe grid (ring-aware edges)
      val d = graft.world.World.densify(Array(p), 4)(0)
      (0 until 200).foreach { _ =>
        val px = p.minX + rnd.nextDouble() * (p.maxX - p.minX)
        val py = p.minY + rnd.nextDouble() * (p.maxY - p.minY)
        assert(d.contains(px, py) == p.containsLinear(px, py),
          s"densified trial $trial point ($px, $py)")
      }
    }
  }

  test("SimHash16 one-pass expression equals the per-bit fold reference") {
    import org.apache.spark.unsafe.types.UTF8String
    def ref(text: String): Long = {
      val toks = text.split(" ", -1)
      val codes = toks.map { tk =>
        val cps = tk.codePoints().toArray
        def cp(i: Int): Long = if (i < cps.length) cps(i).toLong else 0L
        cp(0) * 961 + cp(1) * 31 + cp(2)
      }
      (0 until 16).map { b =>
        val signSum = codes.map(c => ((c >> b) & 1L) * 2 - 1).sum
        if (signSum > 0) 1L << b else 0L
      }.sum
    }
    val cases = Seq("", " ", "a", "ab cd ef", "a b  c ", "the a of spark",
      "hello world the a of vector stream", "x" * 50 + " yz")
    cases.foreach { t =>
      val got = graft.sql.SimHash16.eval(UTF8String.fromString(t))
      assert(got == ref(t), s"'$t'")
    }
  }

  test("checkpoint fingerprint is a digest: hashCode-colliding inputs " +
    "get distinct fingerprints") {
    import graft.engine.Checkpoint.fingerprint
    // "Aa" and "BB" collide under String.hashCode (the old scheme); a
    // collision here would silently resume from a stale snapshot.
    assert("Aa".hashCode == "BB".hashCode)
    assert(fingerprint("Aa") != fingerprint("BB"))
    assert(fingerprint("cells", 1, 2.0) == fingerprint("cells", 1, 2.0))
    assert(fingerprint("x").length == 32)
  }

  test("predict descends correctly; importance sums gains") {
    val xs = Array.tabulate(40)(i => Array(i.toDouble, 0.0))
    val y = Array.tabulate(40)(i => if (i < 20) 3.0 else 7.0)
    val t = Cart.fit(xs, y, Cart.Params(minSplit = 10, minBucket = 3, cp = 0.01))
    assert(t.predict(Array(5.0, 0.0)) == 3.0)
    assert(t.predict(Array(25.0, 0.0)) == 7.0)
    val imp = Cart.importance(t, 2)
    assert(imp(0) > 0 && imp(1) == 0.0)
  }
}

class HistEqSpec extends AnyFunSuite {

  test("HistEqStats: equals brute-force equalization, skips NaN padding " +
    "without position weight, maps a constant tile to all-255, and fails " +
    "loudly on non-integral or out-of-range band values") {
    import org.apache.spark.unsafe.types.UTF8String
    val f32 = UTF8String.fromString("f32")
    def run(band1: Array[Float]): (Int, Long, Long) = {
      // band 0 is a decoy (HistEqStats must read band 1 only)
      val bytes = Codec.encodeF32(Array(Array.fill(band1.length)(999f), band1))
      val r = graft.sql.HistEqStats.eval(bytes, f32, band1.length, 1)
      (r.getInt(0), r.getLong(1), r.getLong(2))
    }
    def brute(band1: Array[Float]): (Int, Long, Long) = {
      val valid = band1.zipWithIndex.filterNot(_._1.isNaN)
      val n = valid.length
      def e(v: Float): Long = 255L * valid.count(_._1 <= v) / n
      (n, valid.map(p => e(p._1)).sum,
        valid.map { case (v, i) => (i + 1) * e(v) }.sum)
    }
    // mixed values with duplicates, a NaN padding pixel mid-payload
    // (its position weight must vanish, and later pixels keep THEIR
    // payload positions), and the 0/255 extremes
    val mixed = Array(3f, 0f, 255f, 3f, Float.NaN, 17f, 0f, 200f)
    assert(run(mixed) == brute(mixed))
    // constant tile: cdf(v) = n for every pixel, so e = 255 everywhere
    val const = Array.fill(6)(7f)
    assert(run(const) == (6, 6 * 255L, (1 to 6).map(_ * 255L).sum))
    // deterministic pseudo-random payload cross-checked against brute
    val rnd = Array.tabulate(64)(i =>
      (graft.world.World.h(i.toLong * 31 + 7) % 256).toFloat)
    assert(run(rnd) == brute(rnd))
    // contract violations fail loudly, never mis-bin
    intercept[IllegalArgumentException] { run(Array(1f, 256f)) }
    intercept[IllegalArgumentException] { run(Array(1f, -2f)) }
    intercept[IllegalArgumentException] { run(Array(1f, 3.5f)) }
  }
}
