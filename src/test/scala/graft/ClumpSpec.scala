package graft


import graft.world.World

/** Independent (non-SQL) anchors for q140 (hierarchical patch clump)
  * and q141 (hillshade). The clump is recomputed by a plain-Scala FLAT
  * flood fill (no tiles, no union-find sharing with the engine), so the
  * two-level decomposition is pinned against a single-level reference
  * from a direction the DuckDB oracle (recursive CTE) does not share;
  * fixture-shape assertions prove the hierarchy is actually exercised
  * (cross-tile merges, multi-tile chains, interior-only fragments).
  * Hillshade is recomputed scalar-side with the same operation order
  * and compared BIT-EXACTLY — the float-determinism contract the query
  * comment claims.
  */
class ClumpSpec extends SparkSpec {

  private val spec = World.tiny
  private val C = spec.cols
  private val R = spec.rows
  private val N = spec.nCells.toInt
  private val T = spec.tile
  private val TX = spec.tilesX

  /** The q140 class field: the q131 iso surface (terrain + roughness)
    * thresholded at its midpoint, regenerated scalar-side. */
  private def cls(id: Long): Int = {
    val B = 8; val cxN = C / B + 1
    def corner(cx: Long, cy: Long): Long =
      World.h2((cy * cxN + cx) * 53 + 11) % 4000
    val x = (id - 1) % C; val y = (id - 1) / C
    val (cx, fx) = (x / B, x % B); val (cy, fy) = (y / B, y % B)
    val elev = (B - fx) * (B - fy) * corner(cx, cy) +
      fx * (B - fy) * corner(cx + 1, cy) +
      (B - fx) * fy * corner(cx, cy + 1) + fx * fy * corner(cx + 1, cy + 1)
    if (elev + World.h2(id * 29 + 5) % 40000 > 148000L) 1 else 0
  }

  /** Flat scalar flood fill: cell -> patch (min reachable cell id). */
  private def scalarPatches: Array[Long] = {
    val patch = Array.fill[Long](N + 1)(0L)
    var id = 1
    while (id <= N) {
      if (patch(id) == 0L) {
        // BFS from the smallest unvisited cell: every cell reached is
        // labeled with this root, which is the component minimum
        // because ids are visited in ascending order
        val q = scala.collection.mutable.Queue(id.toLong)
        patch(id) = id.toLong
        while (q.nonEmpty) {
          val c = q.dequeue()
          val x = (c - 1) % C; val y = (c - 1) / C
          Seq((x > 0, c - 1), (x < C - 1, c + 1),
            (y > 0, c - C), (y < R - 1, c + C)).foreach {
            case (ok, nb) =>
              if (ok && patch(nb.toInt) == 0L && cls(nb) == cls(c)) {
                patch(nb.toInt) = id.toLong
                q.enqueue(nb)
              }
          }
        }
      }
      id += 1
    }
    patch
  }

  private def tileOf(id: Long): Long = {
    val x = (id - 1) % C; val y = (id - 1) / C
    (y / T) * TX + x / T
  }

  test("q140 patch clump equals a flat scalar flood fill") {
    val patch = scalarPatches
    val expected = (1L to N.toLong).groupBy(id => patch(id.toInt)).toSeq
      .map { case (p, cells) => (p, cls(p), cells.size.toLong) }
      .sortBy(_._1)
    val got = SparkEntry.queries("q140_patch_clump")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q140 fixture exercises the two-level hierarchy") {
    val patch = scalarPatches
    val tilesByPatch = (1L to N.toLong).groupBy(id => patch(id.toInt))
      .map { case (p, cells) => p -> cells.map(tileOf).toSet }
    // cross-tile merges happen (level 2 has real edges)
    assert(tilesByPatch.values.count(_.size >= 2) >= 10,
      "fixture degenerate: almost no patch crosses a tile border")
    // some chain spans 3+ tiles, so min-label propagation needs >1 round
    assert(tilesByPatch.values.exists(_.size >= 3),
      "fixture degenerate: no multi-tile chain")
    // interior-only fragments exist (the coalesce re-attach path)
    assert(tilesByPatch.values.count(_.size == 1) >= 10,
      "fixture degenerate: every patch crosses tiles")
  }

  test("ClumpLocal labels a sparse tile correctly") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // 4x4 tile, pixels {0,1,4,6,7,10,15}: classes chosen so
    // {0,1} join (same class, adjacent), {6,7} join, {10} joins {6,7}
    // vertically, {4} is adjacent to 0 but class-blocked, {15} isolated
    val pixs = Array(0, 1, 4, 6, 7, 10, 15)
    val clss = Array(1, 1, 2, 3, 3, 3, 1)
    val out = graft.sql.ClumpLocal.eval(
      ArrayData.toArrayData(pixs), ArrayData.toArrayData(clss), 4)
    val loc = (0 until out.numElements()).map { i =>
      val v = out.getLong(i); ((v >> 20).toInt, (v & 0xFFFFF).toInt)
    }.toMap
    assert(loc == Map(0 -> 0, 1 -> 0, 4 -> 4, 6 -> 6, 7 -> 6, 10 -> 6,
      15 -> 15))
  }

  test("q142 morphological opening equals the scalar replica; " +
    "opening is contained in the mask and removes speckles") {
    def inInterior(id: Long): Boolean = {
      val x = (id - 1) % C; val y = (id - 1) / C
      x >= 1 && x <= C - 2 && y >= 1 && y <= R - 2
    }
    def er(id: Long): Int =
      if (inInterior(id) && cls(id) == 1 && cls(id + 1) == 1 &&
        cls(id - 1) == 1 && cls(id + C) == 1 && cls(id - C) == 1) 1 else 0
    def opened(id: Long): Int = {
      val x = (id - 1) % C; val y = (id - 1) / C
      val nbrs = Seq(id) ++ (if (x > 0) Seq(id - 1) else Nil) ++
        (if (x < C - 1) Seq(id + 1) else Nil) ++
        (if (y > 0) Seq(id - C) else Nil) ++
        (if (y < R - 1) Seq(id + C) else Nil)
      if (nbrs.exists(er(_) == 1)) 1 else 0
    }
    val expected = (1L to N.toLong)
      .map(id => (id, cls(id), er(id), opened(id)))
    val got = SparkEntry.queries("q142_morph_open")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSeq
    assert(got == expected)
    // opening(m) ⊆ m, and the fixture exercises both effects
    assert(got.forall { case (_, m, _, o) => o <= m })
    assert(got.exists { case (_, m, _, o) => m == 1 && o == 0 },
      "fixture degenerate: no speckle removed")
    assert(got.count { case (_, m, _, o) => m == 1 && o == 1 } > 1000,
      "fixture degenerate: opening destroyed the patch bodies")
  }

  test("q146 geohash equals a textbook bisection encoder on every cell") {
    // third algorithm (loop-based float bisection) vs the engine's
    // integer floor-div + z_interleave and the oracle's 40-term
    // shift/mask — all three must agree. Ties at dyadic bisection
    // boundaries go to the upper half in both formulations (>= mid
    // <=> floor(frac * 2^20) has the bit set), and the centroid
    // doubles are exact where it matters (dyadic lat everywhere; lng
    // exact precisely at the dyadic boundary cells).
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    def bisect(lat: Double, lng: Double): String = {
      var latLo = -90.0; var latHi = 90.0
      var lngLo = -180.0; var lngHi = 180.0
      val sb = new StringBuilder
      var bit = 0; var ch = 0; var isLng = true
      while (sb.length < 8) {
        if (isLng) {
          val mid = (lngLo + lngHi) / 2
          if (lng >= mid) { ch = ch * 2 + 1; lngLo = mid }
          else { ch = ch * 2; lngHi = mid }
        } else {
          val mid = (latLo + latHi) / 2
          if (lat >= mid) { ch = ch * 2 + 1; latLo = mid }
          else { ch = ch * 2; latHi = mid }
        }
        isLng = !isLng
        bit += 1
        if (bit == 5) { sb += alphabet(ch); bit = 0; ch = 0 }
      }
      sb.toString
    }
    val expected = (1L to N.toLong).map { id =>
      val lat = ((id - 1) / C + 0.5) / R * 180.0 - 90.0
      val lng = ((id - 1) % C + 0.5) / C * 360.0 - 180.0
      (id, bisect(lat, lng))
    }
    val got = SparkEntry.queries("q146_geohash")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.map(t => (t._1, t._2)).toSeq == expected)
    assert(got.forall { case (_, g8, g4) => g8.startsWith(g4) })
    // the prefix genuinely partitions (more than one bucket, and
    // spatial locality: same-row neighbors usually share gh4)
    assert(got.map(_._3).distinct.length > 4)
  }

  test("q141 hillshade equals the scalar replica bit-for-bit") {
    val B = 8; val cxN = C / B + 1
    def corner(cx: Long, cy: Long): Long =
      World.h2((cy * cxN + cx) * 53 + 11) % 4000
    def elev(id: Long): Long = {
      val x = (id - 1) % C; val y = (id - 1) / C
      val (cx, fx) = (x / B, x % B); val (cy, fy) = (y / B, y % B)
      (B - fx) * (B - fy) * corner(cx, cy) +
        fx * (B - fy) * corner(cx + 1, cy) +
        (B - fx) * fy * corner(cx, cy + 1) + fx * fy * corner(cx + 1, cy + 1)
    }
    val cosZ = 0.7071067811865476
    val expected = (1L to N.toLong).flatMap { id =>
      val x = (id - 1) % C; val y = (id - 1) / C
      if (x >= 1 && x <= C - 2 && y >= 1 && y <= R - 2) {
        val p = (elev(id + 1) - elev(id - 1)).toDouble / 16384.0
        val q = (elev(id + C) - elev(id - C)).toDouble / 16384.0
        val hs = 255.0 * math.max(
          (0.5 * p - 0.5 * q + cosZ) / math.sqrt(1.0 + p * p + q * q), 0.0)
        Some(id -> hs)
      } else None
    }
    val got = SparkEntry.queries("q141_hillshade")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got.size == (C - 2) * (R - 2))
    // exact == on doubles: the query's determinism contract
    assert(got == expected)
    // the clamp and the full dynamic range are both exercised
    val vs = got.map(_._2)
    assert(vs.min == 0.0, "fixture degenerate: shadow clamp never fires")
    assert(vs.max > 200.0, "fixture degenerate: no bright slope")
  }

  test("q166 patch props equal the flat flood fill's geometry") {
    val patch = scalarPatches
    val expected = (1L to N.toLong).groupBy(id => patch(id.toInt)).toSeq
      .map { case (p, cells) =>
        val rs = cells.map(id => (id - 1) / C)
        val cs = cells.map(id => (id - 1) % C)
        val tb = cells.exists { id =>
          val r = (id - 1) / C; val c = (id - 1) % C
          r == 0 || r == R - 1 || c == 0 || c == C - 1
        }
        (p, cls(p), cells.size.toLong, rs.min, rs.max, cs.min, cs.max,
          rs.sum, cs.sum, if (tb) 1 else 0)
      }.sortBy(_._1)
    val got = SparkEntry.queries("q166_patch_props")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getInt(9))).toSeq
    assert(got == expected)
    // both border-touching and interior patches occur
    assert(got.exists(_._10 == 1) && got.exists(_._10 == 0),
      "fixture degenerate: border flag never varies")
  }

  test("RunStats: absent pixels break runs; negative classes are safe") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // 4x4 tile, row-major; -1 as a CLASS value must not read as absent:
    // row0: pix 0,1 cls -1 (one run), pix 2 cls 5 (new run), pix 3 absent
    // row1: pix 4 cls 5; pix 5 absent; pix 6,7 cls 5 (two runs)
    // row2: fully absent
    // row3: pix 12..15 cls 2 (one run of 4)
    val pixs = Array(0, 1, 2, 4, 6, 7, 12, 13, 14, 15)
    val clss = Array(-1, -1, 5, 5, 5, 5, 2, 2, 2, 2)
    val out = graft.sql.RunStats.eval(
      ArrayData.toArrayData(pixs), ArrayData.toArrayData(clss), 4)
    assert(out.getInt(0) == 5, "horizontal run count")
    assert(out.getInt(1) == 4, "longest horizontal run")
    // columns: {0|4|12}, {1|13}, {2,6|14}, {7|15} -> 3+2+2+2
    assert(out.getInt(2) == 9, "vertical run count")
  }

  test("HaarStats: exact subband sums; a NaN-touching block is skipped") {
    import org.apache.spark.unsafe.types.UTF8String
    val v = Array[Float](
      1, 2, 3, 40,
      5, 6, Float.NaN, 8,
      9, 10, 11, 12,
      13, 14, 15, 16)
    val bytes = graft.core.Codec.encodeF32(Array(v))
    val out = graft.sql.HaarStats.eval(
      bytes, UTF8String.fromString("f32"), 16, 0, 4)
    // blocks (a b / c d): TL (1,2,5,6), TR skipped (NaN),
    // BL (9,10,13,14), BR (11,12,15,16); per block lh=|a+b-c-d|=8,
    // hl=|a-b+c-d|=2, hh=a-b-c+d=0
    assert(out.getLong(0) == 14L + 46L + 54L, "ll_sum")
    assert(out.getLong(1) == 24L, "lh_abs")
    assert(out.getLong(2) == 6L, "hl_abs")
    assert(out.getLong(3) == 0L, "hh_abs")
    assert(out.getInt(4) == 3, "NaN block not skipped")
  }

  test("q167 run-length stats equal a scalar replica per tile") {
    def clsAt(r: Long, c: Long): Int = cls(r * C + c + 1)
    val expected = (0L until (R.toLong / T) * TX).map { t =>
      val r0 = (t / TX) * T; val c0 = (t % TX) * T
      var nRuns = 0; var maxRun = 0; var nV = 0
      for (r <- r0 until r0 + T) {
        var run = 0
        for (c <- c0 until c0 + T) {
          if (run > 0 && clsAt(r, c) == clsAt(r, c - 1)) run += 1
          else { nRuns += 1; maxRun = math.max(maxRun, run); run = 1 }
        }
        maxRun = math.max(maxRun, run)
      }
      for (c <- c0 until c0 + T; r <- r0 until r0 + T)
        if (!(r > r0 && clsAt(r, c) == clsAt(r - 1, c))) nV += 1
      (t, nRuns, maxRun, nV)
    }
    val got = SparkEntry.queries("q167_rle_stats")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSeq
    assert(got == expected)
    // the field has real runs, not noise: some run spans many cells
    assert(expected.map(_._3).max >= 8,
      "fixture degenerate: class field has no long runs")
  }

  test("q168 Haar energy equals a scalar replica per tile") {
    val expected = (0L until (R.toLong / T) * TX).map { t =>
      val r0 = (t / TX) * T; val c0 = (t % TX) * T
      var ll = 0L; var lh = 0L; var hl = 0L; var hh = 0L
      for (r <- r0 until (r0 + T) by 2; c <- c0 until (c0 + T) by 2) {
        def b(rr: Long, cc: Long): Long =
          World.band(rr * C + cc + 1, 1).toLong
        val (a, bb, cc2, d) = (b(r, c), b(r, c + 1), b(r + 1, c),
          b(r + 1, c + 1))
        ll += a + bb + cc2 + d
        lh += math.abs(a + bb - cc2 - d)
        hl += math.abs(a - bb + cc2 - d)
        hh += math.abs(a - bb - cc2 + d)
      }
      (t, ll, lh, hl, hh, (T / 2) * (T / 2))
    }
    val got = SparkEntry.queries("q168_haar_energy")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSeq
    assert(got == expected)
  }
}
