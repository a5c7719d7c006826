package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions.col
import graft.engine.{Pipeline, Rasterize}
import graft.world.World

/** q93 focal halo exchange: brute-force parity on a PADDED non-dyadic
  * grid (partial edge tiles — the case the registry's DuckDB oracle
  * doesn't cover because the dyadic tiny world has none), and the plan
  * contract: exactly one data shuffle (the dest-tile aggregation) plus
  * the presentation sort — the stencil never becomes a per-pixel join.
  */
class FocalSpec extends SparkSpec {

  /** 50x72 @ tile 16: right AND bottom partial edge tiles. */
  private val padded = graft.world.WorldSpec(rows = 50, cols = 72,
    tile = 16, nRegions = 3)

  private def brute(sp: graft.world.WorldSpec)
      : Map[Long, (Long, Int, Int)] =
    (1L to sp.nCells).map { id =>
      val r0 = (id - 1) / sp.cols
      val c0 = (id - 1) % sp.cols
      var fsum = 0L
      var ncnt = 0
      var nbMax = -1L
      for (dy <- -1 to 1; dx <- -1 to 1) {
        val r = r0 + dy
        val c = c0 + dx
        if (r >= 0 && r < sp.rows && c >= 0 && c < sp.cols) {
          val v = World.band(r * sp.cols + c + 1, 1).toLong
          fsum += v
          ncnt += 1
          if ((dy != 0 || dx != 0) && v > nbMax) nbMax = v
        }
      }
      val self = World.band(id, 1).toLong
      id -> (fsum, ncnt, if (self > nbMax) 1 else 0)
    }.toMap

  test("padded grid: halo stencil equals the brute-force window over " +
    "every cell (partial edge tiles, world-edge windows)") {
    assert(padded.padded)
    val got = graft.queries.Spatial.focalHalo(spark, padded).collect()
    assert(got.length == padded.nCells)
    val want = brute(padded)
    got.foreach { row =>
      val id = row.getLong(0)
      val (fsum, ncnt, peak) = want(id)
      assert(row.getLong(1) == fsum, s"fsum at cell $id")
      assert(row.getInt(2) == ncnt, s"ncnt at cell $id")
      assert(row.getInt(3) == peak, s"peak at cell $id")
    }
    // world-edge cells really exercise the smaller windows
    assert(want.values.exists(_._2 == 4) && want.values.exists(_._2 == 6))
  }

  test("padded grid: Sobel gradient equals the brute kernels on every " +
    "FULL-window cell and emits nothing elsewhere (interior-only rule)") {
    val got = graft.queries.Spatial.sobelHalo(spark, padded).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    def v(r: Long, c: Long) = World.band(r * padded.cols + c + 1, 1).toLong
    var interior = 0
    (1L to padded.nCells).foreach { id =>
      val r0 = (id - 1) / padded.cols
      val c0 = (id - 1) % padded.cols
      if (r0 >= 1 && r0 < padded.rows - 1 && c0 >= 1 && c0 < padded.cols - 1) {
        interior += 1
        val gx = (v(r0 - 1, c0 + 1) + 2 * v(r0, c0 + 1) + v(r0 + 1, c0 + 1)) -
          (v(r0 - 1, c0 - 1) + 2 * v(r0, c0 - 1) + v(r0 + 1, c0 - 1))
        val gy = (v(r0 + 1, c0 - 1) + 2 * v(r0 + 1, c0) + v(r0 + 1, c0 + 1)) -
          (v(r0 - 1, c0 - 1) + 2 * v(r0 - 1, c0) + v(r0 - 1, c0 + 1))
        assert(got(id) == ((gx, gy, math.abs(gx) + math.abs(gy))),
          s"sobel at cell $id")
      } else assert(!got.contains(id), s"edge cell $id must be absent")
    }
    assert(got.size == interior)
  }

  test("padded grid: majority filter equals the brute mode with " +
    "smaller-level tie-break over the in-grid window of every cell") {
    val div = graft.queries.Spatial.ModeDiv
    val got = graft.queries.Spatial.modeHalo(spark, padded).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got.size == padded.nCells)
    var tied = 0
    (1L to padded.nCells).foreach { id =>
      val r0 = (id - 1) / padded.cols
      val c0 = (id - 1) % padded.cols
      val lvls = for {
        dy <- -1 to 1; dx <- -1 to 1
        r = r0 + dy; c = c0 + dx
        if r >= 0 && r < padded.rows && c >= 0 && c < padded.cols
      } yield World.band(r * padded.cols + c + 1, 1).toLong / div
      val counts = lvls.groupBy(identity).view.mapValues(_.size)
      val maxCnt = counts.values.max
      val atMax = counts.filter(_._2 == maxCnt).keys
      if (atMax.size > 1) tied += 1
      assert(got(id) == ((atMax.min, maxCnt)), s"mode at cell $id")
    }
    // the tie-break rule must actually be exercised
    assert(tied > 0, "fixture has no modal ties — tie-break untested")
  }

  test("padded grid: per-tile Laplacian sharpness equals the brute " +
    "stencil reduction; padding-only pixels and world edges excluded") {
    val got = graft.queries.Spatial.lapHalo(spark, padded).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def v(r: Long, c: Long) = World.band(r * padded.cols + c + 1, 1).toLong
    val tilesX = (padded.cols + padded.tile - 1) / padded.tile
    val want = (1L to padded.nCells).flatMap { id =>
      val r0 = (id - 1) / padded.cols
      val c0 = (id - 1) % padded.cols
      if (r0 >= 1 && r0 < padded.rows - 1 && c0 >= 1 && c0 < padded.cols - 1) {
        val lap = 4 * v(r0, c0) - v(r0 - 1, c0) - v(r0 + 1, c0) -
          v(r0, c0 - 1) - v(r0, c0 + 1)
        Some((r0 / padded.tile * tilesX + c0 / padded.tile) -> lap)
      } else None
    }.groupBy(_._1).map { case (t, ls) =>
      val laps = ls.map(_._2)
      val n = laps.size.toLong
      val s1 = laps.sum
      val s2 = laps.map(l => l * l).sum
      t.toLong -> ((laps.size, s1, s2, n * s2 - s1 * s1))
    }
    assert(got == want)
    // partial edge tiles must really have fewer interior pixels
    assert(got.values.map(_._1).toSet.size > 1,
      "fixture has uniform tile interiors — edge handling untested")
  }

  test("plan: one dest-tile aggregation shuffle + the presentation " +
    "sort — no per-pixel join, no extra exchange") {
    // focalHalo (pad 1), harrisHalo (pad 2) and q147 (pad 0). Below the
    // regroup's partial aggregate, the lowest aggregate of the plan, sit
    // the cell explode (halo callers) and, at pad > 0 only, the fan-out.
    def generatesBelowRegroup(df: DataFrame): Int = {
      val lowest = df.queryExecution.sparkPlan.collect {
        case a: BaseAggregateExec
            if a.children.forall(_.find(_.isInstanceOf[BaseAggregateExec])
              .isEmpty) => a
      }
      assert(lowest.size == 1, df.queryExecution.sparkPlan.toString)
      lowest.head.collect { case g: GenerateExec => g }.size
    }
    val cases = Seq(
      ("focalHalo", graft.queries.Spatial.focalHalo(spark, World.tiny), 2),
      ("harrisHalo", graft.queries.Spatial.harrisHalo(spark, World.tiny), 2),
      ("q147", SparkEntry.queries("q147_integral_image")(spark, "unused"), 0))
    cases.foreach { case (name, df, generates) =>
      // string-count exchanges: AQE wraps the plan in AdaptiveSparkPlanExec,
      // which TreeNode.collect does not descend into
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange (hash|range)partitioning".r
        .findAllIn(plan).length
      assert(exchanges == 2,
        s"$name: expected agg + sort exchanges only, got $exchanges:\n$plan")
      assert(!plan.contains("Join"), s"$name: the stencil must not plan a join")
      assert(generatesBelowRegroup(df) == generates, s"$name:\n$plan")
    }
    val focal = cases.head._2.queryExecution.executedPlan.toString
    assert(focal.toLowerCase.contains("focal3x3"), s"no Focal3x3 in:\n$focal")
  }

  test("tilePixels at pad 0, 1 and 2 equals the scalar patch reference " +
    "on the tiny and the padded grid") {
    for (sp <- Seq(World.tiny, padded); pad <- 0 to 2) {
      val cells = Pipeline.cells(World.tilesDF(spark, sp), sp)
      val got = Rasterize.tilePixels(sp, cells, Pipeline.band(sp, 1), pad)
        .collect().map { r =>
          val pv = r.getSeq[Row](1).map(x => x.getInt(0) -> x.getDouble(1))
          assert(pv.map(_._1) == pv.map(_._1).sorted, "pv not sorted by pix")
          r.getInt(0) -> pv
        }.toMap
      // reference: cell (r, c) sits in tile (ty, tx)'s (T+2·pad)² patch
      // iff it lies inside that tile's square grown by pad on each side
      val T = sp.tile
      val P = T + 2 * pad
      val placed = cells.select(col("cell_id"), Pipeline.band(sp, 1))
        .collect().toSeq.flatMap { row =>
          val id = row.getLong(0)
          val (r, c) = (((id - 1) / sp.cols).toInt, ((id - 1) % sp.cols).toInt)
          for {
            ty <- 0 until sp.tilesY
            tx <- 0 until sp.tilesX
            (pr, pc) = (r - ty * T + pad, c - tx * T + pad)
            if pr >= 0 && pr < P && pc >= 0 && pc < P
          } yield (id, ty * sp.tilesX + tx, pr * P + pc, row.getDouble(1))
        }
      val want = placed.groupBy(_._2).map { case (t, xs) =>
        t -> xs.map(x => x._3 -> x._4).sortBy(_._1)
      }
      assert(got == want, s"tile patches differ at pad $pad on $sp")
      // the fixture exercises the edge cases the fan-out has to get right
      val copies = placed.groupBy(_._1).map(_._2.size)
      assert(copies.max == (if (pad == 0) 1 else 4),
        "a corner pixel feeds its own tile and three neighbours")
      // world-edge tile 0: the patch rows above the world are absent
      assert(!want(0).exists(_._1 < pad * P) && want(0).nonEmpty)
      if (sp.padded) { // the last tile is a partial edge tile
        val core = want(sp.nTiles - 1).count { case (pix, _) =>
          pix / P >= pad && pix / P < pad + T && pix % P >= pad &&
            pix % P < pad + T
        }
        assert(core < T * T)
      }
    }
  }

  test("tilePixels keeps pad within 0 <= pad and 2·pad <= tile") {
    val sp = World.tiny
    val cells = spark.range(1, 10).toDF("cell_id")
    for (pad <- Seq(-1, sp.tile / 2 + 1))
      intercept[IllegalArgumentException](
        Rasterize.tilePixels(sp, cells, col("cell_id"), pad))
    // the largest legal pad plans
    Rasterize.tilePixels(sp, cells, col("cell_id"), sp.tile / 2)
  }

  test("q145 GLCM texture equals the brute co-occurrence features and " +
    "the fixture has non-trivial texture variation across tiles") {
    val sp = World.tiny
    // iso surface (terrain + roughness) >> 15, scalar-side
    def lvl(id: Long): Long = {
      val B = 8; val cxN = sp.cols / B + 1
      def corner(cx: Long, cy: Long): Long =
        World.h2((cy * cxN + cx) * 53 + 11) % 4000
      val x = (id - 1) % sp.cols; val y = (id - 1) / sp.cols
      val (cx, fx) = (x / B, x % B); val (cy, fy) = (y / B, y % B)
      val elev = (B - fx) * (B - fy) * corner(cx, cy) +
        fx * (B - fy) * corner(cx + 1, cy) +
        (B - fx) * fy * corner(cx, cy + 1) + fx * fy * corner(cx + 1, cy + 1)
      (elev + World.h2(id * 29 + 5) % 40000) >> 15
    }
    val pairs = (1L to sp.nCells).filter { id =>
      ((id - 1) % sp.cols) % sp.tile < sp.tile - 1
    }.map { id =>
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      val tile = (r0 / sp.tile) * sp.tilesX + c0 / sp.tile
      (tile, lvl(id), lvl(id + 1))
    }
    val expected = pairs.groupBy(_._1).toSeq.map { case (t, ps) =>
      val hist = ps.groupBy(p => (p._2, p._3)).view.mapValues(_.size.toLong)
      val contrast = hist.map { case ((a, b), n) => n * (a - b) * (a - b) }.sum
      val energy = hist.map { case (_, n) => n * n }.sum
      (t, contrast, energy)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q145_glcm_texture")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // a hash field is near-white-noise: energy must sit near the random
    // baseline (pairs²/64) and contrast must differ across tiles —
    // degenerate all-equal features would mean the levels collapsed
    assert(got.map(_._2).distinct.size > 1, "contrast constant across tiles")
    assert(got.map(_._3).distinct.size > 1, "energy constant across tiles")
  }

  test("q147 integral image equals the brute per-pixel box sum and the " +
    "4-lookup box identity recovers arbitrary box sums") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7) % 256
    def cellAt(tile: Int, r: Int, c: Int): Long = {
      val row = (tile / sp.tilesX) * sp.tile + r
      val col = (tile % sp.tilesX) * sp.tile + c
      row.toLong * sp.cols + col + 1
    }
    val got = SparkEntry.queries("q147_integral_image")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == sp.nCells)
    // brute: every pixel's SAT is the double-loop sum from the origin
    val tiles = 0 until sp.nTiles
    tiles.foreach { t =>
      for (r <- 0 until sp.tile; c <- 0 until sp.tile) {
        val brute = (for (i <- 0 to r; j <- 0 to c)
          yield v(cellAt(t, i, j))).sum
        assert(got(cellAt(t, r, c)) == brute,
          s"SAT mismatch at tile $t ($r,$c)")
      }
    }
    // the point of a SAT: box sum = D - B - C + A with 4 lookups
    def sat(t: Int, r: Int, c: Int): Long =
      if (r < 0 || c < 0) 0L else got(cellAt(t, r, c))
    val boxes = Seq((0, 3, 3, 9, 9), (5, 0, 0, 15, 15), (11, 7, 2, 12, 14))
    boxes.foreach { case (t, r1, c1, r2, c2) =>
      val viaSat = sat(t, r2, c2) - sat(t, r1 - 1, c2) -
        sat(t, r2, c1 - 1) + sat(t, r1 - 1, c1 - 1)
      val brute = (for (i <- r1 to r2; j <- c1 to c2)
        yield v(cellAt(t, i, j))).sum
      assert(viaSat == brute, s"box identity failed on $t")
    }
  }

  test("q150 Moran's I equals the textbook double-loop over explicit " +
    "queen weights (not the moment expansion)") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val n = sp.nCells
    val vals = (1L to n).map(v)
    val m = vals.sum.toDouble / n
    // direct Σᵢⱼ wᵢⱼ(vᵢ−m)(vⱼ−m) with wᵢⱼ = 1 iff queen-adjacent
    var num = 0.0; var s0 = 0L
    for (id <- 1L to n) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      for (dy <- -1 to 1; dx <- -1 to 1
           if !(dy == 0 && dx == 0)
           if r0 + dy >= 0 && r0 + dy < sp.rows
           if c0 + dx >= 0 && c0 + dx < sp.cols) {
        val j = (r0 + dy) * sp.cols + (c0 + dx) + 1
        num += (v(id) - m) * (v(j) - m)
        s0 += 1
      }
    }
    val den = vals.map(x => (x - m) * (x - m)).sum
    val expected = n / s0.toDouble * num / den
    val row = SparkEntry.queries("q150_moran_i")(spark, "unused")
      .collect().head
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("s0") == s0)
    // the moment expansion must agree with the direct form to float
    // noise only (exactness vs DuckDB is the driver oracle's job)
    assert(math.abs(row.getAs[Double]("moran_i") - expected) < 1e-9,
      s"moran ${row.getAs[Double]("moran_i")} vs direct $expected")
    // and the scaled integers must be EXACTLY the BigInt expansion
    val sv = BigInt(vals.sum)
    val bigNum = (1L to n).map { id =>
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      var sn = BigInt(0); var nn = BigInt(0)
      for (dy <- -1 to 1; dx <- -1 to 1
           if !(dy == 0 && dx == 0)
           if r0 + dy >= 0 && r0 + dy < sp.rows
           if c0 + dx >= 0 && c0 + dx < sp.cols) {
        sn += v((r0 + dy) * sp.cols + (c0 + dx) + 1); nn += 1
      }
      (BigInt(n) * v(id) - sv) * (BigInt(n) * sn - nn * sv)
    }.sum
    assert(BigInt(row.getAs[Long]("num_scaled")) == bigNum)
  }

  test("q151 template match equals the scalar slide over one tile and " +
    "breaks score ties by first position") {
    val sp = World.tiny
    val ts = (0 until 16).map(k => World.h2(k * 29 + 11) % 16)
    val ws = ts.map(t => 16 * t - ts.sum)
    def v(id: Long): Long = World.h(id * 7) % 256
    def cellAt(t: Int, r: Int, c: Int): Long = {
      val row = (t / sp.tilesX) * sp.tile + r
      val col = (t % sp.tilesX) * sp.tile + c
      row.toLong * sp.cols + col + 1
    }
    val got = SparkEntry.queries("q151_template_match")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == sp.nTiles)
    (0 until sp.nTiles).foreach { t =>
      var best = Long.MinValue; var by = -1; var bx = -1
      for (pr <- 0 to sp.tile - 4; pc <- 0 to sp.tile - 4) {
        val sc = (for (k <- 0 until 16) yield
          ws(k) * v(cellAt(t, pr + k / 4, pc + k % 4))).sum
        if (sc > best) { best = sc; by = pr; bx = pc } // strict >: first max
      }
      assert(got(t) == ((best, by.toLong, bx.toLong)), s"tile $t")
    }
  }

  test("q152 local Moran matches the per-cell textbook LISA (signs and " +
    "exact scaled integers) for every cell") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val n = sp.nCells
    val sv = (1L to n).map(v).sum
    val got = SparkEntry.queries("q152_local_moran")(spark, "unused")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got.size == n)
    for (id <- 1L to n) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      var sn = 0L; var nn = 0L
      for (dy <- -1 to 1; dx <- -1 to 1
           if !(dy == 0 && dx == 0)
           if r0 + dy >= 0 && r0 + dy < sp.rows
           if c0 + dx >= 0 && c0 + dx < sp.cols) {
        sn += v((r0 + dy) * sp.cols + (c0 + dx) + 1); nn += 1
      }
      val f1 = BigInt(n) * v(id) - sv
      val f2 = BigInt(n) * sn - BigInt(nn) * sv
      val quad =
        if (f1 > 0 && f2 > 0) "HH" else if (f1 < 0 && f2 < 0) "LL"
        else if (f1 > 0 && f2 < 0) "HL" else if (f1 < 0 && f2 > 0) "LH"
        else "NS"
      assert(got(id) == (((f1 * f2).toLong, quad)), s"cell $id")
    }
  }

  test("q153 Otsu equals the per-tile scalar scan over all 256 levels " +
    "(present-level restriction is exact) and ties go to the smaller t") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val got = SparkEntry.queries("q153_otsu_threshold")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == sp.nTiles)
    (0 until sp.nTiles).foreach { t =>
      val vals = (0 until sp.pixPerTile).map(p => v(sp.cellId(t, p)))
      val n = vals.size.toLong
      val tot = vals.sum
      // scan EVERY level 0..254 (not just present ones): the constant-
      // across-gaps argument must hold against the full-domain argmax
      var bestScore = -1.0; var bestT = -1L
      var bestNum = 0L; var bestDen = 0L
      for (t0 <- 0L to 254L) {
        val c = vals.count(_ <= t0).toLong
        val s0 = vals.filter(_ <= t0).sum
        if (c > 0 && c < n) {
          val a = tot * c - n * s0
          val num = a * a; val den = c * (n - c)
          val score = num.toDouble / den.toDouble
          if (score > bestScore) { // strict >: first max = smaller t
            bestScore = score; bestT = t0; bestNum = num; bestDen = den
          }
        }
      }
      assert(got(t) == ((bestT, bestNum, bestDen)), s"tile $t")
    }
  }

  test("q154 semivariogram equals the direct pair scan per axis and lag") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val got = SparkEntry.queries("q154_semivariogram")(spark, "unused")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.size == 8)
    for (h <- 1 to 4) {
      var nx = 0L; var sx = 0L; var ny = 0L; var sy = 0L
      for (id <- 1L to sp.nCells) {
        val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
        if (c0 + h < sp.cols) {
          val d = v(id) - v(id + h); nx += 1; sx += d * d
        }
        if (r0 + h < sp.rows) {
          val d = v(id) - v(id + h.toLong * sp.cols); ny += 1; sy += d * d
        }
      }
      assert(got(("x", h.toLong)) == ((nx, sx, sx.toDouble / (2.0 * nx.toDouble))))
      assert(got(("y", h.toLong)) == ((ny, sy, sy.toDouble / (2.0 * ny.toDouble))))
    }
  }

  private def bruteHarris(sp: graft.world.WorldSpec)
      : Map[Long, (Long, Long, Long)] = {
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    def vd(r: Long, c: Long): Long = v(r * sp.cols + c + 1)
    def grad(r: Long, c: Long): (Long, Long) = {
      val gx = (vd(r - 1, c + 1) + 2 * vd(r, c + 1) + vd(r + 1, c + 1)) -
        (vd(r - 1, c - 1) + 2 * vd(r, c - 1) + vd(r + 1, c - 1))
      val gy = (vd(r + 1, c - 1) + 2 * vd(r + 1, c) + vd(r + 1, c + 1)) -
        (vd(r - 1, c - 1) + 2 * vd(r - 1, c) + vd(r - 1, c + 1))
      (gx, gy)
    }
    val best = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    for (r0 <- 2L until sp.rows - 2; c0 <- 2L until sp.cols - 2) {
      var sxx = 0L; var syy = 0L; var sxy = 0L
      for (dy <- -1 to 1; dx <- -1 to 1) {
        val (gx, gy) = grad(r0 + dy, c0 + dx)
        sxx += gx * gx; syy += gy * gy; sxy += gx * gy
      }
      val r20 = 20L * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy)
      val t = (r0 / sp.tile) * sp.tilesX + c0 / sp.tile
      val cur = best.get(t)
      // strict >: first max — within a tile the global row-major scan
      // IS the tile's row-major position order, the engine's tie rule
      if (cur.isEmpty || r20 > cur.get._1)
        best(t) = (r20, r0 % sp.tile, c0 % sp.tile)
    }
    best.toMap
  }

  test("q156 Harris equals the direct 5x5 computation per tile") {
    val sp = World.tiny
    val got = SparkEntry.queries("q156_harris_corners")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == bruteHarris(sp))
    assert(got.size == sp.nTiles) // every tiny tile has interior support
  }

  test("q156 Harris on a padded non-dyadic grid: edge-sliver tiles with " +
    "no full 5x5 support are absent, all others match brute force") {
    val got = graft.queries.Spatial.harrisHalo(spark, padded)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val brute = bruteHarris(padded)
    assert(got == brute)
    // the fixture exercises the absent-tile case: the bottom tile row
    // holds only grid rows 48..49 of 50, both outside the valid band
    // r0 <= rows-3 = 47, so those tiles must not appear at all
    val absent = (0 until padded.nTiles).map(_.toLong)
      .filterNot(brute.contains)
    assert(absent.nonEmpty, "fixture degenerate: no support-free tile")
    assert(got.keySet.intersect(absent.toSet).isEmpty)
  }

  test("q157 Geary's C equals the textbook double loop over explicit " +
    "queen weights (not the four-direction pair decomposition)") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val n = sp.nCells
    val vals = (1L to n).map(v)
    val m = vals.sum.toDouble / n
    var num = 0.0; var s0 = 0L; var ssd = BigInt(0)
    for (id <- 1L to n) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      for (dy <- -1 to 1; dx <- -1 to 1
           if !(dy == 0 && dx == 0)
           if r0 + dy >= 0 && r0 + dy < sp.rows
           if c0 + dx >= 0 && c0 + dx < sp.cols) {
        val j = (r0 + dy) * sp.cols + (c0 + dx) + 1
        val d = (v(id) - v(j)).toDouble
        num += d * d
        ssd += BigInt(v(id) - v(j)) * (v(id) - v(j))
        s0 += 1
      }
    }
    val den = vals.map(x => (x - m) * (x - m)).sum
    val expected = (n - 1) * num / (2.0 * s0 * den)
    val row = SparkEntry.queries("q157_geary_c")(spark, "unused")
      .collect().head
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("s0") == s0)
    // engine's ssd counts each unordered pair ONCE; the double loop
    // counts ordered pairs (twice)
    assert(BigInt(row.getAs[Long]("ssd")) * 2 == ssd)
    assert(math.abs(row.getAs[Double]("geary_c") - expected) < 1e-9,
      s"geary ${row.getAs[Double]("geary_c")} vs direct $expected")
  }

  test("q158 Gaussian blur equals the direct 25-term kernel on every " +
    "interior cell, on the tiny AND the padded non-dyadic grid") {
    val k = Array(1L, 4L, 6L, 4L, 1L)
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    for (sp <- Seq(World.tiny, padded)) {
      val got = graft.queries.Spatial.gaussHalo(spark, sp)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val interior = for {
        r0 <- 2L until sp.rows - 2; c0 <- 2L until sp.cols - 2
      } yield (r0 * sp.cols + c0 + 1) -> (for {
        dy <- -2 to 2; dx <- -2 to 2
      } yield k(dy + 2) * k(dx + 2) *
        v((r0 + dy) * sp.cols + (c0 + dx) + 1)).sum
      assert(got == interior.toMap, s"grid ${sp.rows}x${sp.cols}")
    }
  }

  test("q159 box counting equals the direct per-scale occupied-box scan") {
    val sp = World.tiny
    def occ(id: Long): Boolean = {
      val hv = World.h(id)
      !(hv % 16 < 6) && hv % 1024 > 0
    }
    val got = SparkEntry.queries("q159_box_counting")(spark, "unused")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.size == 5)
    for (k <- 0 to 4) {
      val bs = 1L << k
      val boxes = (1L to sp.nCells).filter(occ).map { id =>
        (((id - 1) / sp.cols) / bs, ((id - 1) % sp.cols) / bs)
      }.toSet
      assert(got(k.toLong) == ((bs, boxes.size.toLong)), s"scale $k")
    }
  }

  test("q160 edge density equals the direct pair scan with left/top " +
    "tile ownership, including cross-tile edges") {
    val sp = World.tiny
    def cls(id: Long): Int = if (World.h(id * 7 + 1) % 256 >= 128) 1 else 0
    val acc = scala.collection.mutable.Map[Long, (Int, Int, Int, Int)]()
    for (id <- 1L to sp.nCells) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      val t = (r0 / sp.tile) * sp.tilesX + c0 / sp.tile
      var (nx, ex, ny, ey) = acc.getOrElse(t, (0, 0, 0, 0))
      if (c0 + 1 < sp.cols) {
        nx += 1; if (cls(id) != cls(id + 1)) ex += 1
      }
      if (r0 + 1 < sp.rows) {
        ny += 1; if (cls(id) != cls(id + sp.cols)) ey += 1
      }
      acc(t) = (nx, ex, ny, ey)
    }
    val got = SparkEntry.queries("q160_edge_density")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))
      .toMap
    assert(got.size == sp.nTiles)
    acc.foreach { case (t, (nx, ex, ny, ey)) =>
      val d = (ex + ey).toDouble / (nx + ny).toDouble
      assert(got(t) == ((nx, ex, ny, ey, d)), s"tile $t")
    }
    // the binarization must produce a non-trivial edge structure
    assert(acc.values.exists(v => v._2 + v._4 > 0))
    assert(acc.values.forall(v => v._2 < v._1 || v._4 < v._3))
  }

  test("q161 pixel trend equals the direct 5-point OLS per cell") {
    val sp = World.tiny
    def band(id: Long, b: Int): Long = World.h(id * 7 + b) % 256
    val got = SparkEntry.queries("q161_pixel_trend")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toMap
    assert(got.size == sp.nCells)
    for (id <- 1L to sp.nCells) {
      val ys = (1 to 5).map(b => band(id, b))
      val sy = ys.sum
      val sxy = ys.zipWithIndex.map { case (y, x) => x * y }.sum
      val num = 5 * sxy - 10 * sy
      assert(got(id) == ((sy, sxy, num, num.toDouble / 50.0)), s"cell $id")
      // cross-check against a textbook least-squares fit on doubles
      val xm = 2.0; val ym = sy / 5.0
      val slope = (0 to 4).map(x => (x - xm) * (ys(x) - ym)).sum /
        (0 to 4).map(x => (x - xm) * (x - xm)).sum
      assert(math.abs(got(id)._4 - slope) < 1e-9)
    }
  }

  test("q162 orientation histogram equals the direct octant binning of " +
    "the brute Sobel gradients and every non-flat octant appears") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    def vd(r: Long, c: Long): Long = v(r * sp.cols + c + 1)
    val acc = scala.collection.mutable.Map[(Long, Int), (Long, Long)]()
    for (r0 <- 1L until sp.rows - 1; c0 <- 1L until sp.cols - 1) {
      val gx = (vd(r0 - 1, c0 + 1) + 2 * vd(r0, c0 + 1) + vd(r0 + 1, c0 + 1)) -
        (vd(r0 - 1, c0 - 1) + 2 * vd(r0, c0 - 1) + vd(r0 + 1, c0 - 1))
      val gy = (vd(r0 + 1, c0 - 1) + 2 * vd(r0 + 1, c0) + vd(r0 + 1, c0 + 1)) -
        (vd(r0 - 1, c0 - 1) + 2 * vd(r0 - 1, c0) + vd(r0 - 1, c0 + 1))
      val bin =
        if (gx == 0 && gy == 0) 0
        else 1 + (if (gy < 0) 4 else 0) + (if (gx < 0) 2 else 0) +
          (if (gx.abs > gy.abs) 1 else 0)
      val t = (r0 / sp.tile) * sp.tilesX + c0 / sp.tile
      val (c, w) = acc.getOrElse((t, bin), (0L, 0L))
      acc((t, bin)) = (c + 1, w + gx.abs + gy.abs)
    }
    val got = SparkEntry.queries("q162_orientation_hist")(spark, "unused")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == acc.toMap)
  }

  test("octantBin covers all 9 bins on crafted gradients (the affine " +
    "world hash only produces 4 octants, so boundaries are driven here)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (gx, gy, expected): one interior point per octant + every
    // boundary fold (zero components, exact diagonals)
    val cases = Seq(
      (0L, 0L, 0),   // flat
      (5L, 9L, 1), (9L, 5L, 2),     // gy>=0, gx>=0
      (-5L, 9L, 3), (-9L, 5L, 4),   // gy>=0, gx<0
      (5L, -9L, 5), (9L, -5L, 6),   // gy<0, gx>=0
      (-5L, -9L, 7), (-9L, -5L, 8), // gy<0, gx<0
      (0L, 9L, 1),   // vertical-up: gx>=0 non-strict, |gx|<=|gy|
      (9L, 0L, 2),   // horizontal: gy>=0 non-strict, |gx|>|gy|
      (7L, 7L, 1), (-7L, 7L, 3), (7L, -7L, 5), (-7L, -7L, 7), // diagonals
      (0L, -9L, 5), (-9L, 0L, 4))
    val got = cases.map(c => (c._1, c._2)).toDF("gx", "gy")
      .select(col("gx"), col("gy"),
        graft.queries.Spatial.octantBin(col("gx"), col("gy")).as("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    cases.foreach { case (gx, gy, exp) =>
      assert(got((gx, gy)) == exp, s"($gx,$gy)")
    }
    assert(cases.map(_._3).toSet == (0 to 8).toSet)
  }

  test("q163 median filter equals the direct lower-median of every " +
    "in-grid window, including even-sized edge windows") {
    val sp = World.tiny
    def v(id: Long): Long = World.h(id * 7 + 1) % 256
    val got = SparkEntry.queries("q163_median_filter")(spark, "unused")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(got.size == sp.nCells)
    var sawEven = false
    for (id <- 1L to sp.nCells) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      val win = (for {
        dy <- -1 to 1; dx <- -1 to 1
        if r0 + dy >= 0 && r0 + dy < sp.rows
        if c0 + dx >= 0 && c0 + dx < sp.cols
      } yield v((r0 + dy) * sp.cols + (c0 + dx) + 1)).sorted
      if (win.size % 2 == 0) sawEven = true
      assert(got(id) == ((win((win.size + 1) / 2 - 1), win.size)),
        s"cell $id")
    }
    assert(sawEven, "fixture degenerate: no even-sized edge window")
  }

  test("q164 histogram matching equals the direct global-CDF remap " +
    "with exact position-weighted tile sums") {
    val sp = World.tiny
    // square-law skewed level: the raw band is uniform (its CDF match
    // would be the identity), lvl = v^2 div 256 is not
    def v(id: Long): Long = { val b = World.h(id * 7 + 1) % 256; b * b / 256 }
    val n = sp.nCells
    val hist = (1L to n).map(v).groupBy(identity).view.mapValues(_.size)
    val cdf = (0L to 255L).map { lvl =>
      lvl -> (0L to lvl).map(l => hist.getOrElse(l, 0).toLong).sum
    }.toMap
    def e(lvl: Long): Long = 255 * cdf(lvl) / n
    val acc = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    for (id <- 1L to n) {
      val r0 = (id - 1) / sp.cols; val c0 = (id - 1) % sp.cols
      val t = (r0 / sp.tile) * sp.tilesX + c0 / sp.tile
      val p = (r0 % sp.tile) * sp.tile + c0 % sp.tile
      val ev = e(v(id))
      val (cn, es, ew) = acc.getOrElse(t, (0L, 0L, 0L))
      acc(t) = (cn + 1, es + ev, ew + (p + 1) * ev)
    }
    val got = SparkEntry.queries("q164_hist_match")(spark, "unused")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == acc.toMap)
    // the remap must actually move values (identity would also "pass")
    assert((0L to 255L).exists(l => e(l) != l))
  }

  /** Brute per-tile viewshed: the same rounded ray walk and exact
    * angle comparison, written independently; None = unevaluable
    * (center or a sample off-grid on padded tiles). */
  private def bruteViewshed(sp: graft.world.WorldSpec)
      : Map[Long, Int] = {
    def z(r: Long, c: Long): Option[Long] =
      if (r < sp.rows && c < sp.cols) Some(World.h((r * sp.cols + c + 1) * 7 + 1) % 256)
      else None
    def angLt(a: Long, da2: Long, b: Long, db2: Long): Boolean =
      if (a < 0 && b >= 0) true
      else if (a >= 0 && b < 0) false
      else if (a >= 0) a * a * db2 < b * b * da2
      else a * a * db2 > b * b * da2
    val out = scala.collection.mutable.Map[Long, Int]()
    for (t <- 0 until sp.nTiles) {
      val cy = (t / sp.tilesX).toLong * sp.tile + sp.tile / 2
      val cx = (t % sp.tilesX).toLong * sp.tile + sp.tile / 2
      z(cy, cx).foreach { z0 =>
        for (pr <- 0 until sp.tile; pc <- 0 until sp.tile) {
          val ty = (t / sp.tilesX).toLong * sp.tile + pr
          val tx = (t % sp.tilesX).toLong * sp.tile + pc
          val dy = ty - cy; val dx = tx - cx
          val steps = math.max(dy.abs, dx.abs)
          val id = ty * sp.cols + tx + 1
          if (steps == 0) out(id) = 1
          else z(ty, tx).foreach { zt =>
            val dzt = zt - z0
            val d2t = dy * dy + dx * dx
            var vis: Option[Int] = Some(1)
            for (k <- 1L until steps) {
              val sy = cy + Math.floorDiv(2 * k * dy + steps, 2 * steps)
              val sx = cx + Math.floorDiv(2 * k * dx + steps, 2 * steps)
              z(sy, sx) match {
                case None => vis = None
                case Some(zs) if vis.isDefined =>
                  val d2s = (sy - cy) * (sy - cy) + (sx - cx) * (sx - cx)
                  if (!angLt(zs - z0, d2s, dzt, d2t)) vis = Some(0)
                case _ =>
              }
            }
            vis.foreach(v => out(id) = v)
          }
        }
      }
    }
    out.toMap
  }

  test("q165 viewshed equals the independent brute ray walk on every " +
    "cell, and the fixture has all three regimes") {
    val sp = World.tiny
    val got = SparkEntry.queries("q165_viewshed")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = bruteViewshed(sp)
    assert(got == brute)
    assert(got.size == sp.nCells)
    val vis = got.values.count(_ == 1)
    assert(vis > sp.nTiles, "degenerate: only centers visible")
    assert(vis < sp.nCells, "degenerate: nothing ever blocked")
  }

  test("q165 viewshed on the padded grid: absent centers and off-grid " +
    "targets drop out exactly as the brute walk says (ray samples stay " +
    "inside the center-target bbox, so valid endpoints never poison)") {
    val got = graft.queries.Spatial.viewshedTiles(spark, padded)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = bruteViewshed(padded)
    assert(got == brute)
    // the padded fixture must exercise the absent-center case
    assert(brute.size < padded.nCells)
  }
}
