package graft

import org.apache.spark.sql.functions._

import graft.world.World

/** Independent (non-SQL) anchors for the q112-q117 family: each query
  * is recomputed by a plain-Scala reference on the same deterministic
  * inputs, so the DuckDB oracle and this spec pin the semantics from
  * two unrelated directions. PageRank additionally gets the two
  * properties the driver compare cannot see — partitioning invariance
  * (the point of the integer fixed-point scheme) and the bounded
  * floor-leak mass inequality.
  */
class GraphGeoSpec extends SparkSpec {

  private val K = World.Knuth
  private val M = World.M32

  // ---- q115 PageRank ------------------------------------------------------

  /** The q115 synthetic graph, regenerated scalar-side. */
  private def q115Edges: Seq[(Long, Long)] =
    (0L until 256L).map { i =>
      (((i * 3 + 1) * K % M) % 64, ((i * 3 + 2) * K % M) % 64)
    }.filter { case (s, d) => s != d }.distinct

  /** Plain-Scala replica of the fixed-point scheme (single-threaded,
    * array-indexed — shares no code with engine/PageRank). */
  private def q115Ref: Array[Long] = {
    val edges = q115Edges
    val outdeg = Array.fill(64)(0L)
    edges.foreach { case (s, _) => outdeg(s.toInt) += 1 }
    var r = Array.fill(64)(1000000L)
    for (_ <- 1 to 5) {
      val contrib = Array.fill(64)(0L)
      edges.foreach { case (s, d) =>
        contrib(d.toInt) += r(s.toInt) * 85 / (outdeg(s.toInt) * 100)
      }
      val dang = (0 until 64).filter(outdeg(_) == 0).map(r(_)).sum
      val share = dang * 85 / (100 * 64)
      r = Array.tabulate(64)(n => 150000L + contrib(n) + share)
    }
    r
  }

  test("q115 PageRank equals the single-threaded fixed-point replica " +
    "exactly, and the result is invariant under edge partitioning") {
    val got = SparkEntry.queries("q115_pagerank")(spark, "unused")
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val ref = q115Ref
    (0 until 64).foreach { n =>
      assert(got(n.toLong) == ref(n), s"node $n: ${got(n.toLong)} != ${ref(n)}")
    }
    // partitioning invariance: the same graph through 1 vs 7 edge
    // partitions must produce BIT-identical ranks (the property the
    // integer scheme buys; a double formulation differs in last ulps)
    import spark.implicits._
    val edges = q115Edges.toDF("src", "dst")
    val nodes = spark.range(0, 64).toDF("node")
    val r1 = graft.engine.PageRank.run(edges.repartition(1), nodes, 5)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val r7 = graft.engine.PageRank.run(edges.repartition(7), nodes, 5)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r1 == r7, "ranks differ across partitionings")
    assert(r1 == got, "registry result differs from direct engine run")
    // mass inequality: total starts at V*1e6; every iteration loses at
    // most 1 micro-unit per edge (contribution floor) + 1 per node
    // (dangling-share floor applied V times) + 15% of nothing (teleport
    // is exact), and never gains
    val total = ref.sum
    val cap = 64L * 1000000L
    val maxLeak = 5L * (q115Edges.size + 64 + 1)
    assert(total <= cap, s"mass grew: $total > $cap")
    assert(total >= cap - maxLeak, s"mass leak beyond bound: ${cap - total}")
  }

  // ---- q116 weighted sample (A-Res top-k) ---------------------------------

  test("q116 equals the scalar Efraimidis-Spirakis top-100 on a " +
    "hash-built orders fixture, including order and quantized keys") {
    import spark.implicits._
    val n = 3000
    val orders = (1 to n).map { i =>
      val okey = i.toLong * 7 + 3 // sparse, distinct, non-contiguous
      val price = (World.h(okey * 5 + 1) % 90000 + 10000).toDouble / 100.0
      (okey, price)
    }
    val dir = graft.util.TempDirs.create("graft_q116").toString
    orders.toDF("o_orderkey", "o_totalprice").repartition(5)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val ref = orders.map { case (okey, w) =>
      val u = ((okey * 23 * K) % M % 1048576L + 0.5) / 1048576.0
      val key = math.log(u) / w
      (okey, w, key)
    }.sortBy { case (okey, _, key) => (-key, okey) }.take(100)
      .map { case (okey, w, key) => (okey, w, math.round(key * 1e12)) }

    val got = SparkEntry.queries("q116_weighted_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == ref, "A-Res top-100 mismatch")
    // the sample is genuinely weight-biased: its mean weight must sit
    // well above the population mean (heavier rows draw larger keys)
    val meanAll = orders.map(_._2).sum / n
    val meanSel = got.map(_._2).sum / got.size
    assert(meanSel > meanAll * 1.2,
      f"no weight bias: sample mean $meanSel%.1f vs pop $meanAll%.1f")
  }

  // ---- q117 skyline --------------------------------------------------------

  test("q117 equals the brute-force strict-dominance skyline") {
    import spark.implicits._
    val n = 800
    val parts = (1 to n).map { i =>
      val price = (World.h(i.toLong * 13 + 5) % 8000).toDouble / 10.0 + 900.0
      val size = (World.h(i.toLong * 13 + 6) % 50).toInt + 1
      (i.toLong, price, size)
    }
    val dir = graft.util.TempDirs.create("graft_q117").toString
    parts.toDF("p_partkey", "p_retailprice", "p_size").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/part.parquet")

    val pts = parts.map(p => (p._2, p._3.toLong)).distinct
    val ref = pts.filter { case (x, y) =>
      !pts.exists { case (bx, by) =>
        bx <= x && by <= y && (bx < x || by < y)
      }
    }.sorted

    val got = SparkEntry.queries("q117_skyline")(spark, dir)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(got == ref, s"skyline mismatch: got ${got.size}, ref ${ref.size}")
    // frontier shape: sorted by x ascending, y strictly decreasing
    got.sliding(2).foreach {
      case Seq((x1, y1), (x2, y2)) =>
        assert(x1 < x2 && y1 > y2, "frontier not strictly monotone")
      case _ => ()
    }
  }

  // ---- q114 gap-fill + LOCF ------------------------------------------------

  test("q114 equals a per-key scalar LOCF scan; spine is dense and " +
    "filled never null") {
    import spark.implicits._
    val base = 1700000000L
    val events = (0 until 400).map { i =>
      val user = World.h(i.toLong * 3 + 1) % 5 // < 8, all kept
      // irregular arrivals with multi-hour gaps
      val ts = base + user * 999983L + (World.h(i.toLong * 9 + 2) % 96) * 3600L +
        World.h(i.toLong * 9 + 4) % 3600
      val value = (World.h(i.toLong * 7 + 2) % 1000).toDouble / 10.0
      (i.toLong, user, new java.sql.Timestamp(ts * 1000L), value)
    }
    val dir = graft.util.TempDirs.create("graft_q114").toString
    events.toDF("event_id", "user_id", "ts", "value").repartition(6)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // scalar LOCF: per user, bucket to hours, max per bucket, dense
    // spine from first to last bucket, carry forward
    val ref = events.groupBy(_._2).toSeq.flatMap { case (user, evs) =>
      val obs = evs.groupBy(e => e._3.getTime / 1000 / 3600)
        .map { case (hb, es) => hb -> es.map(_._4).max }
      val h0 = obs.keys.min
      val h1 = obs.keys.max
      var lastV = 0.0
      (h0 to h1).map { hb =>
        val gap = !obs.contains(hb)
        if (!gap) lastV = obs(hb)
        (user, hb, lastV, if (gap) 1 else 0)
      }
    }.sortBy(r => (r._1, r._2))

    val got = SparkEntry.queries("q114_gapfill_locf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == ref, s"LOCF mismatch: got ${got.size}, ref ${ref.size}")
    assert(got.forall(_._3 >= 0.0), "filled must never be null/NaN")
    // spine density: per user, hb values are contiguous
    got.groupBy(_._1).foreach { case (u, rows) =>
      val hbs = rows.map(_._2)
      assert(hbs == (hbs.min to hbs.max), s"user $u spine has holes")
    }
  }

  // ---- q112 geodesic nearest -----------------------------------------------

  test("q112 equals the scalar haversine argmin over all cells") {
    val rows = 64; val cols = 96
    val earthR = 6371008.8
    val d = math.Pi / 180.0
    val st = (0 until 8).map { k =>
      ((World.h(k.toLong * 19 + 1) % 1600) / 1600.0 * 160.0 - 80.0,
        (World.h(k.toLong * 19 + 2) % 3600) / 3600.0 * 360.0 - 180.0)
    }
    def distQ(lat1d: Double, lng1d: Double, k: Int): Long = {
      val (lat2d, lng2d) = st(k)
      val (lat1, lng1, lat2, lng2) = (lat1d * d, lng1d * d, lat2d * d, lng2d * d)
      val sa = math.sin((lat2 - lat1) * 0.5)
      val so = math.sin((lng2 - lng1) * 0.5)
      val a = sa * sa + math.cos(lat1) * math.cos(lat2) * (so * so)
      math.round(math.asin(math.sqrt(math.min(a, 1.0))) * (2.0 * earthR))
    }
    val ref = (1L to rows.toLong * cols).map { id =>
      val lat = (((id - 1) / cols) + 1 - 0.5) / rows * 180.0 - 90.0
      val lng = (((id - 1) % cols) + 1 - 0.5) / cols * 360.0 - 180.0
      val best = (0 until 8).map(k => (distQ(lat, lng, k), k)).min
      (id, best._2, best._1)
    }
    val got = SparkEntry.queries("q112_geo_nearest")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == ref, "geodesic argmin mismatch")
    // sanity: every station wins somewhere on a global grid... unless
    // crowded out; assert at least 5 of 8 appear (fixture-checked value)
    assert(got.map(_._2).distinct.size >= 5, "degenerate assignment")
  }

  // ---- q118 grouped OLS trend -----------------------------------------------

  test("q118 equals the scalar least-squares fit per key, exactly at " +
    "the quantization") {
    import spark.implicits._
    val base = 1700000000L
    val events = (0 until 600).map { i =>
      val user = World.h(i.toLong * 3 + 7) % 6
      val ts = base + (World.h(i.toLong * 9 + 5) % 240) * 3600L +
        World.h(i.toLong * 9 + 8) % 3600
      val value = (World.h(i.toLong * 7 + 9) % 40000).toDouble / 100.0
      (i.toLong, user, new java.sql.Timestamp(ts * 1000L), value)
    }
    val dir = graft.util.TempDirs.create("graft_q118").toString
    events.toDF("event_id", "user_id", "ts", "value").repartition(6)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val ref = events.groupBy(_._2).toSeq.flatMap { case (user, evs) =>
      val pts = evs.map { e =>
        (e._3.getTime / 1000 / 3600, math.round(e._4 * 100))
      }
      val h0 = pts.map(_._1).min
      val xs = pts.map { case (hb, y) => (hb - h0, y) }
      val n = xs.size.toLong
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxx = xs.map(p => p._1 * p._1).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      val den = n * sxx - sx * sx
      if (den <= 0) None
      else {
        val slope = (n * sxy - sx * sy).toDouble / den.toDouble
        Some((user, n, math.round(slope * 1e6),
          math.round((sy.toDouble - slope * sx.toDouble) / n.toDouble * 1e4)))
      }
    }.sortBy(_._1)

    val got = SparkEntry.queries("q118_group_trend")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == ref, s"OLS mismatch: got ${got.size}, ref ${ref.size}")
    // the fixture must exercise both trend signs, or the test proves
    // less than it claims
    assert(got.exists(_._3 > 0) && got.exists(_._3 < 0),
      "fixture degenerate: all slopes share a sign")
  }

  // ---- q119 hotspot clusters -------------------------------------------------

  test("q119 equals a scalar union-find over the hot-cell grid") {
    val spec = World.tiny
    val C = spec.cols
    val nCells = spec.nCells
    def hv(id: Long): Long = World.h(id)
    val hot = (1L to nCells.toLong)
      .filter(id => hv(id) % 16 >= 6 && hv(id) % 1024 >= 512).toSet
    val parent = scala.collection.mutable.Map(hot.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    hot.foreach { c =>
      if ((c - 1) % C < C - 1 && hot(c + 1)) union(c, c + 1)
      if (c + C <= nCells && hot(c + C)) union(c, c + C)
    }
    val ref = hot.groupBy(find).map { case (_, cells) =>
      val lbl = cells.min
      val rows = cells.map(c => (c - 1) / C + 1)
      val cols = cells.map(c => (c - 1) % C + 1)
      (lbl, cells.size.toLong, cells.toSeq.map(c => hv(c) % 1024).sum,
        rows.min, rows.max, cols.min, cols.max)
    }.toSeq.sortBy(_._1)

    val got = SparkEntry.queries("q119_hotspot_clusters")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == ref, s"clusters mismatch: got ${got.size}, ref ${ref.size}")
    assert(got.map(_._2).sum == hot.size, "cluster sizes must cover hot cells")
    // the fixture exercises real merging, not just singletons
    assert(got.exists(_._2 >= 8), "no multi-cell blob in the fixture")
  }

  // ---- q120 IDW interpolation ------------------------------------------------

  test("q120 equals the scalar inverse-distance-squared estimate") {
    val rows = 64; val cols = 96
    val earthR = 6371008.8
    val d = math.Pi / 180.0
    val st = (0 until 8).map { k =>
      ((World.h(k.toLong * 19 + 1) % 1600) / 1600.0 * 160.0 - 80.0,
        (World.h(k.toLong * 19 + 2) % 3600) / 3600.0 * 360.0 - 180.0,
        (World.h(k.toLong * 19 + 3) % 1000).toDouble)
    }
    def distQ(lat1d: Double, lng1d: Double, k: Int): Long = {
      val (lat2d, lng2d, _) = st(k)
      val (lat1, lng1, lat2, lng2) = (lat1d * d, lng1d * d, lat2d * d, lng2d * d)
      val sa = math.sin((lat2 - lat1) * 0.5)
      val so = math.sin((lng2 - lng1) * 0.5)
      val a = sa * sa + math.cos(lat1) * math.cos(lat2) * (so * so)
      math.max(math.round(math.asin(math.sqrt(math.min(a, 1.0))) * (2.0 * earthR)), 1L)
    }
    val ref = (1L to rows.toLong * cols).map { id =>
      val lat = (((id - 1) / cols) + 1 - 0.5) / rows * 180.0 - 90.0
      val lng = (((id - 1) % cols) + 1 - 0.5) / cols * 360.0 - 180.0
      var num = 0.0; var den = 0.0
      (0 until 8).foreach { k =>
        val dq = distQ(lat, lng, k).toDouble * distQ(lat, lng, k).toDouble
        num += st(k)._3 / dq; den += 1.0 / dq
      }
      (id, math.round(num / den * 1e6))
    }
    val got = SparkEntry.queries("q120_idw_interpolate")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ref, "IDW mismatch")
    // the field must actually interpolate: estimates span a real range
    val vals = got.map(_._2)
    assert(vals.max - vals.min > 100L * 1000000L,
      "interpolated field is near-constant — fixture degenerate")
  }

  // ---- q121 triangle counts --------------------------------------------------

  test("q121 equals the scalar brute-force triangle participation " +
    "counts, and the fixture is triangle-rich") {
    val V = 48
    val edges = (0L until 512L).map { i =>
      (World.h2(i * 7 + 1) % V, World.h2(i * 11 + 2) % V)
    }.filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val adj = Array.fill(V)(scala.collection.mutable.Set.empty[Long])
    edges.foreach { case (a, b) => adj(a.toInt) += b; adj(b.toInt) += a }
    val pernode = Array.fill(V)(0L)
    var tris = 0
    edges.foreach { case (a, b) =>
      (adj(a.toInt) & adj(b.toInt)).foreach { c =>
        if (c > b) {
          tris += 1
          pernode(a.toInt) += 1; pernode(b.toInt) += 1; pernode(c.toInt) += 1
        }
      }
    }
    assert(tris == 608, s"fixture drifted: $tris triangles")
    assert(pernode.forall(_ > 0), "fixture degenerate: a vertex misses all triangles")
    val got = SparkEntry.queries("q121_triangle_count")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until V).foreach { n =>
      assert(got(n.toLong) == pernode(n),
        s"node $n: ${got(n.toLong)} != ${pernode(n)}")
    }
    // global invariant: participation sums to 3x the triangle count
    assert(got.values.sum == 3L * tris, "participation total != 3 * triangles")
  }

  // ---- q122 cost distance / engine.MinPlus ----------------------------------

  /** Scalar Dijkstra (binary-heap-free, fine at this size) over an
    * integer-weighted digraph — shares no code with engine/MinPlus. */
  private def dijkstra(n: Int, edges: Seq[(Int, Int, Long)],
                       sources: Set[Int], inf: Long): Array[Long] = {
    val adj = Array.fill(n)(List.empty[(Int, Long)])
    edges.foreach { case (s, d, w) => adj(s) ::= (d, w) }
    val dist = Array.fill(n)(inf)
    sources.foreach(dist(_) = 0L)
    val done = Array.fill(n)(false)
    var left = n
    while (left > 0) {
      var u = -1; var best = Long.MaxValue
      (0 until n).foreach(v => if (!done(v) && dist(v) < best) { best = dist(v); u = v })
      if (u < 0) left = 0
      else {
        done(u) = true; left -= 1
        adj(u).foreach { case (v, w) =>
          if (dist(u) + w < dist(v)) dist(v) = dist(u) + w
        }
      }
    }
    dist
  }

  test("engine.MinPlus run to convergence equals scalar Dijkstra, and a " +
    "fixed round count is partitioning-invariant") {
    import spark.implicits._
    val inf = 1000000000L
    // a 12x16 grid digraph with the q122 weight rule, small enough that
    // Dijkstra converges instantly and MinPlus' diameter fits 40 rounds
    val (r, c) = (12, 16)
    val n = r * c
    def w(dst: Int): Long = World.h(dst.toLong * 29) % 9 + 1
    val edges = for {
      id <- 0 until n
      (dx, dy) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))
      x = id % c + dx; y = id / c + dy
      if x >= 0 && x < c && y >= 0 && y < r
    } yield (id.toLong, (y * c + x).toLong, w(y * c + x))
    val sources = (0 until n).filter(id => World.h(id.toLong * 31) % 96 == 0).toSet
    assert(sources.nonEmpty && sources.size < n / 4, "fixture degenerate")
    val ref = dijkstra(n,
      edges.map { case (s, d, w) => (s.toInt, d.toInt, w) }, sources, inf)

    val edgesDf = edges.toDF("src", "dst", "w")
    val dist0 = spark.range(0, n).select(col("id").as("node"),
      when(col("id").isin(sources.toSeq.map(_.toLong): _*), 0L)
        .otherwise(inf).as("d"))
    // r+c rounds bound the hop diameter of a grid; 40 > 12+16
    val got = graft.engine.MinPlus.relax(spark, dist0, edgesDf, 40, inf)
    val gotMap = got.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    (0 until n).foreach { v =>
      assert(gotMap(v.toLong) == ref(v), s"node $v: ${gotMap(v.toLong)} != ${ref(v)}")
    }
    // fixed-round partitioning invariance (the integer-min argument):
    // 5 rounds, 1 vs 7 edge partitions, bit-identical frames
    val k1 = graft.engine.MinPlus.relax(spark, dist0, edgesDf.repartition(1), 5, inf)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val k7 = graft.engine.MinPlus.relax(spark, dist0, edgesDf.repartition(7), 5, inf)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(k1 == k7, "fixed-round distances differ across partitionings")
    // 5 rounds is mid-relaxation on this fixture: some nodes still at inf
    assert(k1.values.exists(_ == inf), "fixture converged too early to test rounds")
  }

  test("q122 equals a scalar 8-round synchronous Bellman-Ford on the " +
    "world grid, with -1 for unreached") {
    val spec = World.tiny
    val C = spec.cols
    val n = spec.nCells.toInt
    val inf = 1000000000L
    def wgt(dst: Long): Long = World.h(dst * 29) % 9 + 1
    var dist = Array.tabulate(n + 1) { id =>
      if (id == 0) inf
      else if (World.h(id.toLong * 31) % 512 == 0) 0L else inf
    }
    for (_ <- 1 to 8) {
      val next = dist.clone()
      var id = 1
      while (id <= n) {
        val x = (id - 1) % C + 1; val y = (id - 1) / C + 1
        Seq((1, 0), (-1, 0), (0, 1), (0, -1)).foreach { case (dx, dy) =>
          if (x + dx >= 1 && x + dx <= C && y + dy >= 1 && y + dy <= spec.rows) {
            val dst = id + dx + dy * C
            val cand = dist(id) + wgt(dst)
            if (cand < next(dst)) next(dst) = cand
          }
        }
        id += 1
      }
      dist = next
    }
    val ref = (1 to n).map(id => id.toLong -> (if (dist(id) >= inf) -1L else dist(id))).toMap
    val got = SparkEntry.queries("q122_cost_distance")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    (1 to n).foreach { id =>
      assert(got(id.toLong) == ref(id.toLong), s"cell $id: ${got(id.toLong)} != ${ref(id.toLong)}")
    }
    // mid-relaxation fixture: reached fronts exist but so do unreached cells
    assert(got.values.count(_ >= 0) > n / 10 && got.values.exists(_ == -1L),
      "fixture degenerate: front saturated or empty after 8 rounds")
  }

  // ---- q123 line rasterization ------------------------------------------------

  test("q123 equals a scalar closed-form DDA burn, and every dyadic " +
    "y-step is exact") {
    val C = World.tiny.cols
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    (0L until 96L).foreach { j =>
      val dxe = (World.h(j * 5 + 1) % 3) match {
        case 0 => 8L; case 1 => 16L; case 2 => 32L
      }
      val y0 = World.h(j * 5 + 3) % World.tiny.rows + 1
      val y1 = World.h(j * 5 + 4) % World.tiny.rows + 1
      val dy = y1 - y0
      val x0 = World.h(j * 5 + 2) % (World.tiny.cols - dxe) + 1
      if (math.abs(dy) <= dxe) {
        (0L to dxe).foreach { i =>
          // i*dy/dxe with dxe a power of two is an exact dyadic double,
          // so HALF_UP rounding is deterministic cross-engine
          val q = i.toDouble * dy.toDouble / dxe.toDouble
          assert(q == BigDecimal(i * dy) / BigDecimal(dxe),
            s"non-exact dyadic step at seg $j i=$i")
          val y = y0 + BigDecimal(q).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          val cell = (y - 1) * C + x0 + i
          counts(cell) = counts.getOrElse(cell, 0L) + 1
        }
      }
    }
    val ref = counts.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q123_line_rasterize")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ref, s"line burn mismatch: got ${got.size}, ref ${ref.size}")
    // overlap exists (shared cells) or the coverage count is vacuous
    assert(got.exists(_._2 >= 2), "fixture degenerate: no overlapping segments")
  }

  // ---- q126/q127/q128 terrain flow -------------------------------------------

  /** Scalar D8 replica over the world grid: per cell (dir code, dst,
    * weighted drop), -1/0 for sinks. Shares no code with Spatial. */
  private def scalarD8: Map[Long, (Int, Long, Long)] = {
    val spec = World.tiny
    val C = spec.cols
    val n = spec.nCells
    val B = 8; val cxN = C / B + 1
    def corner(cx: Long, cy: Long): Long = World.h2((cy * cxN + cx) * 53 + 11) % 4000
    def elev(id: Long): Long = {
      val x = (id - 1) % C; val y = (id - 1) / C
      val (cx, fx) = (x / B, x % B); val (cy, fy) = (y / B, y % B)
      (B - fx) * (B - fy) * corner(cx, cy) + fx * (B - fy) * corner(cx + 1, cy) +
        (B - fx) * fy * corner(cx, cy + 1) + fx * fy * corner(cx + 1, cy + 1)
    }
    val dirs = Seq((1, 1, 0, 10L), (2, 1, 1, 7L), (4, 0, 1, 10L),
      (8, -1, 1, 7L), (16, -1, 0, 10L), (32, -1, -1, 7L),
      (64, 0, -1, 10L), (128, 1, -1, 7L))
    (1L to n.toLong).map { id =>
      val x = (id - 1) % C + 1
      val y = (id - 1) / C + 1
      val cands = dirs.flatMap { case (code, dx, dy, w) =>
        if (x + dx >= 1 && x + dx <= C && y + dy >= 1 && y + dy <= spec.rows) {
          val dst = id + dx + dy * C
          val drop = elev(id) - elev(dst)
          if (drop > 0) Some((code, dst, drop * w)) else None
        } else None
      }
      if (cands.isEmpty) id -> ((0, -1L, 0L))
      else {
        val bestW = cands.map(_._3).max
        val (code, dst, _) = cands.filter(_._3 == bestW).minBy(_._1)
        id -> ((code, dst, bestW))
      }
    }.toMap
  }

  test("q126 equals the scalar D8 steepest-descent pick, and the " +
    "fixture exercises sinks, ties and every direction") {
    val ref = scalarD8
    val got = SparkEntry.queries("q126_flow_dir")(spark, "unused")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size == ref.size)
    ref.foreach { case (id, v) =>
      assert(got(id) == v, s"cell $id: ${got(id)} != $v")
    }
    val dirsUsed = got.values.map(_._1).toSet
    assert(dirsUsed == Set(0, 1, 2, 4, 8, 16, 32, 64, 128),
      s"fixture degenerate: dirs used = $dirsUsed")
  }

  test("q127 equals a scalar 8-round accumulation; Propagate.sumRounds " +
    "run to DAG depth equals the exact upstream count") {
    import spark.implicits._
    val spec = World.tiny
    val n = spec.nCells.toInt
    val d8 = scalarD8
    val out = d8.collect { case (src, (dir, dst, _)) if dir > 0 => src -> dst }
    val inEdges = out.toSeq.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    // scalar synchronous rounds (the q127 contract)
    var acc = Map((1L to n.toLong).map(_ -> 1L): _*)
    for (_ <- 1 to 8)
      acc = (1L to n.toLong).map { v =>
        v -> (1L + inEdges.getOrElse(v, Nil).map(acc).sum)
      }.toMap
    val got = SparkEntry.queries("q127_flow_accum")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to n.toLong).foreach { v =>
      assert(got(v) == acc(v), s"cell $v: ${got(v)} != ${acc(v)}")
    }
    // exact upstream counts: follow chains to measure true DAG depth,
    // run the kernel to that depth, compare against a reachability count
    def depthOf(v: Long): Int = {
      var d = 0; var c = v
      while (d8(c)._1 > 0) { c = d8(c)._2; d += 1 }
      d
    }
    val maxDepth = (1L to n.toLong).map(depthOf).max
    val exact = {
      // upstream(v) = 1 + sum over direct in-flows of upstream(u); DAG,
      // so memoized recursion terminates
      val memo = scala.collection.mutable.Map.empty[Long, Long]
      def up(v: Long): Long = memo.getOrElseUpdate(v,
        1L + inEdges.getOrElse(v, Nil).map(up).sum)
      (1L to n.toLong).map(v => v -> up(v)).toMap
    }
    val nodes = spark.range(1, n + 1).toDF("node")
    val edges = out.toSeq.toDF("src", "dst")
    val conv = graft.engine.Propagate.sumRounds(spark, nodes, edges, maxDepth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to n.toLong).foreach { v =>
      assert(conv(v) == exact(v), s"converged cell $v: ${conv(v)} != ${exact(v)}")
    }
    // the 8-round contract is mid-flow on this fixture: some cell's
    // count is still growing, or the fixed-round framing proves nothing
    assert(maxDepth > 8, s"fixture degenerate: depth $maxDepth <= 8 rounds")
    assert((1L to n.toLong).exists(v => acc(v) != exact(v)),
      "8 rounds already converged — contract untested")
  }

  test("q128 equals scalar follow-to-sink, 5 doublings cover the " +
    "fixture's chain depth, and basins partition the grid") {
    val spec = World.tiny
    val n = spec.nCells.toInt
    val d8 = scalarD8
    def sinkOf(v: Long): (Long, Int) = {
      var c = v; var d = 0
      while (d8(c)._1 > 0) { c = d8(c)._2; d += 1 }
      (c, d)
    }
    val ref = (1L to n.toLong).map(v => v -> sinkOf(v)).toMap
    val maxDepth = ref.values.map(_._2).max
    assert(maxDepth <= 32, s"depth $maxDepth exceeds 5 doublings")
    assert(maxDepth > 16, s"fixture degenerate: depth $maxDepth needs " +
      "<= 4 doublings, the 5th is dead weight")
    val got = SparkEntry.queries("q128_watershed")(spark, "unused")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to n.toLong).foreach { v =>
      assert(got(v) == ref(v)._1, s"cell $v: ${got(v)} != ${ref(v)._1}")
    }
    // every basin label is a sink, sinks label themselves, and the
    // fixture carries many real (multi-cell) basins
    val sinks = (1L to n.toLong).filter(v => d8(v)._1 == 0).toSet
    assert(got.values.toSet.subsetOf(sinks), "a basin label is not a sink")
    sinks.foreach(sk => assert(got(sk) == sk, s"sink $sk mislabeled"))
    val sizes = got.values.groupBy(identity).map(_._2.size)
    assert(sizes.count(_ >= 10) > 20, "fixture degenerate: no real basins")
  }

  // ---- q113 polygon metrics -------------------------------------------------

  test("q113 equals scalar shoelace area / perimeter / centroid per region") {
    val polys = World.polygons(World.tiny)
    val ref = polys.map { p =>
      val es = p.edgeList
      var a2 = 0.0; var cxn = 0.0; var cyn = 0.0; var pq6 = 0L
      es.foreach { case (x1, y1, x2, y2) =>
        val cr = x1 * y2 - x2 * y1
        a2 += cr; cxn += (x1 + x2) * cr; cyn += (y1 + y2) * cr
        pq6 += math.round(math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) * 1e6)
      }
      (p.regionId.toLong, es.size.toLong, math.abs(a2 / 2.0), pq6,
        math.round(cxn / (a2 * 3.0) * 1e9), math.round(cyn / (a2 * 3.0) * 1e9))
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q113_polygon_metrics")(spark, "unused")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == ref, "polygon metrics mismatch")
    // independent cross-check: each centroid lies inside its region's
    // bbox, and the areas sum to less than the full grid's area
    polys.zip(got).foreach { case (p, (_, _, _, _, cx9, cy9)) =>
      val (cx, cy) = (cx9 / 1e9, cy9 / 1e9)
      assert(cx >= p.minX && cx <= p.maxX && cy >= p.minY && cy <= p.maxY,
        s"centroid of region ${p.regionId} outside bbox")
    }
    assert(got.map(_._3).sum < 64.0 * 96.0, "areas exceed the grid")
  }

  // ---- q131 marching-squares contour ----------------------------------------

  test("q131 endpoints equal the scalar crossing-edge set (degree 2 " +
    "interior / 1 on the domain boundary) and saddles resolve both ways") {
    val (c, rows) = (96, 64)
    val (b, cx, level, amp) = (8L, 13L, 128000L, 40000L)
    // scalar replica of the q131 surface: bilinear terrain + roughness
    def iso(x: Long, y: Long): Long = {
      def corner(i: Long, j: Long): Long =
        World.h2(((y / b + j) * cx + x / b + i) * 53 + 11) % 4000
      val (fx, fy) = (x % b, y % b)
      (b - fx) * (b - fy) * corner(0, 0) + fx * (b - fy) * corner(1, 0) +
        (b - fx) * fy * corner(0, 1) + fx * fy * corner(1, 1) +
        World.h2((y * c + x + 1) * 29 + 5) % amp
    }
    def in(x: Long, y: Long): Boolean = iso(x, y) > level
    // expected endpoint degrees, computed WITHOUT the case table: a
    // contour crosses an edge iff its two corners straddle the level;
    // an interior crossing edge is shared by two blocks (degree 2), a
    // domain-boundary one by a single block (degree 1)
    val expect = scala.collection.mutable.Map.empty[(Long, Long), Int]
    for (y <- 0L until rows; x <- 0L until (c - 1)
         if in(x, y) != in(x + 1, y))
      expect((2 * x + 1, 2 * y)) =
        if (y == 0 || y == rows - 1) 1 else 2
    for (y <- 0L until (rows - 1); x <- 0L until c
         if in(x, y) != in(x, y + 1))
      expect((2 * x, 2 * y + 1)) =
        if (x == 0 || x == c - 1) 1 else 2
    val segs = SparkEntry.queries("q131_contour")(spark, "unused")
      .collect().map(r => ((r.getLong(2), r.getLong(3)),
        (r.getLong(4), r.getLong(5))))
    val got = segs.flatMap { case (p1, p2) => Seq(p1, p2) }
      .groupBy(identity).map { case (p, v) => p -> v.length }
    assert(got == expect.toMap, "endpoint degree multiset mismatch")
    assert(segs.forall { case (p1, p2) => p1 != p2 }, "degenerate segment")
    // the roughness term exists to exercise the saddle rule: all four
    // (case 6/9 x center-in/out) resolutions must occur on the fixture
    val saddles = for {
      y <- 0L until (rows - 1); x <- 0L until (c - 1)
      e = Seq(in(x, y), in(x + 1, y), in(x, y + 1), in(x + 1, y + 1))
      idx = e.zipWithIndex.map { case (v, i) => if (v) 1 << i else 0 }.sum
      if idx == 6 || idx == 9
    } yield (idx, iso(x, y) + iso(x + 1, y) + iso(x, y + 1) +
      iso(x + 1, y + 1) > 4 * level)
    assert(saddles.toSet.size == 4,
      s"fixture covers only ${saddles.toSet} saddle resolutions")
  }
}
