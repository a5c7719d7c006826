package graft.world

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{floor, lit}
import org.apache.spark.sql.types._
import graft.core.{Codec, GridSpec, Polygon}

/** Deterministic synthetic mini-Goode world (FIXTURES.md §1-§5): the
  * engine's spatial test/bench input, standing in for the reference's
  * 1737x4008 @10 km global grid (`Supplemental_Data_1.R:54-70`) and its
  * 85 predictor rasters + loss mask + training points.
  *
  * Every value is a pure integer/dyadic function of the cell id (Knuth
  * multiplicative hashing, dyadic fractions only), so:
  *  - generation is splittable and reproducible per row (no RNG state);
  *  - the exact same values are expressible in DuckDB SQL, giving the
  *    driver's oracle compare full coverage of the decode -> index ->
  *    join -> aggregate path with bit-exact floats.
  *
  * Bands (stored band-major as f32 in the tile payload `bytes`; band 0
  * is also stored alone in the `loss` column):
  *   band 0      = loss fraction in [0,1), ~37% zeros, dyadic /1024
  *                 (LossMaskFull analog, R:116; floor rule R:407)
  *   bands 1..5  = predictor variables, small integers 0..255
  *                 (the 85-raster manifest analog, R:142-166)
  */
final case class WorldSpec(rows: Int, cols: Int, tile: Int, nRegions: Int,
    nBands: Int = 6) {
  val nCells: Long = rows.toLong * cols
  /** Ceil tiling: grids the tile size does not divide (the reference's
    * true 1737x4008, R:54,117) get partial edge tiles — payloads stay
    * full tile x tile with NaN padding; padding pixels are dropped by
    * the in-grid guard at decode/explode time. Dyadic specs (power-of-
    * two rows, tile | dims) remain preferred for the DuckDB-exact
    * oracles; padded specs are golden/unit-tested instead. */
  val tilesX: Int = (cols + tile - 1) / tile
  val tilesY: Int = (rows + tile - 1) / tile
  val nTiles: Int = tilesX * tilesY
  val pixPerTile: Int = tile * tile
  /** True when the tile grid pads past the cell grid. */
  val padded: Boolean = rows % tile != 0 || cols % tile != 0

  def grid: GridSpec = GridSpec(rows, cols, 1.0, 0.0, rows.toDouble)

  /** 1-based row-major cell id of pixel p (row-major within tile t).
    * Only meaningful when inGrid(t, p). */
  def cellId(t: Int, p: Int): Long = {
    val row0 = (t / tilesX) * tile + p / tile // 0-based global row
    val col0 = (t % tilesX) * tile + p % tile
    row0.toLong * cols + col0 + 1
  }

  /** Whether pixel p of tile t addresses a real grid cell (false only
    * in the padding of partial edge tiles). */
  def inGrid(t: Int, p: Int): Boolean = {
    val row0 = (t / tilesX) * tile + p / tile
    val col0 = (t % tilesX) * tile + p % tile
    row0 < rows && col0 < cols
  }

  def tileOfCell(id: Long): Int = {
    val row0 = ((id - 1) / cols).toInt
    val col0 = ((id - 1) % cols).toInt
    (row0 / tile) * tilesX + col0 / tile
  }

  // ---- the same layout as Spark Columns: the one home of every
  // cell <-> (tile, pixel) / row / column / centroid conversion in the
  // engine and the query registry (WorldSpecSpec checks each against
  // the scalar forms above). Tile and pixel are int; cell id, row and
  // column are long; centroids are double. Divisions floor a double
  // quotient, exact for every id below 2^52.

  private def row0At(t: Column, p: Column): Column =
    floor(t / tilesX) * tile + floor(p / tile)
  private def col0At(t: Column, p: Column): Column =
    (t % tilesX) * tile + p % tile

  /** `cellId` of in-tile pixel `p` of tile `t`. */
  def cellOf(t: Column, p: Column): Column =
    (row0At(t, p) * cols + col0At(t, p) + 1).cast("long")

  /** `inGrid`: false only on the padding of partial edge tiles; a
    * literal true (pruned by the optimizer) when the tiling pads
    * nothing. */
  def inGridAt(t: Column, p: Column): Column =
    if (!padded) lit(true) else row0At(t, p) < rows && col0At(t, p) < cols

  /** 0-based row and column of cell `id` (World.py / World.px - 0.5). */
  def row0Of(id: Column): Column = floor((id - 1) / cols)
  def col0Of(id: Column): Column = ((id - 1) % cols).cast("long")

  /** `tileOfCell`, and the in-tile pixel (row-major) of cell `id`. */
  def tileOf(id: Column): Column =
    (floor(row0Of(id) / tile) * tilesX + floor(col0Of(id) / tile))
      .cast("int")
  def pixOf(id: Column): Column =
    ((row0Of(id) % tile) * tile + col0Of(id) % tile).cast("int")

  /** Centroid of cell `id` in grid coords (World.px / World.py). */
  def pxOf(id: Column): Column = col0Of(id).cast("double") + 0.5
  def pyOf(id: Column): Column = row0Of(id).cast("double") + 0.5
}

object World {
  /** Unit/correctness scale: 24 tiles of 16x16 over 64x96 cells. */
  val tiny = WorldSpec(rows = 64, cols = 96, tile = 16, nRegions = 3)
  /** Bench scale: 384 tiles of 64x64 over 1024x1536 cells. */
  val bench = WorldSpec(rows = 1024, cols = 1536, tile = 64, nRegions = 7)

  val Knuth = 2654435761L
  val M32 = 4294967296L

  /** Splittable counter hash: 32-bit Knuth multiplicative. */
  @inline def h(k: Long): Long = (k * Knuth) % M32

  /** NONLINEAR counter hash: a floor-divide between two multiplies.
    * `h` alone is affine mod 2^32 — h(k1) - h(k2) depends only on
    * k1 - k2, so any per-cell formula h(linear(cell_id)) repeats
    * EXACTLY under cell-id translation (two tiles at the right row
    * offset carry identical pixels). Harmless for per-row oracles,
    * fatal for a near-dup fixture, where cross-tile independence is
    * the whole point. The >>16 between the multiplies breaks the
    * affine structure while staying integer-exact in DuckDB SQL
    * (`(((k*KN) % 2^32) // 2^16 * KN) % 2^32`). */
  @inline def h2(k: Long): Long = h(h(k) >> 16)

  /** `h` as a Spark Column (bit-identical to the scalar form for
    * non-negative inputs). */
  def hCol(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (k * Knuth) % M32

  /** `h2` as a Spark Column, bit-identical to the scalar form: q91's
    * sketch addresses its registers with this column and `cmEstimate`
    * with the scalar, and the one-sided never-undercount guarantee
    * depends on the two agreeing bit-for-bit. `h(k) >> 16` on a value
    * < 2^32 equals the floor divide, and the divide-by-2^16 is exact
    * in double. */
  def h2Col(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.floor
    hCol(floor(hCol(k) / 65536L).cast("long"))
  }

  /** Loss fraction of a cell: 0 for ~37%, else dyadic k/1024 with a
    * populated band below the 0.005 floor (R:407). */
  def loss(id: Long): Double =
    if (h(id) % 16 < 6) 0.0 else (h(id) % 1024).toDouble / 1024.0

  /** `loss` as a Spark Column over a cell-id column. */
  def lossCol(id: Column): Column = {
    import org.apache.spark.sql.functions.when
    when(hCol(id) % 16 < 6, 0.0)
      .otherwise((hCol(id) % 1024).cast("double") / 1024.0)
  }

  /** Predictor band b (1..5): small integer 0..255 (f32-exact). */
  def band(id: Long, b: Int): Double = (h(id * 7 + b) % 256).toDouble

  /** `band` as a Spark Column over a cell-id column. */
  def bandCol(id: Column, b: Int): Column =
    (hCol(id * 7 + b) % 256).cast("double")

  /** Synthetic "protected area" rectangle k: integer (x0, y0, x1, y1)
    * inside the grid, NOT tile-aligned (the q171 second vector layer —
    * arbitrary integer bounds exercise clip lines that never coincide
    * with tile edges). Same h2 chain in SQL via h2Sql. */
  def paRect(k: Long, cols: Int, rows: Int): (Int, Int, Int, Int) = {
    val x0 = (h2(k * 31 + 7) % (cols - 32)).toInt
    val y0 = (h2(k * 41 + 13) % (rows - 24)).toInt
    val w = (8 + h2(k * 37 + 11) % 25).toInt
    val hh = (8 + h2(k * 43 + 17) % 17).toInt
    (x0, y0, x0 + w, y0 + hh)
  }

  /** Video frame f of a cell: dyadic k/512 evolving per frame (the
    * frame-sample fixture formula — exact in f32 and in DuckDB SQL).
    * Uses the nonlinear `h2`: with plain `h`, tiles whose cell ids are
    * congruent mod 512 carried IDENTICAL frames (the affine-translation
    * artifact above), which made every such tile pair an accidental
    * phash near-dup in the q85 fixture. */
  def vid(id: Long, f: Int): Double = (h2(id * 17 + f) % 512).toDouble / 512.0

  /** Sparse perturbation of pixel `id` in frame f of a VARIANT video:
    * ~1/9 of pixels shift by a dyadic delta in [-128, 128]/512, the
    * rest are untouched — a transcode/re-encode stand-in tuned (by
    * exhaustive simulation over the tiny world) so the 24 variants'
    * per-frame phashes land hamming 0..6 from their base frames and
    * the 3-sampled-frame vote splits 6/11/4/3 across 3/2/1/0 frames
    * matched: the >=2-of-3 vote passes 17 pairs and rejects 7, and NO
    * cross-tile pair matches on any frame. Fully deterministic and
    * reproduced bit-for-bit by the SQL oracle. */
  def vidPerturb(id: Long, f: Int): Double =
    if (h2(id * 37 + f) % 9 == 0)
      ((h2(id * 41 + f.toLong * 43) % 257) - 128).toDouble / 512.0
    else 0.0

  /** Audio sample i of clip `clip`: signed 16-bit integer in
    * [-2048, 2047] (integer-exact in SQL and in s16le — the audio
    * fixture formula, mirroring `vid` for video frames). */
  def aud(clip: Long, i: Int): Int =
    (h(clip * 8191 + i.toLong * 23) % 4096).toInt - 2048

  /** Sparse perturbation of audio sample i in a VARIANT clip: every
    * 13th sample shifts by an integer in [-512, 512], else 0 — tuned
    * so the 24 variants' energy-delta fingerprints spread over hamming
    * 0..5 from their base clips (18 within the near-dup radius 3, 6
    * just beyond it), exercising exact matches, near matches AND the
    * radius cutoff. Fully deterministic: whichever bits flip are
    * reproduced exactly by the SQL oracle — no probabilistic fixture
    * behavior. Values stay within s16 (|base| <= 2048, |delta| <= 512). */
  def audPerturb(clip: Long, i: Int): Int =
    if (i % 13 == 0) (h(clip * 29 + i.toLong * 31) % 1025).toInt - 512 else 0

  /** Synthetic per-class probability c (1..5): dyadic k/64 — coarse on
    * purpose so argmax ties occur and pin first-max semantics (R:370). */
  def prob(id: Long, c: Int): Double = (h(id * 11 + c) % 64).toDouble / 64.0

  /** `prob` as a Spark Column over a cell-id column. */
  def probCol(id: Column, c: Int): Column =
    (hCol(id * 11 + c) % 64).cast("double") / 64.0

  /** Training label: ~6% of cells carry a class 1..7 (6 and 7 present to
    * pin the exclusion rule, R:204-205 vs notebook cell 36). */
  def trainingClass(id: Long): Option[Int] =
    if (h(id * 13) % 64 < 4) Some(1 + (h(id * 13 + 1) % 7).toInt) else None

  /** `trainingClass` as a Spark Column over a cell-id column: the class
    * 1..7, or 0 for an unlabeled cell. */
  def trainingClassCol(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.when
    when(hCol(id * 13) % 64 < 4, (hCol(id * 13 + 1) % 7).cast("int") + 1)
      .otherwise(0)
  }

  /** Region polygons: nRegions vertical strips with inward-slanting
    * right edges. All non-axis edges have power-of-two y-extent so the
    * ray-cast intersection arithmetic is exactly dyadic (identical in
    * Spark and DuckDB, never landing on a half-integer centroid). Strip
    * gaps leave ~2-col bands of region-less cells (dropped downstream,
    * matching `filter(!is.na(Region))`, R:273-274). */
  def polygons(spec: WorldSpec): Array[Polygon] = {
    val ymid = spec.rows / 2
    (1 to spec.nRegions).map { i =>
      val xl = ((i - 1).toLong * spec.cols / spec.nRegions).toInt + 1
      val xr = (i.toLong * spec.cols / spec.nRegions).toInt - 1
      Polygon(i,
        Array(xl, xr, xr - 4, xr, xl).map(_.toDouble),
        Array(0, 0, ymid, spec.rows, spec.rows).map(_.toDouble))
    }.toArray
  }

  /** Densified copy of polygons: each edge subdivided into `k` equal
    * sub-segments. With k a power of two and integer-valued vertices the
    * interpolated points are exact dyadic doubles, so ray-cast PIP
    * results are bit-identical to the coarse polygons — while costing a
    * realistic number of edge tests per point (continental region
    * boundaries on a 10 km grid have thousands of vertices, not five;
    * the bench world uses this so the PIP stage carries production-like
    * compute density). */
  def densify(polys: Array[Polygon], k: Int): Array[Polygon] = {
    require(k > 0 && (k & (k - 1)) == 0, "k must be a power of two")
    polys.map { p =>
      val n = p.xs.length
      val xs = new Array[Double](n * k)
      val ys = new Array[Double](n * k)
      // each ring densifies independently: vertex i's outgoing edge runs
      // to the next vertex of its OWN ring (wrapping to the ring start)
      (0 until p.nRings).foreach { r =>
        val (s, e) = p.ringRange(r)
        var i = s
        while (i < e) {
          val j = if (i + 1 < e) i + 1 else s
          var t = 0
          while (t < k) {
            val f = t.toDouble / k
            xs(i * k + t) = p.xs(i) + (p.xs(j) - p.xs(i)) * f
            ys(i * k + t) = p.ys(i) + (p.ys(j) - p.ys(i)) * f
            t += 1
          }
          i += 1
        }
      }
      Polygon(p.regionId, xs, ys, p.ringStarts.map(_ * k))
    }
  }

  /** Polygon edge list (region_id, x1, y1, x2, y2) for SQL oracles. */
  def edges(spec: WorldSpec): Seq[(Int, Double, Double, Double, Double)] =
    edgesOf(polygons(spec))

  /** Ring-aware directed edge list of an arbitrary layer (the exact edge
    * set `Polygon.contains` ray-casts), for SQL oracles. */
  def edgesOf(polys: Array[Polygon]): Seq[(Int, Double, Double, Double, Double)] =
    polys.toSeq.flatMap { p =>
      p.edgeList.map { case (x1, y1, x2, y2) => (p.regionId, x1, y1, x2, y2) }
    }

  /** Centroid of a cell in grid coords: (col-0.5, row-0.5), y growing
    * down in row direction (polygons use the same frame). */
  @inline def px(spec: WorldSpec, id: Long): Double =
    ((id - 1) % spec.cols).toDouble + 0.5
  @inline def py(spec: WorldSpec, id: Long): Double =
    ((id - 1) / spec.cols).toDouble + 0.5

  /** Decoded bands of tile t, band-major. Padding pixels of partial
    * edge tiles are NaN in every band (R's NA; never read downstream —
    * the in-grid guard drops them at explode time). */
  def tileBands(spec: WorldSpec, t: Int): Array[Array[Float]] = {
    val out = Array.ofDim[Float](spec.nBands, spec.pixPerTile)
    var p = 0
    while (p < spec.pixPerTile) {
      if (spec.inGrid(t, p)) {
        val id = spec.cellId(t, p)
        out(0)(p) = loss(id).toFloat
        var b = 1
        while (b < spec.nBands) {
          out(b)(p) = band(id, b).toFloat
          b += 1
        }
      } else {
        var b = 0
        while (b < spec.nBands) { out(b)(p) = Float.NaN; b += 1 }
      }
      p += 1
    }
    out
  }

  val tileSchema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("tile_id", IntegerType, nullable = false),
    StructField("loss", BinaryType, nullable = false)))

  /** The Iceberg-shaped image+caption table (BASELINE.json input_hint):
    * one row per tile, bytes = band-major f32 payload of all nBands
    * bands, loss = band 0 again as its own f32 payload of pixPerTile
    * floats (the reference keeps the loss mask apart from its predictor
    * rasters, R:116 vs R:142-166). A loss-only reader then scans the
    * small `loss` column and column pruning drops `bytes`. Generated
    * distributed (one task per range partition, rows reproducible in
    * isolation). */
  def tilesDF(spark: SparkSession, spec: WorldSpec): DataFrame = {
    val rdd = spark.sparkContext
      .range(0, spec.nTiles, numSlices = math.min(spec.nTiles, 32))
      .map(t => tileRow(spec, t.toInt))
    spark.createDataFrame(rdd, tileSchema)
  }

  /** Row `t` of `tilesDF` (schema `tileSchema`). */
  def tileRow(spec: WorldSpec, t: Int): Row = {
    val bands = tileBands(spec, t)
    val row0 = (t / spec.tilesX) * spec.tile
    val col0 = (t % spec.tilesX) * spec.tile
    Row(f"tile_$t%05d", Codec.encodeF32(bands), spec.tile, spec.tile, "f32",
      s"tile r$row0 c$col0 ${spec.tile}x${spec.tile} bands=${spec.nBands}",
      Codec.phash(bands(0), spec.tile, spec.tile), t,
      Codec.encodeF32(Array(bands(0))))
  }
}
