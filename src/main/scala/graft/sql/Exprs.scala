package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{Cart, Codec, Geom, H3Lite, Polygon}

/** The engine's per-row kernels for the operators Spark lacks
  * (SURVEY.md §2.11): tile decode and encode, point-in-polygon, the
  * forest vote, stencils, and the media and text one-pass stats. Each
  * kernel is a top-level object whose `eval` works on Catalyst's
  * internal values (byte[], UTF8String, ArrayData, InternalRow);
  * GraftFunctions turns a kernel into a Column by Spark's own
  * StaticInvoke, so generated code calls `eval` as a static method and
  * the interpreted path reflects the same method. Only DotF64 is a
  * hand-written expression: its codegen inlines the loop.
  */

/** Decode one band of a tile payload to array<float>.
  * Inputs: (bytes: binary, fmt: string). nPixels/band are plan-time
  * constants. The reference's eager raster-to-vector read is
  * `Supplemental_Data_1.R:211,216-218`; here decoding happens per tile
  * row inside the scan projection so it pipelines into posexplode
  * without materializing whole rasters. */
object DecodeBand {
  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int,
      band: Int): ArrayData =
    ArrayData.toArrayData(
      Codec.decodeBand(fmt.toString, bytes, nPixels, band))
}

/** The driver-class vote (per-pixel CART packed-forest walk + argmax +
  * confidence/loss floors, Cart.PackedForest.classify) fused with the
  * region lookup, over `loss`, an f32 payload holding pixel p's loss at
  * element p (the tile table's `loss` column, or the band payload
  * itself), and `bytes`, the band payload the tree walk reads its
  * predictors from. Resolves the point's region ONCE — from the block
  * cover (`blockConst`, Covering.Blocks.const, `nbx` blocks wide,
  * `blockB` grid units per block) when its block is region-constant,
  * else by an exact ray-cast against the packed polygon set — and
  * either classifies (0..nDrivers) or returns -1 for points outside
  * every polygon. The fused form exists because the natural shape, a
  * nullable region column then `.filter(isNotNull)`, makes Catalyst
  * evaluate the ray-cast twice per pixel (once in the pushed-down
  * Filter, once in the collapsed Project) — with 1280-edge
  * polygons the PIP is the compute core of the headline metric, so the
  * double evaluation halves throughput. A top-level forwarder, because
  * a call needs a static method and Cart.PackedForest is nested. */
object DriverClassifyAt {
  def eval(loss: Array[Byte], bytes: Array[Byte], p: Int, px: Double,
      py: Double, polys: Array[Polygon], forest: Cart.PackedForest,
      nPix: Int, lossFloor: Double, confFloor: Double,
      blockConst: Array[Int], nbx: Int, blockB: Int): Long =
    Cart.PackedForest.classifyAtCovered(forest, polys, blockConst, nbx,
      blockB, loss, bytes, p, px, py, nPix, lossFloor, confFloor)
}

/** The driver-class vote over an already-resolved region: (loss,
  * bytes, pixel, region), `loss` and `bytes` as in DriverClassifyAt; walks the region's nDrivers packed trees
  * (Cart.PackedForest.leaf) and returns struct(class, confidence) —
  * class is the first-max argmax (which.max, R:370), 0 under the
  * strict confidence floor (R:382) or the loss floor (R:407);
  * confidence is the maximum leaf probability, reported for every
  * scored cell, floors or not. The registry's fit-and-predict surface
  * (q29, q192) scores with it after region_explode has dropped the
  * no-region cells. */
object ForestVote {
  def eval(pf: Cart.PackedForest, loss: Array[Byte], bytes: Array[Byte],
      p: Int, region: Int, nPix: Int, lossFloor: Double,
      confFloor: Double): InternalRow = {
    val base = (region - 1) * pf.nDrivers
    var best = Double.NegativeInfinity
    var bestD = 0
    var d = 0
    while (d < pf.nDrivers) {
      val prob = Cart.PackedForest.leaf(pf, pf.offsets(base + d), bytes, p,
        nPix)
      if (prob > best) { best = prob; bestD = d + 1 }
      d += 1
    }
    val cls = if (Codec.floatAt(loss, p).toDouble < lossFloor ||
      best < confFloor) 0L else bestD.toLong
    new GenericInternalRow(Array[Any](cls, best))
  }
}

/** The headline's zonal pass over ONE tile: for every in-grid pixel
  * (partial edge tiles stop at the grid's last row and column), the
  * fused PIP + vote of DriverClassifyAt, then for in-region pixels the
  * res-`res` H3-lite id (H3Lite.encodeAt over `table`, the grid's
  * H3Lite.Table) and its res-4 parent. Walks the tile row by row, so
  * the res-4 row slot is read once per row and the pixel's (row, col)
  * need no id division. Accumulates per parent n_cells, n_classified
  * (class > 0), loss_sum and max_class, and returns one struct(h3r4,
  * n_cells, n_classified, loss_sum, max_class) per parent the tile
  * touches, in first-touch order, so the plan moves a few partials per
  * tile, not one row per pixel. Pixels outside every region (class -1)
  * add nothing. The accumulators are dense over the whole res-4 grid,
  * (1 << 4) x (1 << 5) = 512 slots: a 64x64 tile of the true grid
  * touches up to 39 parents, 5.7 on average. `loss` and `bytes` as in
  * DriverClassifyAt; the tile is `tile` x `tile` pixels over a `rows` x
  * `cols` grid. */
object TileZonal {
  val ZoneRes = 4
  private val ColBits = ZoneRes + 1
  private val Slots = 1 << (ZoneRes + ColBits)

  def eval(tileId: Int, loss: Array[Byte], bytes: Array[Byte], rows: Int,
      cols: Int, tile: Int, res: Int, table: H3Lite.Table,
      polys: Array[Polygon], forest: Cart.PackedForest,
      blockConst: Array[Int], nbx: Int, blockB: Int, lossFloor: Double,
      confFloor: Double): ArrayData = {
    val tilesX = (cols + tile - 1) / tile
    val row0 = tileId / tilesX * tile
    val col0 = tileId % tilesX * tile
    val height = math.min(tile, rows - row0)
    val width = math.min(tile, cols - col0)
    val nPix = tile * tile
    val shift = res - ZoneRes
    val nCells = new Array[Long](Slots)
    val nClassified = new Array[Long](Slots)
    val lossSum = new Array[Double](Slots)
    val maxClass = new Array[Long](Slots)
    val touched = new Array[Int](Slots)
    var nTouched = 0
    var dy = 0
    while (dy < height) {
      val r = row0 + dy
      val rowSlot = (H3Lite.row(table.packed(r)) >> shift) << ColBits
      var dx = 0
      while (dx < width) {
        val c = col0 + dx
        val p = dy * tile + dx
        val cls = Cart.PackedForest.classifyAtCovered(forest, polys,
          blockConst, nbx, blockB, loss, bytes, p, c + 0.5, r + 0.5, nPix,
          lossFloor, confFloor)
        if (cls >= 0) {
          val slot = rowSlot |
            (H3Lite.col(H3Lite.encodeAt(table, r, c, res)) >> shift)
          if (nCells(slot) == 0) {
            touched(nTouched) = slot
            nTouched += 1
          }
          nCells(slot) += 1
          if (cls > 0) nClassified(slot) += 1
          lossSum(slot) += Codec.floatAt(loss, p).toDouble
          if (cls > maxClass(slot)) maxClass(slot) = cls
        }
        dx += 1
      }
      dy += 1
    }
    val out = new Array[Any](nTouched)
    var i = 0
    while (i < nTouched) {
      val slot = touched(i)
      out(i) = new GenericInternalRow(Array[Any](
        H3Lite.pack(ZoneRes, slot >> ColBits, slot & ((1 << ColBits) - 1)),
        nCells(slot), nClassified(slot), lossSum(slot), maxClass(slot)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass media feature extraction over a binary payload: decode
  * band 0 in its ACTUAL format (f32/png16/gtiff via Codec) and emit
  * struct(mean_px, max_px, thumb_hash, n_frames) without materializing
  * the pixel array as a column — the per-row feature math lives in one
  * codegen'd expression (Multimodal.features). Inputs: (bytes, fmt, w,
  * h); `frameK` is the frame-sampling stride. */
object MediaStats {
  def eval(bytes: Array[Byte], fmt: UTF8String, w: Int, h: Int,
      frameK: Int): InternalRow = {
    val px = Codec.decodeBand(fmt.toString, bytes, w * h, 0)
    var sum = 0.0
    var mx = Double.MinValue
    var i = 0
    while (i < px.length) {
      sum += px(i)
      if (px(i) > mx) mx = px(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](sum / px.length, mx,
      Codec.phash(px, w, h), (px.length / w + frameK - 1) / frameK))
  }
}

/** Stats of ONE frame of a multi-frame (video-like) payload: decode
  * frame `frame` — band `frame` of the band-major f32 layout — and
  * emit struct(mean_px, max_px, wsum) in a single codegen'd pass.
  * The decode touches only the sampled frame's byte slice
  * (`Codec.decodeF32Band` seeks to the band offset), so a stride-k
  * frame-sample pays ~1/k of the per-payload decode work; wsum =
  * SUM((p+1)*v) is the position-weighted term that pins within-frame
  * pixel order under permutation-invariant aggregates (q73 pattern).
  * Inputs: (bytes, fmt); nPixels/frame are plan-time constants. */
object FrameStats {
  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int,
      frame: Int): InternalRow = {
    val px = Codec.decodeBand(fmt.toString, bytes, nPixels, frame)
    var sum = 0.0
    var mx = Double.MinValue
    var ws = 0.0
    var i = 0
    while (i < px.length) {
      sum += px(i)
      if (px(i) > mx) mx = px(i)
      ws += (i + 1).toDouble * px(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](sum / px.length, mx, ws))
  }
}

/** 64-bit perceptual hash of ONE frame of a multi-frame payload:
  * decode only frame `frame`'s byte slice (the FrameStats seek) and
  * reduce it to the 8x8 block-mean hash (`Codec.phash` — the same
  * function that fills the input table's phash column, so image and
  * video near-dup share one signature definition). One codegen'd
  * static call per sampled frame; pairs with the pigeonhole-banding
  * matcher for frame-aligned video near-dup (q85).
  * Inputs: (bytes, fmt); nPixels/frame/w/h are plan-time constants. */
object FramePhash {
  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int,
      frame: Int, w: Int, h: Int): Long =
    Codec.phash(Codec.decodeBand(fmt.toString, bytes, nPixels, frame), w, h)
}

/** (clamped lat, wrapped lng) degrees of a grid cell centroid through
  * the interrupted-Goode inverse (H3Lite.gridCellToLatLng) — the
  * geodetic midpoint of the grid_h3 chain as a first-class column, so
  * the projection math itself sits under the driver's DuckDB oracle
  * (q75) instead of only inside the opaque id encode. One static call;
  * stays in whole-stage codegen. */
object GridLatLng {
  def eval(id: Long, rows: Int, cols: Int): InternalRow = {
    val (lat, lng) = H3Lite.gridCellToLatLng(id, rows, cols)
    new GenericInternalRow(Array[Any](lat, lng))
  }
}

/** The four edge-adjacent S2 cells of an id at its own level, crossing
  * cube-face boundaries (core/S2Lite.edgeNeighbors) — the S2 side of
  * the tile-neighbor join (G4), like grid_h3 + H3Lite.kRing on the H3
  * side. Emits array<long> of length 4 in (down, right, up, left)
  * order. */
object S2Neighbors {
  def eval(id: Long): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.S2Lite.edgeNeighbors(id))
}

/** Ancestor of an S2 cell id at coarser plan-time `level` — the
  * partition-key derivation of the north rule (res-4 parents as the
  * shuffle key). One static call of guarded bit math per row (eval and
  * codegen share S2Parent.eval, which throws on ids coarser than the
  * target level instead of emitting plausible garbage). */
object S2Parent {
  /** `lsb` is lsbForLevel(level), passed as a plan-time constant. */
  def eval(id: Long, lsb: Long, level: Int): Long = {
    if ((id & ((lsb << 1) - 1)) == 0)
      throw new IllegalArgumentException(
        s"s2_parent: id $id is coarser than level $level (its level " +
          s"marker sits above the level-$level marker bit)")
    (id & -lsb) | lsb
  }
}

/** Inverse of DecodeBand — the raster-ENCODE side of the K2 sink
  * (rastOut, `Supplemental_Data_1.R:53-72`): sparse in-tile (pixel,
  * value) pairs -> a full tile payload with NaN for missing pixels
  * (R's NA), as raw f32 or a georeferenced LZW GeoTIFF stamped with the
  * tile's ModelPixelScale/Tiepoint. Inputs: (tile_id: int,
  * pix: array<int>, v: array<double>); layout constants are plan-time.
  * Exists so the sink's byte-packing stays a codegen'd expression
  * instead of a ScalaUDF (opaque to Catalyst, boxes its inputs). */
object TileEncode {
  def eval(t: Int, pixs: ArrayData, vs: ArrayData, nPix: Int, tile: Int,
      tilesX: Int, gtiff: Boolean, cellSize: Double, xMin: Double,
      yMax: Double): Array[Byte] = {
    val band = Array.fill[Float](nPix)(Float.NaN)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      band(pixs.getInt(i)) = vs.getDouble(i).toFloat
      i += 1
    }
    if (gtiff)
      graft.core.GeoTiff.encode(band, tile, tile, lzw = true,
        cellSize = cellSize,
        xMin = xMin + (t % tilesX) * tile * cellSize,
        yMax = yMax - (t / tilesX) * tile * cellSize)
    else Codec.encodeF32(Array(band))
  }
}

/** 2x box-average downscale of band 0 of an f32 tile payload -> a real
  * half-resolution f32 payload (the multimodal pipeline's resize op).
  * Per output pixel: the four source pixels are summed LEFT-TO-RIGHT in
  * double precision and divided by 4, bit-identical to the expression
  * composition `(CAST(at(2r,2c) AS DOUBLE) + at(2r,2c+1) + at(2r+1,2c)
  * + at(2r+1,2c+1)) / 4` inside a `transform` lambda + TileEncode
  * (asserted in SparkEngineSpec) — but where Spark's higher-order
  * `transform` is CodegenFallback (it dropped q74's resize projection
  * out of whole-stage codegen), this is one static call that stays in
  * the generated code, with one float[] per tile instead of a lambda
  * frame per output pixel. */
object Resize2x {
  def eval(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val w2 = w / 2
    val h2 = h / 2
    val out = new Array[Float](w2 * h2)
    var r = 0
    while (r < h2) {
      var c = 0
      while (c < w2) {
        val base = (2 * r) * w + 2 * c
        val s = Codec.floatAt(bytes, base).toDouble +
          Codec.floatAt(bytes, base + 1) +
          Codec.floatAt(bytes, base + w) +
          Codec.floatAt(bytes, base + w + 1)
        out(r * w2 + c) = (s / 4).toFloat
        c += 1
      }
      r += 1
    }
    Codec.encodeF32(Array(out))
  }
}

/** Bilinear 2x UPSAMPLE of band 0 of an f32 tile payload — the gather
  * complement of [[Resize2x]]'s box-average reduce (the other half of
  * an image pipeline's rescale pair: dst pixel (r,c) samples the source
  * at (r/2, c/2) with half-pixel bilinear weights, edge-clamped). The
  * weights are exactly {1, 1/2, 1/4} — dyadic — and the world's band
  * values are dyadic k/1024 floats, so every interpolated value is
  * EXACT in f32 (<= 12 mantissa bits) and the per-pixel DuckDB oracle
  * compares bit-for-bit with no ordering caveat. One static call per
  * tile inside whole-stage codegen (the q74-verdict lesson: a real
  * doGenCode expression, not a CodegenFallback transform lambda). */
object Upsample2x {
  def eval(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val w2 = w * 2
    val out = new Array[Float](w2 * h * 2)
    var r = 0
    while (r < h * 2) {
      val y0 = r / 2
      val yc = math.min(y0 + 1, h - 1)
      var c = 0
      while (c < w2) {
        val x0 = c / 2
        val xc = math.min(x0 + 1, w - 1)
        val v =
          if (r % 2 == 0 && c % 2 == 0) Codec.floatAt(bytes, y0 * w + x0).toDouble
          else if (r % 2 == 0)
            (Codec.floatAt(bytes, y0 * w + x0).toDouble +
              Codec.floatAt(bytes, y0 * w + xc)) / 2
          else if (c % 2 == 0)
            (Codec.floatAt(bytes, y0 * w + x0).toDouble +
              Codec.floatAt(bytes, yc * w + x0)) / 2
          else
            (Codec.floatAt(bytes, y0 * w + x0).toDouble +
              Codec.floatAt(bytes, y0 * w + xc) +
              Codec.floatAt(bytes, yc * w + x0) +
              Codec.floatAt(bytes, yc * w + xc)) / 4
        out(r * w2 + c) = v.toFloat
        c += 1
      }
      r += 1
    }
    Codec.encodeF32(Array(out))
  }
}

/** Index-permutation augmentation of band 0 of an f32 tile payload —
  * horizontal flip (mode 0), vertical flip (mode 1) or 180-degree
  * rotation (mode 2 — both flips composed) — re-encoded as a real
  * payload (the training-data augmentation op beside [[Resize2x]]'s
  * downscale). A pure permutation: every output pixel is one source
  * float copied bit-for-bit, so the op is exact for ANY pixel values
  * (no arithmetic at all) and the per-pixel oracle is just the source
  * formula read at the permuted index. One static call inside
  * whole-stage codegen, one float[] per tile. */
object Mirror {
  def eval(bytes: Array[Byte], w: Int, h: Int, mode: Int): Array[Byte] = {
    val out = new Array[Float](w * h)
    var r = 0
    while (r < h) {
      val sr = if (mode >= 1) h - 1 - r else r
      var c = 0
      while (c < w) {
        val sc = if (mode == 0 || mode == 2) w - 1 - c else c
        out(r * w + c) = Codec.floatAt(bytes, sr * w + sc)
        c += 1
      }
      r += 1
    }
    Codec.encodeF32(Array(out))
  }
}

/** Letterbox / pillarbox border detection over band 0 of an f32 tile
  * payload — the media-curation screen that finds constant padding
  * margins (encoder letterboxing, scanner borders) before a crop or a
  * quality filter. Returns [top, bottom, left, right]: the number of
  * consecutive CONSTANT rows from each horizontal edge and constant
  * columns from each vertical edge (an all-constant tile reads
  * [h, h, w, w]). The contract is value-agnostic — a border is a run
  * of self-equal lines, whatever the pad color. Float equality is IEEE
  * `==`, so a NaN-bearing line is never constant (NaN != NaN) — the
  * conservative reading for a detector. One pass per edge with early
  * exit, one static call inside whole-stage codegen. */
object BorderStats {
  def eval(bytes: Array[Byte], w: Int, h: Int): ArrayData = {
    @inline def px(r: Int, c: Int): Float = Codec.floatAt(bytes, r * w + c)
    def rowConst(r: Int): Boolean = {
      val v = px(r, 0)
      var c = 1
      while (c < w) { if (px(r, c) != v) return false; c += 1 }
      true
    }
    def colConst(c: Int): Boolean = {
      val v = px(0, c)
      var r = 1
      while (r < h) { if (px(r, c) != v) return false; r += 1 }
      true
    }
    val out = new Array[Int](4)
    while (out(0) < h && rowConst(out(0))) out(0) += 1
    while (out(1) < h && rowConst(h - 1 - out(1))) out(1) += 1
    while (out(2) < w && colConst(out(2))) out(2) += 1
    while (out(3) < w && colConst(w - 1 - out(3))) out(3) += 1
    ArrayData.toArrayData(out)
  }
}

/** Act on [[BorderStats]]'s detection: strip the constant border lines
  * from band 0 and re-encode the REAL cropped payload (the q70-flag /
  * q71-scrub pairing applied to images: q135 measures, this rewrites).
  * Crop bounds come from the same constant-line contract — the two
  * expressions share one detector — so crop(x) always equals "remove
  * exactly what BorderStats reported". An all-border image crops to the
  * EMPTY payload (zero bytes; the derived-length decode then yields
  * zero pixels), the honest reading of "nothing to keep". One static
  * call inside whole-stage codegen, one float[] per image. */
object AutoCrop {
  def eval(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val b = BorderStats.eval(bytes, w, h).toIntArray
    val nw = w - b(2) - b(3)
    val nh = h - b(0) - b(1)
    if (nw <= 0 || nh <= 0) return Array.emptyByteArray
    val out = new Array[Float](nw * nh)
    var r = 0
    while (r < nh) {
      var c = 0
      while (c < nw) {
        out(r * nw + c) = Codec.floatAt(bytes, (b(0) + r) * w + b(2) + c)
        c += 1
      }
      r += 1
    }
    Codec.encodeF32(Array(out))
  }
}

/** Shared sparse-patch densifier for the stencil expressions: scatters
  * the (pix, v) arrays of a padded `Rasterize.tilePixels` patch into a
  * p*p row-major Long grid, -1 marking absent positions (band values
  * are small non-negative integers carried as doubles). One definition so
  * the absent-marker and decode contract have a single home across all
  * stencils; `div` pre-buckets values during the fill (Mode3x3). */
private[sql] object PatchGrid {
  def fill(pixs: ArrayData, vs: ArrayData, p: Int, div: Int = 1): Array[Long] = {
    val grid = Array.fill[Long](p * p)(-1L)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      grid(pixs.getInt(i)) = vs.getDouble(i).toLong / div
      i += 1
    }
    grid
  }
}

/** 3x3 focal (stencil) statistics over ONE tile's halo-padded patch —
  * the per-tile compute half of distributed focal map algebra (the
  * raster `focal()` family the reference's toolchain applies around
  * the driver maps; here slope/hotspot-style neighborhood ops become
  * a Spark pattern: tiles exchange 1-pixel halos keyed by destination
  * tile, then every tile computes its stencil locally — ONE shuffle at
  * ~(1+2/T)^2 of the pixel count instead of a 9x-replicated per-pixel
  * self-join).
  *
  * Inputs: the (pix, v) pairs of the pad-1 `Rasterize.tilePixels`
  * (tile+2)^2 patch as two parallel arrays (pix ascending — the U2
  * sort-inside-agg pattern; order is irrelevant here but pinned for
  * free by the shared shape). Values are small non-negative integers
  * carried as doubles (band pixels); absent positions (outside the
  * world) count as no neighbor. Returns tile*tile packed longs, one per core pixel, in
  * row-major order: (fsum << 5) | (ncnt << 1) | peak, where fsum =
  * integer sum of the in-grid 3x3 window (self included), ncnt = its
  * size (<= 9, 4 bits), peak = value strictly above every in-grid
  * neighbor. -1 marks a core position absent from the patch (edge-tile
  * padding) — callers filter those. All-integer outputs so the DuckDB
  * oracle compare is bit-exact. */
object Focal3x3 {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val v0 = grid((r + 1) * p + (c + 1))
        if (v0 < 0) out(r * tile + c) = -1L
        else {
          var fsum = 0L
          var ncnt = 0L
          var nbMax = -1L
          var dy = -1
          while (dy <= 1) {
            val base = (r + 1 + dy) * p + (c + 1)
            var dx = -1
            while (dx <= 1) {
              val w = grid(base + dx)
              if (w >= 0) {
                fsum += w
                ncnt += 1
                if ((dy != 0 || dx != 0) && w > nbMax) nbMax = w
              }
              dx += 1
            }
            dy += 1
          }
          out(r * tile + c) =
            (fsum << 5) | (ncnt << 1) | (if (v0 > nbMax) 1L else 0L)
        }
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** 3x3 Sobel gradient over a tile's halo-padded (pix, v) patch:
  * array of tile*tile packed longs, (gx+1020)<<12 | (gy+1020), or -1
  * where any of the 9 window samples is absent (world edges and
  * edge-tile padding) — the standard interior-only rule for gradient
  * stencils. Band values are 0..255 integers, so gx,gy in [-1020,1020]
  * and the bias-pack is lossless; all-integer output keeps the DuckDB
  * oracle compare bit-exact. Same patch contract as [[Focal3x3]]. */
object Sobel3x3 {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val nw = grid(r * p + c)
        val nn = grid(r * p + c + 1)
        val ne = grid(r * p + c + 2)
        val ww = grid((r + 1) * p + c)
        val cc = grid((r + 1) * p + c + 1)
        val ee = grid((r + 1) * p + c + 2)
        val sw = grid((r + 2) * p + c)
        val ss = grid((r + 2) * p + c + 1)
        val se = grid((r + 2) * p + c + 2)
        out(r * tile + c) =
          if ((nw | nn | ne | ww | cc | ee | sw | ss | se) < 0) -1L
          else {
            val gx = (ne + 2 * ee + se) - (nw + 2 * ww + sw)
            val gy = (sw + 2 * ss + se) - (nw + 2 * nn + ne)
            ((gx + 1020L) << 12) | (gy + 1020L)
          }
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Harris corner response over a tile's pad-2 halo patch (P = tile+4):
  * Sobel gradients on the pad-1 interior, then the unweighted 3x3
  * structure tensor (Sxx, Syy, Sxy) per core pixel and the scaled
  * integer response R20 = 20·(Sxx·Syy − Sxy²) − (Sxx+Syy)², i.e. the
  * standard R = det − k·tr² at k = 0.05 scaled by 20 so it stays an
  * exact BIGINT (|R20| ≤ ~2.1e15 for 0..255 bands). One long per core
  * pixel in row-major order; Long.MinValue marks a pixel whose 5x5
  * world support is incomplete (world edges, edge-tile padding) —
  * callers filter those. Same patch contract as [[Focal3x3]] but with
  * pad 2. */
object Harris5x5 {
  val Absent: Long = Long.MinValue

  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 4
    val grid = PatchGrid.fill(pixs, vs, p)
    // Sobel gradients on the pad-1 interior of the patch: gradient grid
    // g is (tile+2)^2, g(gr,gc) sits at patch (gr+1, gc+1); valid only
    // when its full 3x3 patch window is present.
    val gp = tile + 2
    val gx = new Array[Long](gp * gp)
    val gy = new Array[Long](gp * gp)
    val gok = new Array[Boolean](gp * gp)
    var gr = 0
    while (gr < gp) {
      var gc = 0
      while (gc < gp) {
        val nw = grid(gr * p + gc)
        val nn = grid(gr * p + gc + 1)
        val ne = grid(gr * p + gc + 2)
        val ww = grid((gr + 1) * p + gc)
        val cc = grid((gr + 1) * p + gc + 1)
        val ee = grid((gr + 1) * p + gc + 2)
        val sw = grid((gr + 2) * p + gc)
        val ss = grid((gr + 2) * p + gc + 1)
        val se = grid((gr + 2) * p + gc + 2)
        val k = gr * gp + gc
        if ((nw | nn | ne | ww | cc | ee | sw | ss | se) >= 0) {
          gok(k) = true
          gx(k) = (ne + 2 * ee + se) - (nw + 2 * ww + sw)
          gy(k) = (sw + 2 * ss + se) - (nw + 2 * nn + ne)
        }
        gc += 1
      }
      gr += 1
    }
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        // core (r,c) = gradient grid (r+1, c+1); window over dy,dx in
        // [-1,1] stays inside the gradient grid by construction
        var sxx = 0L; var syy = 0L; var sxy = 0L
        var ok = true
        var dy = -1
        while (dy <= 1 && ok) {
          val base = (r + 1 + dy) * gp + (c + 1)
          var dx = -1
          while (dx <= 1 && ok) {
            val k = base + dx
            if (!gok(k)) ok = false
            else {
              sxx += gx(k) * gx(k)
              syy += gy(k) * gy(k)
              sxy += gx(k) * gy(k)
            }
            dx += 1
          }
          dy += 1
        }
        out(r * tile + c) =
          if (!ok) Absent
          else 20L * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy)
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** 5x5 Gaussian blur over a tile's PAD-2 halo patch: the separable
  * binomial kernel (1,4,6,4,1)⊗(1,4,6,4,1) (Σ = 256), output kept as
  * the EXACT scaled integer Σkᵢⱼ·v ∈ [0, 255·256] so the driver
  * compare never touches a float (callers divide by 256 for display).
  * One long per core pixel row-major; Long.MinValue where the 5x5
  * world support is incomplete (the q98/Harris interior rule). Same
  * patch contract as [[Harris5x5]]. */
object Gauss5x5 {
  val Absent: Long = Long.MinValue
  private val K = Array(1L, 4L, 6L, 4L, 1L)

  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 4
    val grid = PatchGrid.fill(pixs, vs, p)
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        // core (r,c) sits at patch (r+2, c+2); window rows r..r+4
        var acc = 0L
        var ok = true
        var dy = 0
        while (dy < 5 && ok) {
          val base = (r + dy) * p + c
          var dx = 0
          while (dx < 5 && ok) {
            val w = grid(base + dx)
            if (w < 0) ok = false else acc += K(dy) * K(dx) * w
            dx += 1
          }
          dy += 1
        }
        out(r * tile + c) = if (ok) acc else Absent
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-tile EDGE-DENSITY stats (landscape fragmentation): binarize the
  * band at `thr` (cls = v >= thr) and count the 4-adjacency pairs
  * whose classes DIFFER, each pair owned by its left/top cell's tile
  * (core pixel + right neighbor, core pixel + down neighbor — the
  * neighbor may live in the halo, so cross-tile edges are counted
  * exactly once). ONE fused stencil + reduction, struct(nx, ex, ny,
  * ey): valid right/down pair counts and their differing-class counts
  * — O(tiles) output rows, the LapStats shape. Same patch contract as
  * [[Focal3x3]] (pad 1). */
object EdgeStats {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int, thr: Int): InternalRow = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    var nx = 0; var ex = 0; var ny = 0; var ey = 0
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val cc = grid((r + 1) * p + (c + 1))
        if (cc >= 0) {
          val cls = if (cc >= thr) 1 else 0
          val rr = grid((r + 1) * p + (c + 2)) // right neighbor
          if (rr >= 0) {
            nx += 1
            if ((if (rr >= thr) 1 else 0) != cls) ex += 1
          }
          val dd = grid((r + 2) * p + (c + 1)) // down neighbor
          if (dd >= 0) {
            ny += 1
            if ((if (dd >= thr) 1 else 0) != cls) ey += 1
          }
        }
        c += 1
      }
      r += 1
    }
    InternalRow(nx, ex, ny, ey)
  }
}

/** 3x3 MEDIAN filter over a tile's halo-padded patch — the classic
  * salt-and-pepper denoiser: the LOWER median (the (cnt+1)/2-th
  * smallest, deterministic for even in-grid windows at world edges) of
  * the in-grid 3x3 window, packed (median << 4) | cnt per core pixel,
  * -1 where the core pixel is absent (edge-tile padding). The <=9
  * samples are selected by insertion sort into a stack array — no
  * allocation per pixel. Same patch contract as [[Focal3x3]]. */
object Median3x3 {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    val out = new Array[Long](tile * tile)
    val win = new Array[Long](9)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        if (grid((r + 1) * p + (c + 1)) < 0) out(r * tile + c) = -1L
        else {
          var cnt = 0
          var dy = 0
          while (dy < 3) {
            val base = (r + dy) * p + c
            var dx = 0
            while (dx < 3) {
              val w = grid(base + dx)
              if (w >= 0) { // insertion sort keeps win(0..cnt) ascending
                var j = cnt
                while (j > 0 && win(j - 1) > w) { win(j) = win(j - 1); j -= 1 }
                win(j) = w
                cnt += 1
              }
              dx += 1
            }
            dy += 1
          }
          out(r * tile + c) = (win((cnt + 1) / 2 - 1) << 4) | cnt
        }
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** 3x3 majority (modal) filter over a tile's halo-padded patch, on
  * values quantized to `div`-wide levels: array of tile*tile packed
  * longs, (mode_level << 4) | count, or -1 where the core pixel is
  * absent (edge-tile padding). World-edge cells take the mode over
  * their in-grid window (same edge rule as [[Focal3x3]]'s ncnt); ties
  * go to the SMALLER level — the same first-max determinism the
  * reference's which.max vote pins (W1). Counting is pairwise over the
  * <=9 present samples (no per-pixel histogram allocation). */
object Mode3x3 {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int, div: Int): ArrayData = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p, div)
    val out = new Array[Long](tile * tile)
    val win = new Array[Long](9)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        if (grid((r + 1) * p + (c + 1)) < 0) out(r * tile + c) = -1L
        else {
          var m = 0
          var dy = 0
          while (dy < 3) {
            val base = (r + dy) * p + c
            var dx = 0
            while (dx < 3) {
              val w = grid(base + dx)
              if (w >= 0) { win(m) = w; m += 1 }
              dx += 1
            }
            dy += 1
          }
          // argmax of (count, -level): cnt<<9 | (511 - level), level<=255
          var best = -1L
          var a = 0
          while (a < m) {
            var cnt = 0L
            var b = 0
            while (b < m) {
              if (win(b) == win(a)) cnt += 1
              b += 1
            }
            val score = (cnt << 9) | (511L - win(a))
            if (score > best) best = score
            a += 1
          }
          out(r * tile + c) = ((511L - (best & 511L)) << 4) | (best >> 9)
        }
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** VECTOR OVERLAY: exact area of region polygon INTERSECT tile rect —
  * the per-(tile, region) clip-and-measure primitive (area-weighted
  * zonal statistics, coverage fractions, tile pruning for vector
  * layers): Sutherland-Hodgman against the tile's four half-planes
  * then the shoelace sum (core/Geom.clipRectArea), all inside one
  * codegen call per (tile, region) pair — work is O(edges), never
  * per-pixel. On this repo's dyadic-by-construction geometry every
  * intersection vertex and shoelace term is an exact double, so the
  * DuckDB oracle (the same clip as four chained window-CTE passes)
  * matches bit for bit. Returns struct(area, nv). */
object RectClipArea {
  private[sql] def polyOf(polys: Array[Polygon], regionId: Int): Polygon = {
    var i = 0
    while (i < polys.length) {
      if (polys(i).regionId == regionId) return polys(i)
      i += 1
    }
    throw new IllegalArgumentException(s"unknown region id $regionId")
  }

  def eval(polys: Array[Polygon], tileId: Long, regionId: Int,
      tile: Int, tilesX: Int): InternalRow = {
    val rx0 = ((tileId % tilesX) * tile).toDouble
    val ry0 = ((tileId / tilesX) * tile).toDouble
    val (area, nv) = Geom.clipRectArea(polyOf(polys, regionId),
      rx0, ry0, rx0 + tile, ry0 + tile)
    InternalRow(area, nv)
  }
}

/** [[RectClipArea]]'s two-LAYER sibling: area of region polygon
  * INTERSECT the synthetic protected-area rectangle `paId`
  * (World.paRect — integer bounds NOT aligned to any tile edge), the
  * Tabulate-Intersection primitive between two vector layers. Same
  * clip core, same exactness argument (slope-form intersections stay
  * exact dyadics for any integer clip bound). */
object PaClipArea {
  def eval(polys: Array[Polygon], paId: Long, regionId: Int,
      cols: Int, rows: Int): InternalRow = {
    val (x0, y0, x1, y1) = graft.world.World.paRect(paId, cols, rows)
    val (area, nv) = Geom.clipRectArea(RectClipArea.polyOf(polys, regionId),
      x0, y0, x1, y1)
    InternalRow(area, nv)
  }
}

/** Per-tile RUN-LENGTH statistics over a classified raster's sorted
  * (pix, cls) arrays (the ClumpLocal input contract: pix = row-major
  * in-tile position, cls = caller-defined integer class, any subset of
  * the tile present). A run is a maximal horizontal stretch of PRESENT
  * equal-class pixels within one tile row; absent pixels terminate the
  * current run and contribute nothing. Returns struct(n_runs, max_run,
  * n_vruns): horizontal run count, longest horizontal run, and the
  * vertical (column-wise) run count — the compression-cost /
  * fragmentation triple (RLE rasters, boustrophedon coverage, FRAGSTATS
  * edge metrics all start here). All integers; one call per tile, so
  * the counting loop is amortized exactly like ClumpLocal's union-find. */
object RunStats {
  def eval(pixs: ArrayData, clss: ArrayData, tile: Int): InternalRow = {
    val nCells = tile * tile
    // explicit presence flags (the ClumpLocal rule): class values are
    // caller-defined, so an in-band absent sentinel could collide
    val present = new Array[Boolean](nCells)
    val cls = new Array[Int](nCells)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      val p = pixs.getInt(i)
      present(p) = true
      cls(p) = clss.getInt(i)
      i += 1
    }
    var nRuns = 0
    var maxRun = 0
    var r = 0
    while (r < tile) {
      var run = 0
      var c = 0
      while (c < tile) {
        val p = r * tile + c
        if (!present(p)) {
          if (run > maxRun) maxRun = run
          run = 0
        } else if (run > 0 && cls(p) == cls(p - 1)) run += 1
        else {
          if (run > maxRun) maxRun = run
          run = 1
          nRuns += 1
        }
        c += 1
      }
      if (run > maxRun) maxRun = run
      r += 1
    }
    var nVruns = 0
    var c = 0
    while (c < tile) {
      var inRun = false
      var r2 = 0
      while (r2 < tile) {
        val p = r2 * tile + c
        if (!present(p)) inRun = false
        else if (!(inRun && cls(p) == cls(p - tile))) {
          nVruns += 1
          inRun = true
        }
        r2 += 1
      }
      c += 1
    }
    InternalRow(nRuns, maxRun, nVruns)
  }
}

/** Per-tile level-1 integer HAAR transform energy — the wavelet
  * subband decomposition every compression / detail-analysis pipeline
  * opens with (JPEG2000's first lifting level, cloud/texture detail
  * screens): for each 2x2 block (a b / c d) of the decoded band the
  * four unnormalized Haar coefficients are LL=a+b+c+d, LH=a+b−c−d,
  * HL=a−b+c−d, HH=a−b−c+d — all exact integers on 0..255 bands, no
  * float ever. Returns struct(ll_sum, lh_abs, hl_abs, hh_abs,
  * n_blocks): ΣLL and Σ|·| of each detail subband over the tile's
  * complete blocks (a block with any NaN sample — edge-tile padding —
  * is skipped and not counted). One pass over the payload fused with
  * the decode, zero shuffle beyond the tile scan. */
object HaarStats {
  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int, band: Int,
      tile: Int): InternalRow = {
    val px = Codec.decodeBand(fmt.toString, bytes, nPixels, band)
    var ll = 0L; var lh = 0L; var hl = 0L; var hh = 0L
    var nb = 0
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val a = px(r * tile + c)
        val b = px(r * tile + c + 1)
        val cc = px((r + 1) * tile + c)
        val d = px((r + 1) * tile + c + 1)
        if (!(java.lang.Float.isNaN(a) || java.lang.Float.isNaN(b) ||
            java.lang.Float.isNaN(cc) || java.lang.Float.isNaN(d))) {
          val al = a.toLong; val bl = b.toLong
          val cl = cc.toLong; val dl = d.toLong
          ll += al + bl + cl + dl
          lh += math.abs(al + bl - cl - dl)
          hl += math.abs(al - bl + cl - dl)
          hh += math.abs(al - bl - cl + dl)
          nb += 1
        }
        c += 2
      }
      r += 2
    }
    InternalRow(ll, lh, hl, hh, nb)
  }
}

/** CONVEX HULL of a packed point set (x << 16 | y, both in [0, 2^16))
  * — Andrew's monotone chain (textbook, strict turns: collinear points
  * excluded) canonicalized to start at the lexicographically smallest
  * point with POSITIVE signed shoelace orientation, so engine and
  * oracle (a gift-wrapping recursive CTE — a different algorithm)
  * emit the identical vertex sequence. Returns struct(area2, verts):
  * twice the hull area (exact integer shoelace) and the packed
  * vertices in canonical order. One call per group — and because
  * hull(union of hulls) = hull(all points), the same expression serves
  * both levels of the two-level distributed shape (per-partition
  * partial hulls, then the hull of their tiny union). Input must be
  * distinct (collect_set) but need not be sorted. */
object ConvexHull {
  @inline private def cross(ox: Long, oy: Long, ax: Long, ay: Long,
      bx: Long, by: Long): Long =
    (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

  def eval(ps: ArrayData): InternalRow = {
    val n = ps.numElements()
    val pts = new Array[Long](n)
    var i = 0
    while (i < n) { pts(i) = ps.getLong(i); i += 1 }
    java.util.Arrays.sort(pts) // packed sort == lexicographic (x, y)
    @inline def px(p: Long): Long = p >>> 16
    @inline def py(p: Long): Long = p & 0xFFFFL
    val hull = new Array[Long](2 * math.max(n, 1))
    var m = 0
    // lower hull then upper hull, strict turns (collinear popped)
    i = 0
    while (i < n) {
      while (m >= 2 && cross(px(hull(m - 2)), py(hull(m - 2)),
        px(hull(m - 1)), py(hull(m - 1)), px(pts(i)), py(pts(i))) <= 0)
        m -= 1
      hull(m) = pts(i); m += 1
      i += 1
    }
    val lower = m
    i = n - 2
    while (i >= 0) {
      while (m > lower && cross(px(hull(m - 2)), py(hull(m - 2)),
        px(hull(m - 1)), py(hull(m - 1)), px(pts(i)), py(pts(i))) <= 0)
        m -= 1
      hull(m) = pts(i); m += 1
      i -= 1
    }
    val h = if (n <= 1) n else m - 1 // last point repeats the first
    // canonical: start at lex-min (hull(0) already is), positive
    // signed shoelace — reverse the tail if negative
    var twice = 0L
    var k = 0
    while (k < h) {
      val j = if (k == 0) h - 1 else k - 1
      twice += px(hull(j)) * py(hull(k)) - px(hull(k)) * py(hull(j))
      k += 1
    }
    val out = new Array[Long](h)
    if (twice >= 0) System.arraycopy(hull, 0, out, 0, h)
    else {
      out(0) = hull(0)
      var t = 1
      while (t < h) { out(t) = hull(h - t); t += 1 }
    }
    InternalRow(math.abs(twice), ArrayData.toArrayData(out))
  }
}

/** Per-pixel LOCAL BINARY PATTERN codes over a halo-padded tile patch
  * (the classic texture descriptor under texture classification and
  * scene filtering): bit k of a pixel's 8-bit code is set iff its k-th
  * queen neighbor (fixed clockwise-from-top-left order: (-1,-1),
  * (-1,0), (-1,1), (0,1), (1,1), (1,0), (1,-1), (0,-1)) has value >=
  * the center. Out-of-grid neighbors contribute bit 0 (absent patch
  * positions, the same contract every stencil rider shares);
  * out-of-grid cores come back -1 and are filtered. One call per tile
  * over the pad-1 `Rasterize.tilePixels` patches. */
object Lbp {
  // clockwise from top-left; bit k = neighbor k >= center
  private val Order: Array[(Int, Int)] = Array(
    (-1, -1), (-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1))

  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val v0 = grid((r + 1) * p + (c + 1))
        if (v0 < 0) out(r * tile + c) = -1L
        else {
          var code = 0L
          var k = 0
          while (k < 8) {
            val (dy, dx) = Order(k)
            val nv = grid((r + 1 + dy) * p + (c + 1 + dx))
            if (nv >= 0 && nv >= v0) code |= (1L << k)
            k += 1
          }
          out(r * tile + c) = code
        }
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-tile exact squared EUCLIDEAN DISTANCE TRANSFORM (the proximity
  * raster primitive: distance-to-road, distance-to-edge masks, buffer
  * rings). One call per TILE over the Rasterize collect shape: pixels
  * whose band value >= `thresh` are features; every pixel gets the
  * exact integer squared distance to the nearest feature IN ITS TILE,
  * or -1 when the tile has none. Algorithm: Felzenszwalb-Huttenlocher
  * two-phase separable dt (per-column vertical sweep, then a per-row
  * lower envelope of parabolas) — O(tile²), NOT the O(pixels·features)
  * brute force the DuckDB oracle runs, so the cross-check pins two
  * different algorithms against each other. Envelope boundary
  * comparisons are exact long cross-multiplications (numerators <
  * 2^41, denominators <= 2·tile) — no float anywhere, so ties at
  * equidistant parabola crossings are deterministic. */
object Edt {
  private val Inf = 1L << 20 // > any in-tile distance; Inf² fits a long

  def eval(pixs: ArrayData, vs: ArrayData, tile: Int, thresh: Int): ArrayData = {
    val nPix = tile * tile
    val feat = new Array[Boolean](nPix)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      if (vs.getDouble(i) >= thresh) feat(pixs.getInt(i)) = true
      i += 1
    }
    // phase 1: per-column vertical step distance (two linear sweeps)
    val g = new Array[Long](nPix)
    var c = 0
    while (c < tile) {
      var prev = Inf
      var r = 0
      while (r < tile) {
        val p = r * tile + c
        prev = if (feat(p)) 0L else math.min(Inf, prev + 1)
        g(p) = prev
        r += 1
      }
      prev = Inf
      r = tile - 1
      while (r >= 0) {
        val p = r * tile + c
        prev = math.min(g(p), prev + 1)
        g(p) = prev
        r -= 1
      }
      c += 1
    }
    // phase 2: per-row exact 1-D squared dt over f(c) = g(c)²
    val out = new Array[Long](nPix)
    val f = new Array[Long](tile)
    val v = new Array[Int](tile) // parabola centers
    val zn = new Array[Long](tile) // boundary numerators …
    val zd = new Array[Long](tile) // … and (positive) denominators
    val maxD2 = 2L * (tile - 1) * (tile - 1)
    var r = 0
    while (r < tile) {
      c = 0
      while (c < tile) { f(c) = g(r * tile + c) * g(r * tile + c); c += 1 }
      var k = 0
      v(0) = 0
      var q = 1
      while (q < tile) {
        // boundary between parabola v(k) and q: s = num/den, den > 0
        var num = f(q) + q.toLong * q - f(v(k)) - v(k).toLong * v(k)
        var den = 2L * (q - v(k))
        // pop while s <= z(k) (exact cross-multiplied compare)
        while (k > 0 && num * zd(k) <= zn(k) * den) {
          k -= 1
          num = f(q) + q.toLong * q - f(v(k)) - v(k).toLong * v(k)
          den = 2L * (q - v(k))
        }
        k += 1
        v(k) = q; zn(k) = num; zd(k) = den
        q += 1
      }
      val kMax = k
      k = 0
      c = 0
      while (c < tile) {
        while (k < kMax && zn(k + 1) < c * zd(k + 1)) k += 1
        val d = (c - v(k)).toLong * (c - v(k)) + f(v(k))
        out(r * tile + c) = if (d > maxD2) -1L else d
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Greedy NON-MAX SUPPRESSION over one image's candidate boxes — the
  * standard object-detection postprocess (keep a box iff its IoU with
  * every higher-ranked KEPT box is below the threshold), the per-image
  * sequential step a multimodal pipeline runs after box proposal.
  * Input: the image's boxes ALREADY in rank order (the caller sorts by
  * score desc + tie-break inside its tile aggregation), each packed
  * x1<<24 | y1<<16 | w<<8 | h (half-open boxes, coords < 256). Output:
  * one 0/1 long per box, input order preserved. The IoU test is the
  * cross-multiplied integer inequality thrDen·inter < thrNum·union —
  * no float ever, so the DuckDB oracle (the same greedy unrolled as a
  * chained-CTE CASE cascade) is bit-exact. One call per IMAGE: the
  * O(kept·n) loop is amortized like ClumpLocal's union-find, and n is
  * proposal-count-sized (hundreds), never corpus-sized. */
object GreedyNms {
  def eval(boxes: ArrayData, thrNum: Int, thrDen: Int): ArrayData = {
    val n = boxes.numElements()
    val x1 = new Array[Long](n); val y1 = new Array[Long](n)
    val x2 = new Array[Long](n); val y2 = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = boxes.getLong(i)
      x1(i) = (p >> 24) & 0xFF
      y1(i) = (p >> 16) & 0xFF
      x2(i) = x1(i) + ((p >> 8) & 0xFF)
      y2(i) = y1(i) + (p & 0xFF)
      i += 1
    }
    val kept = new Array[Long](n)
    i = 0
    while (i < n) {
      var ok = true
      var j = 0
      while (ok && j < i) {
        if (kept(j) == 1L) {
          val iw = math.min(x2(i), x2(j)) - math.max(x1(i), x1(j))
          val ih = math.min(y2(i), y2(j)) - math.max(y1(i), y1(j))
          val inter = math.max(0L, iw) * math.max(0L, ih)
          val union = (x2(i) - x1(i)) * (y2(i) - y1(i)) +
            (x2(j) - x1(j)) * (y2(j) - y1(j)) - inter
          if (thrDen.toLong * inter >= thrNum.toLong * union) ok = false
        }
        j += 1
      }
      kept(i) = if (ok) 1L else 0L
      i += 1
    }
    ArrayData.toArrayData(kept)
  }
}

/** Per-tile SUMMED-AREA TABLE (integral image): given one tile's
  * (pix, v) pairs — same input contract as the tile aggregations,
  * no halo — return tile² longs where out[r·t+c] = Σ v over all pixels
  * (r'≤r, c'≤c), the box-filter primitive (any axis-aligned box sum
  * becomes 4 SAT lookups). Absent pixels contribute 0 (padding of
  * partial edge tiles). One expression call per tile; the 2-D
  * recurrence sat = v + left + up − upleft runs in one scan. Values
  * are 0..255 ints carried as double, so SAT ≤ tile²·255 — exact in a
  * long at any real tile size, and the DuckDB oracle recomputes the
  * same table by a DIFFERENT algorithm (two chained window cumsums). */
object Sat {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): ArrayData = {
    val v = new Array[Long](tile * tile)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      v(pixs.getInt(i)) = vs.getDouble(i).toLong
      i += 1
    }
    val out = new Array[Long](tile * tile)
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val p = r * tile + c
        out(p) = v(p) +
          (if (c > 0) out(p - 1) else 0L) +
          (if (r > 0) out(p - tile) else 0L) -
          (if (r > 0 && c > 0) out(p - tile - 1) else 0L)
        c += 1
      }
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-tile LOCAL connected-component labeling (the first level of the
  * hierarchical raster clump, engine/Clump): given one tile's sorted
  * in-tile pixel indices and their integer class values, label each
  * pixel with the smallest in-tile pixel index reachable through
  * 4-adjacent SAME-CLASS pixels of the SAME tile — a scalar union-find
  * over at most tile² entries, one expression call per TILE (not per
  * pixel), so the imperative kernel is amortized over every pixel the
  * tile carries. Output packs (pix << 20) | localRootPix into a long
  * per input pixel (input order preserved); callers convert pix and
  * root to global cell ids with plain column arithmetic, keeping the
  * unpack inside whole-stage codegen. Sparse tiles are fine (absent
  * pixels simply never union); requires tile² <= 2^20 (tiles up to
  * 1024x1024 — pix and root each fit 20 bits). The cross-TILE merge is
  * level two's job: only fragments
  * touching a tile border can join a neighboring tile's fragment, which
  * is what makes the clump's global phase perimeter-sized. */
object ClumpLocal {
  def eval(pixs: ArrayData, clss: ArrayData, tile: Int): ArrayData = {
    val nCells = tile * tile
    // explicit presence flags, NOT a class sentinel: class values are
    // caller-defined integers, so any in-band "absent" marker (e.g. -1)
    // could collide with a real class and silently split its fragments
    val present = new Array[Boolean](nCells)
    val cls = new Array[Int](nCells)
    val parent = new Array[Int](nCells)
    val n = pixs.numElements()
    var i = 0
    while (i < n) {
      val p = pixs.getInt(i)
      present(p) = true
      cls(p) = clss.getInt(i)
      parent(p) = p
      i += 1
    }
    // find with path compression; union keeps the SMALLER pixel index
    // as the root, so every root IS its fragment's minimum pixel
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var p = 0
    while (p < nCells) {
      if (present(p)) {
        if (p % tile != 0 && present(p - 1) &&
            cls(p - 1) == cls(p)) { // left neighbor
          val ra = find(p); val rb = find(p - 1)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        if (p >= tile && present(p - tile) &&
            cls(p - tile) == cls(p)) { // up neighbor
          val ra = find(p); val rb = find(p - tile)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
      }
      p += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val px = pixs.getInt(i)
      out(i) = (px.toLong << 20) | find(px).toLong
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Per-tile Laplacian sharpness statistics over a halo-padded (pix,
  * v) patch — the blur gate of an image training pipeline (a
  * blurry image has a low-variance Laplacian response; the classic
  * variance-of-Laplacian focus measure) expressed as ONE fused
  * stencil + reduction: the 5-point Laplacian L = 4·c − n − s − e − w
  * is computed per core pixel and reduced to struct(n, lsum, lsumsq)
  * inside the expression, so a per-image score never materializes
  * tile·tile per-pixel rows — output is one 24-byte struct per tile
  * regardless of tile size, which is the shape that survives 10^12
  * images. Interior-of-world pixels only (the q98 gradient edge rule:
  * a one-sided Laplacian is a different operator); absent samples
  * (world edge, edge-tile padding) drop the pixel. Band values are
  * 0..255 integers carried as double, so L ∈ [−1020, 1020] and
  * lsumsq ≤ tile²·1020² — exact in a long; callers derive the exact
  * variance NUMERATOR n·lsumsq − lsum² (still integer, so the DuckDB
  * oracle compare is bit-exact) and divide by n² only for display.
  * Same patch contract as [[Focal3x3]]. */
object LapStats {
  def eval(pixs: ArrayData, vs: ArrayData, tile: Int): InternalRow = {
    val p = tile + 2
    val grid = PatchGrid.fill(pixs, vs, p)
    var n = 0
    var lsum = 0L
    var lsumsq = 0L
    var r = 0
    while (r < tile) {
      var c = 0
      while (c < tile) {
        val cc = grid((r + 1) * p + (c + 1))
        val nn = grid(r * p + (c + 1))
        val ss = grid((r + 2) * p + (c + 1))
        val ww = grid((r + 1) * p + c)
        val ee = grid((r + 1) * p + (c + 2))
        if ((cc | nn | ss | ww | ee) >= 0) {
          val l = 4 * cc - nn - ss - ww - ee
          n += 1
          lsum += l
          lsumsq += l * l
        }
        c += 1
      }
      r += 1
    }
    InternalRow(n, lsum, lsumsq)
  }
}

/** Per-tile HISTOGRAM EQUALIZATION stats: decode band `band` of the
  * payload, remap every valid pixel v to its equalized level
  * e = floor(255 · cdf(v) / n) (cdf = count of valid pixels ≤ v, n =
  * valid-pixel count — the textbook contrast remap, driven entirely by
  * the tile's OWN value distribution, so tiles are embarrassingly
  * parallel), and emit struct(n, esum, ewsum = Σ(p+1)·e) in ONE
  * codegen'd pass: histogram, CDF prefix-sum and remap all live inside
  * the expression — per-image contrast normalization costs zero shuffle
  * and O(images) output rows (the q104 LapStats shape). ewsum is the
  * position-weighted term that pins per-pixel remapped values and their
  * payload order under the permutation-invariant hash compare (q73
  * pattern). NaN padding pixels of partial edge tiles are skipped and
  * carry no position weight. All outputs are integers, so the DuckDB
  * oracle (a per-tile RANGE-frame window count) compares bit-exact.
  * Band values must be integral in [0, 255] — anything else fails
  * loudly rather than silently mis-binning.
  * Inputs: (bytes, fmt); nPixels/band are plan-time constants. */
object HistEqStats {
  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int,
      band: Int): InternalRow = {
    val px = Codec.decodeBand(fmt.toString, bytes, nPixels, band)
    val cdf = new Array[Int](256) // histogram, prefix-summed in place
    var n = 0
    var i = 0
    while (i < px.length) {
      val f = px(i)
      if (!java.lang.Float.isNaN(f)) {
        val v = f.toInt
        require(v >= 0 && v <= 255 && v.toFloat == f,
          s"hist_eq_stats: band value $f at pixel $i is not an integer in [0, 255]")
        cdf(v) += 1
        n += 1
      }
      i += 1
    }
    var b = 1
    while (b < 256) { cdf(b) += cdf(b - 1); b += 1 }
    var esum = 0L
    var ewsum = 0L
    i = 0
    while (i < px.length) {
      val f = px(i)
      if (!java.lang.Float.isNaN(f)) {
        val e = 255L * cdf(f.toInt) / n
        esum += e
        ewsum += (i + 1) * e
      }
      i += 1
    }
    InternalRow(n, esum, ewsum)
  }
}

/** Per-tile VIEWSHED from the tile center over the DEM band: for each
  * pixel, 1 if the line of sight from the center pixel (T/2, T/2)
  * clears every intermediate sample, 0 if blocked, -1 unevaluable (the
  * center or a ray sample is NaN padding on partial edge tiles). Rays
  * are the deterministic rounded parametric walk: steps =
  * max(|dy|,|dx|), sample_i = center + floorDiv(2·k·d + steps,
  * 2·steps) per axis — floor division in BOTH engines, so the oracle
  * reproduces the exact same grid walk. Visibility compares elevation
  * angles dz/√d² EXACTLY via sign cases + squared cross-multiplication
  * (dz² ≤ 65025, d² ≤ 2·(T/2)², products far inside long) — no sqrt,
  * no float, ever. This is the chip-level (per-tile) viewshed — a
  * whole-scene viewshed is a different algorithm class (R2/R3 sweeps)
  * with cross-tile dependencies; per tile the op is embarrassingly
  * parallel and needs no halo. Output: tile² longs, row-major. */
object Viewshed {
  /** is a/sqrt(da2) < b/sqrt(db2)? Exact: sign cases + squared
    * cross-multiplication (da2, db2 > 0). */
  private def angLt(a: Long, da2: Long, b: Long, db2: Long): Boolean =
    if (a < 0 && b >= 0) true
    else if (a >= 0 && b < 0) false
    else if (a >= 0) a * a * db2 < b * b * da2
    else a * a * db2 > b * b * da2

  def eval(bytes: Array[Byte], fmt: UTF8String, nPixels: Int, band: Int,
      tile: Int): ArrayData = {
    val px = Codec.decodeBand(fmt.toString, bytes, nPixels, band)
    val out = new Array[Long](tile * tile)
    val cy = tile / 2
    val cx = tile / 2
    val zc = px(cy * tile + cx)
    if (java.lang.Float.isNaN(zc)) {
      java.util.Arrays.fill(out, -1L)
      return ArrayData.toArrayData(out)
    }
    val z0 = zc.toLong
    var ty = 0
    while (ty < tile) {
      var tx = 0
      while (tx < tile) {
        val dy = ty - cy
        val dx = tx - cx
        val steps = math.max(math.abs(dy), math.abs(dx))
        if (steps == 0) out(ty * tile + tx) = 1L // the center sees itself
        else {
          val zt = px(ty * tile + tx)
          if (java.lang.Float.isNaN(zt)) out(ty * tile + tx) = -1L
          else {
            val dzt = zt.toLong - z0
            val d2t = (dy.toLong * dy + dx.toLong * dx)
            var vis = 1L
            var k = 1
            while (k < steps && vis >= 0) {
              val sy = cy + Math.floorDiv(2 * k * dy + steps, 2 * steps)
              val sx = cx + Math.floorDiv(2 * k * dx + steps, 2 * steps)
              val zs = px(sy * tile + sx)
              if (java.lang.Float.isNaN(zs)) vis = -1L
              else {
                val dzs = zs.toLong - z0
                val ry = (sy - cy).toLong
                val rx = (sx - cx).toLong
                if (!angLt(dzs, ry * ry + rx * rx, dzt, d2t)) vis = 0L
                // keep scanning: a later NaN must still poison to -1
              }
              k += 1
            }
            out(ty * tile + tx) = vis
          }
        }
        tx += 1
      }
      ty += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** One-pass integer stats of window `win` (winSize samples) of an
  * s16le audio payload: struct(sum_sq, peak, zero_cross). All-integer
  * outputs so the DuckDB oracle compare is bit-exact (no libm). The
  * window index is a plan-time constant, so each call touches only its
  * own 2*winSize byte slice — the audio analog of FrameStats' seek-to-
  * frame decode; at real scale the same constants become byte-range
  * pushdown into the object reader. Zero crossings count strict sign
  * flips between CONSECUTIVE samples of the window (zeros break a
  * flip), a window-local definition so windows are independently
  * computable in any order. */
object AudioWindowStats {
  def eval(bytes: Array[Byte], win: Int, winSize: Int): InternalRow = {
    val off = win * winSize
    var sumSq = 0L
    var peak = 0
    var zc = 0
    var prev = 0
    var i = 0
    while (i < winSize) {
      val v = Codec.s16At(bytes, off + i)
      sumSq += v.toLong * v
      val a = math.abs(v)
      if (a > peak) peak = a
      if (i > 0 && prev * v < 0) zc += 1
      prev = v
      i += 1
    }
    new GenericInternalRow(Array[Any](sumSq, peak, zc))
  }
}

/** Keep every k-th sample of an s16le payload (stride decimation — the
  * audio resample op; a production resampler swaps the inner kernel
  * for a windowed-sinc but keeps this exact shape: per-row, linear,
  * no shuffle, output length n/k). */
object DecimateS16 {
  def eval(bytes: Array[Byte], k: Int): Array[Byte] = {
    val n = bytes.length / 2
    val m = (n + k - 1) / k
    val out = new Array[Short](m)
    var j = 0
    while (j < m) {
      out(j) = Codec.s16At(bytes, j * k).toShort
      j += 1
    }
    Codec.encodeS16(out)
  }
}

/** Whole-clip integer stats of an s16le payload: struct(n, sum_v,
  * peak, wsum) with wsum = sum((i+1) * sample_i) — the position-
  * weighted term makes the struct a checksum of the exact byte layout
  * AND sample order (the q73 round-trip trick), so composing it over
  * DecimateS16 pins the re-encoded payload bit-for-bit under the SQL
  * oracle. */
object ClipStatsS16 {
  def eval(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length / 2
    var sum = 0L
    var peak = 0
    var wsum = 0L
    var i = 0
    while (i < n) {
      val v = Codec.s16At(bytes, i)
      sum += v
      val a = math.abs(v)
      if (a > peak) peak = a
      wsum += (i + 1).toLong * v
      i += 1
    }
    new GenericInternalRow(Array[Any](n, sum, peak, wsum))
  }
}

/** 64-bit audio fingerprint of an s16le payload: the clip is split
  * into `nWin` equal windows, bit k = 1 iff window k's energy (sum of
  * squared samples) exceeds window (k+1) mod nWin's — the circular
  * energy-delta sign pattern, a 1-D analog of the 8x8 block-mean
  * phash. Robust to small per-sample perturbations (energy moves by
  * ~|2*v*delta| against window-to-window deltas orders of magnitude
  * larger), so near-identical clips land within a few hamming bits and
  * the pigeonhole-banded matcher (hammingPairs) finds them with exact
  * recall. All-integer, so the DuckDB oracle rebuilds it bit-for-bit. */
object AudioFingerprint {
  def eval(bytes: Array[Byte], winSize: Int, nWin: Int): Long = {
    val e = new Array[Long](nWin)
    var k = 0
    while (k < nWin) {
      val off = k * winSize
      var s = 0L
      var i = 0
      while (i < winSize) {
        val v = Codec.s16At(bytes, off + i)
        s += v.toLong * v
        i += 1
      }
      e(k) = s
      k += 1
    }
    var fp = 0L
    k = 0
    while (k < nWin) {
      if (e(k) > e((k + 1) % nWin)) fp |= 1L << k
      k += 1
    }
    fp
  }
}

/** All k MinHash signature values of a document in ONE pass over its
  * characters: for each 3-char shingle window, code = c0*961 + c1*31 +
  * c2 (the same polynomial the SQL oracle uses), and sig_j =
  * min((code * a_j + b_j) mod prime). Equivalent to
  * `array_min(transform(array_distinct(shingles), ...))` — min is
  * duplicate-insensitive, so the distinct is unnecessary — but with
  * zero per-shingle allocation instead of one UTF8String per window
  * per signature. Null for texts shorter than one window (no shingles),
  * matching list_min(empty) = NULL. */
object MinHashSigs {
  /** The canonical 4-signature (a_j, b_j) set of the engine's MinHash
    * queries and of graft_minhash_sigs, mirrored by their oracles (LCG
    * multiplier/increment constants, the classic public ones —
    * Knuth/Numerical Recipes lineage), and its Mersenne prime. */
  val Params: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (69069L, 362437L),
    (1664525L, 1013904223L), (22695477L, 7777L))
  val Prime: Long = 2147483647L

  /** Iterates CODE POINTS, not UTF-16 units: the oracle's substr/ascii
    * and the sibling shingles()/code3 columns count characters, so a
    * charAt walk would diverge on non-BMP text (and window counts would
    * differ too). cps is one int[] per document — still zero per-shingle
    * allocation. Null (not empty) below one full window, matching
    * list_min(empty) = NULL. */
  def eval(t: UTF8String, as: Array[Long], bs: Array[Long],
      prime: Long): ArrayData = {
    val cps = t.toString.codePoints().toArray
    val n = cps.length
    if (n < 3) return null
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + 2 < n) {
      val code = cps(i).toLong * 961 + cps(i + 1).toLong * 31 +
        cps(i + 2).toLong
      var j = 0
      while (j < k) {
        val h = (code * as(j) + bs(j)) % prime
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}

/** The DISTINCT 3-char-shingle set of a document as a SORTED array of
  * packed 63-bit longs, in one pass over its code points: each shingle
  * packs as cp0·2^42 + cp1·2^21 + cp2 (every Unicode code point fits 21
  * bits, so the packing is INJECTIVE — the packed set has exactly the
  * string shingle set's cardinality and exactly its pairwise
  * intersection sizes). Equivalent to
  * `array_sort(array_distinct(transform(shingles(text), pack)))` but
  * with zero per-shingle allocation (no UTF8String windows, no boxed
  * hash set): one primitive long[] of window codes, sorted and deduped
  * in place. Sorted ascending so [[SortedInterSize]] can merge-count
  * pairs without building a per-pair hash set. Null for texts shorter
  * than one window, matching MinHashSigs (no shingles exist). */
object Sh3Set {
  /** Code-point walk (not charAt), the MinHashSigs discipline. */
  def eval(t: UTF8String): ArrayData = {
    val cps = t.toString.codePoints().toArray
    val n = cps.length
    if (n < 3) return null
    val codes = new Array[Long](n - 2)
    var i = 0
    while (i + 2 < n) {
      codes(i) = (cps(i).toLong << 42) | (cps(i + 1).toLong << 21) |
        cps(i + 2).toLong
      i += 1
    }
    java.util.Arrays.sort(codes)
    // in-place dedup of the sorted run
    var w = 0
    i = 0
    while (i < codes.length) {
      if (w == 0 || codes(i) != codes(w - 1)) { codes(w) = codes(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(
      if (w == codes.length) codes else java.util.Arrays.copyOf(codes, w))
  }
}

/** |A ∩ B| of two SORTED DISTINCT long arrays by linear merge — the
  * per-pair verify kernel of the MinHash dedup family. Equivalent to
  * `size(array_intersect(a, b))` on distinct inputs, but with zero
  * per-pair allocation: `array_intersect` builds a boxed hash set per
  * evaluation, which at millions of candidate pairs × thousands of
  * shingles per document is the dominant cost of the verify stage
  * (guide §1.2 "per-task work"). Inputs MUST be sorted ascending and
  * duplicate-free ([[Sh3Set]] emits exactly that); violating either
  * undercounts, so the only producers are the sorted-set expressions. */
object SortedInterSize {
  def eval(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va == vb) { c += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    c
  }
}

/** 16-bit SimHash over space-separated tokens in ONE pass: token code =
  * cp0*961 + cp1*31 + cp2 over the token's first three code points
  * (missing -> 0, matching ascii(substr(tk, i, 1)) with '' -> 0); per
  * bit b the signs ((code >> b & 1)*2 - 1) are summed over tokens and
  * the bit is set when the sum is positive. Equivalent to sixteen
  * `aggregate(split(text,' '), ...)` folds — but those allocate a
  * lambda frame per token per bit (measured 21x slower than the
  * comparable one-pass MinHashSigs); this walks the code points once.
  * Token semantics match split(text, ' ') with limit -1: consecutive /
  * trailing spaces yield empty tokens (code 0), empty text is one
  * empty token. */
object SimHash16 {
  def eval(t: UTF8String): Long = {
    val s = t.toString
    val counts = new Array[Int](16)
    var c0 = 0L; var c1 = 0L; var c2 = 0L
    var tpos = 0
    def flush(): Unit = {
      val code = c0 * 961 + c1 * 31 + c2
      var b = 0
      while (b < 16) {
        counts(b) += (((code >> b) & 1L).toInt * 2 - 1)
        b += 1
      }
      c0 = 0; c1 = 0; c2 = 0; tpos = 0
    }
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      if (cp == ' ') flush()
      else {
        if (tpos == 0) c0 = cp else if (tpos == 1) c1 = cp
        else if (tpos == 2) c2 = cp
        tpos += 1
      }
      i += Character.charCount(cp)
    }
    flush()
    var h = 0L
    var b = 0
    while (b < 16) { if (counts(b) > 0) h |= (1L << b); b += 1 }
    h
  }
}

/** Intra-document repetition statistics in ONE pass over the token
  * stream: array [n2, top2, dup2, n3, top3, dup3] where n_k = number of
  * k-grams of consecutive space-split tokens, top_k = occurrence count
  * of the most frequent k-gram, dup_k = n_k - (distinct k-grams).
  * These are the Gopher-family repetition signals (Rae et al. 2021
  * arXiv:2112.11446 §A1.1: "fraction of ... most common n-gram" /
  * "fraction of duplicate n-grams"), re-expressed over exact token
  * counts so every output is an integer and the DuckDB oracle compare
  * is bit-exact — thresholding (e.g. top2/n2 <= 0.2) is then integer
  * cross-multiplication downstream, never a float divide.
  *
  * Per-row linear: one hash-map per (row, k) over that row's grams —
  * the naive SQL formulation (count each distinct gram by filtering
  * the gram list) is O(tokens^2) per row, which is exactly what the
  * oracle does at sf0.01 and what this expression avoids at scale.
  * Token semantics match split(text, ' ') with limit -1 (consecutive /
  * trailing spaces yield empty tokens). Gram key = tokens joined by
  * U+001F (unit separator); injective on any corpus whose tokens don't
  * contain control characters. */
object RepStats {
  def eval(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    val n = toks.length
    val out = new Array[Int](6)
    var k = 2
    while (k <= 3) {
      val nk = math.max(n - k + 1, 0)
      val m = new java.util.HashMap[String, Integer](math.max(nk * 2, 4))
      var top = 0
      var i = 0
      while (i < nk) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < k) { sb.append('\u001f').append(toks(i + j)); j += 1 }
        val c = m.merge(sb.toString, Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > top) top = c.intValue
        i += 1
      }
      val base = (k - 2) * 3
      out(base) = nk
      out(base + 1) = top
      out(base + 2) = nk - m.size
      k += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Dot product of two array<double> columns, summed left-to-right in
  * element order (bit-identical to `aggregate(zip_with(a,b,_*_),0.0,_+_)`
  * and to DuckDB's `list_dot_product`, which both fold sequentially).
  * Exists because the higher-order-function formulation allocates a
  * lambda frame per element; this is a tight codegen loop over the
  * ArrayData — the hot path of the brute-force similarity join. */
case class DotF64(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName so several DotF64 instances can share one generated
      // method (e.g. a similarity expression computing three dots).
      val acc = ctx.freshName("dotAcc")
      val n = ctx.freshName("dotN")
      val i = ctx.freshName("dotI")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** D8 steepest-descent pick for the deterministic bilinear-value-noise
  * terrain (q126/q127/q128): struct(wdrop, dir, dst) of the weighted-
  * drop winner among a cell's 8 neighbors, ESRI codes, ties to the
  * smallest code, (0, 0, -1)-style sentinels where no strictly-downhill
  * neighbor exists (wdrop 0, dir 0, dst -1).
  *
  * Exists for CODEGEN SIZE, not semantics: the equivalent Column
  * formulation (9 bilinear elevation trees, 4 corner hashes each, then
  * 16 guarded candidate columns and two 8-way when-chains) generated a
  * whole-stage method past Janino's 64 KB limit — every fresh plan paid
  * a multi-second failed compile and then ran the 2000-node tree
  * INTERPRETED (guide §4: prefer compiled scalar work in the hot path).
  * This expression emits one static call; the scalar below is the same
  * integer math term for term (D8PickSpec pins equality against the
  * original Column composition over every grid cell, and the DuckDB
  * oracles pin it independently). Integer-exact: all arithmetic is
  * Long, division only by positive constants on non-negative values. */
object D8Pick {
  // (ESRI code, dx, dy, integer weight) in ascending-code order — the
  // iteration order IS the tie-break (first strict max wins, matching
  // the ascending when-chain of the original Column pick)
  private val D8: Array[(Int, Int, Int, Long)] = Array(
    (1, 1, 0, 10L), (2, 1, 1, 7L), (4, 0, 1, 10L), (8, -1, 1, 7L),
    (16, -1, 0, 10L), (32, -1, -1, 7L), (64, 0, -1, 10L), (128, 1, -1, 7L))

  private val KN = 2654435761L
  private val M32 = 4294967296L
  @inline private def h(k: Long): Long = (k * KN) % M32
  // h(k) is non-negative for the non-negative lattice keys used here,
  // so / 65536 equals the Column form's floor(h(k) / 65536)
  @inline private def h2(k: Long): Long = h(h(k) / 65536L)

  /** Bilinear value-noise elevation at 0-based grid (x, y) — the exact
    * integer math of Spatial.elevCol (64 x the interpolated value). */
  def elev(x: Long, y: Long, terrB: Int, terrCX: Int): Long = {
    val cx = x / terrB; val cy = y / terrB
    val fx = x % terrB; val fy = y % terrB
    @inline def corner(i: Int, j: Int): Long =
      h2(((cy + j) * terrCX + cx + i) * 53 + 11) % 4000
    (terrB - fx) * (terrB - fy) * corner(0, 0) +
      fx * (terrB - fy) * corner(1, 0) +
      (terrB - fx) * fy * corner(0, 1) +
      fx * fy * corner(1, 1)
  }

  def eval(id: Long, rows: Int, cols: Int, terrB: Int,
      terrCX: Int): InternalRow = {
    val x = (id - 1) % cols
    val y = (id - 1) / cols
    val ec = elev(x, y, terrB, terrCX)
    var best = 0L; var dir = 0; var dst = -1L
    var i = 0
    while (i < 8) {
      val (code, dx, dy, w) = D8(i)
      val nx = x + dx; val ny = y + dy
      if (nx >= 0 && nx < cols && ny >= 0 && ny < rows) {
        val drop = ec - elev(nx, ny, terrB, terrCX)
        val wd = drop * w
        if (drop > 0 && wd > best) {
          best = wd; dir = code; dst = id + dx + dy.toLong * cols
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](best, dir, dst))
  }
}

/** Mann-Kendall trend + Sen's slope over ONE user's time-ordered
  * series, evaluated scalar-side (q155): input is the (tus, v) arrays
  * of a `sort_array(collect_list(struct(tus, eid, v)))` aggregation —
  * already ordered by (tus, eid), i.e. exactly the i<j pair order of
  * the self-join formulation it replaces. Returns
  * struct(s_stat, n, var18, sen_slope), or NULL when the user has no
  * positive-dt pair (the old inner join against the filtered median
  * frame dropped precisely those users).
  *
  * Why an expression: the pair frame is O(events²/user) BY DESIGN (the
  * MK statistic is pairwise; series are windowed upstream in real
  * deployments — the operator's stated license), and the dataframe
  * formulation materialized those 4M rows at sf0.1, shuffled them, and
  * SORTED them under a ranking window just to pick one median element
  * per user. Here the same pair arithmetic runs in registers inside
  * the collect aggregation's output projection: one exchange total,
  * nothing pair-sized ever materialized. Term-for-term identical
  * float math: slope = (vⱼ-vᵢ) / ((tusⱼ-tusᵢ) / 1e6) in IEEE order;
  * the Sen value is the (m+1) div 2-th smallest slope, which is the
  * value the rank formulation selected regardless of its eid/e2 tie
  * ordering (ties share the value); positive-dt slopes can produce
  * only +0.0 (x - x = +0.0, dt > 0), so the double sort cannot drift
  * on signed zeros; ties in v group by primitive == (matching SQL
  * grouping — fixture values are never NaN). */
object MannKendall {
  def eval(tusA: ArrayData, vsA: ArrayData): InternalRow = {
    val n = tusA.numElements()
    val tus = tusA.toLongArray()
    val vs = vsA.toDoubleArray()
    var s = 0L
    var m = 0
    val slopes = new Array[Double](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val vi = vs(i); val vj = vs(j)
        if (vj > vi) s += 1L else if (vj < vi) s -= 1L
        val dt = tus(j) - tus(i)
        if (dt > 0) {
          slopes(m) = (vj - vi) / (dt.toDouble / 1000000.0)
          m += 1
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return null
    // tie variance: group equal values via a sorted copy
    val sv = new Array[Double](n)
    System.arraycopy(vs, 0, sv, 0, n)
    java.util.Arrays.sort(sv)
    var var18 = n.toLong * (n - 1) * (2L * n + 5)
    var k = 0
    while (k < n) {
      var t = 1L
      while (k + 1 < n && sv(k + 1) == sv(k)) { t += 1; k += 1 }
      var18 -= t * (t - 1) * (2 * t + 5)
      k += 1
    }
    java.util.Arrays.sort(slopes, 0, m)
    val sen = slopes((m + 1) / 2 - 1) // lower median, 1-based (m+1) div 2
    new GenericInternalRow(Array[Any](s, n.toLong, var18, sen))
  }
}

object GraftFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{AbstractType, toColumn => column, toExpression => expression}

  /** The one kernel-call mechanism: Spark's StaticInvoke of `kernel.fn`.
    * Generated code calls the object's static forwarder, so `kernel`
    * must be a top-level object with no companion class; interpreted
    * evaluation reflects the same method. `args` are columns or
    * plan-time constants: Int/Long/Double/Boolean become typed literals,
    * any other object (polygons, forest, cover, tables) an ObjectType
    * literal. A null column argument yields null without a call;
    * `nullable` marks kernels that return null themselves. */
  private def invoke(kernel: AnyRef, dataType: DataType, args: Seq[Any],
      fn: String = "eval", nullable: Boolean = false,
      inputTypes: Seq[AbstractType] = Nil): Column =
    column(StaticInvoke(kernel.getClass, dataType, fn, args.map {
      case c: Column => expression(c)
      case v @ (_: Int | _: Long | _: Double | _: Boolean) => Literal(v)
      case o: AnyRef => Literal(o, ObjectType(o.getClass))
    }, inputTypes, returnNullable = nullable))

  /** A struct of non-nullable fields, the shape every stats kernel
    * returns. */
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)

  /** Decode band `band` of an f32/png16 tile payload to array<float>. */
  def decode_band(bytes: Column, fmt: Column, nPixels: Int, band: Int): Column =
    invoke(DecodeBand, ArrayType(FloatType, containsNull = false),
      Seq(bytes, fmt, nPixels, band))

  /** One-pass stats of frame `frame` of a multi-frame payload:
    * struct(mean_px, max_px, wsum). */
  def frame_stats(bytes: Column, fmt: Column, nPixels: Int,
      frame: Int): Column =
    invoke(FrameStats, struct("mean_px" -> DoubleType,
      "max_px" -> DoubleType, "wsum" -> DoubleType),
      Seq(bytes, fmt, nPixels, frame))

  /** 64-bit block-mean perceptual hash of frame `frame` of a
    * multi-frame payload (decodes only that frame's byte slice). */
  def frame_phash(bytes: Column, fmt: Column, nPixels: Int, frame: Int,
      w: Int, h: Int): Column =
    invoke(FramePhash, LongType, Seq(bytes, fmt, nPixels, frame, w, h))

  /** One-pass per-tile histogram-equalization stats of band `band`:
    * struct(n, esum, ewsum) — all-integer, order-pinned. */
  def hist_eq_stats(bytes: Column, fmt: Column, nPixels: Int,
      band: Int): Column =
    invoke(HistEqStats, struct("n" -> IntegerType, "esum" -> LongType,
      "ewsum" -> LongType), Seq(bytes, fmt, nPixels, band))

  /** Morton z-value of (x, y) — the z-order layout curve key
    * (engine/Layout: x on even bits, y on odd; integer-exact, so q87's
    * oracle re-derives it bit by bit). */
  def z_interleave(x: Column, y: Column): Column =
    invoke(graft.engine.Layout, LongType, Seq(x, y), "zInterleave")

  /** True iff `hash` (an `xxhash64(key)` column — the same hashing the
    * filter was fitted with) might be in the fitted Bloom filter: k
    * integer bit tests against the bitmap, which rides the plan as a
    * literal and ships once per executor with the task binary. No false
    * negatives, so a pruned join is row-identical to the unpruned one
    * (q86's oracle relies on this). */
  def bloom_might_contain(hash: Column, f: graft.engine.Bloom.Filter): Column =
    invoke(graft.engine.Bloom, BooleanType, Seq(f.bits, hash, f.k),
      "mightContain")

  /** Region id of point (px, py) among `polys`, -1 if none (the
    * non-nullable sentinel form the fused classify uses). */
  def region_of_neg1(px: Column, py: Column, polys: Array[Polygon]): Column =
    invoke(Geom, IntegerType, Seq(polys, px, py), "regionOf")

  /** region_of_neg1 through the block cover `cover` of `polys`
    * (Geom.regionOfCovered, the lookup the fused classify runs): O(1) in
    * region-constant blocks, one exact ray-cast in boundary blocks. */
  def region_of_covered(px: Column, py: Column, polys: Array[Polygon],
      cover: graft.engine.Covering.Blocks): Column =
    invoke(Geom, IntegerType, Seq(polys, cover.const, cover.nbx, cover.b, px,
      py), "regionOfCovered")

  /** Generator: ONE row carrying the region id for points inside some
    * polygon, ZERO rows for points outside — with exactly one ray-cast
    * per input row. The natural `withColumn(region).filter(...)`
    * shape makes Catalyst evaluate the PIP twice per row (the pushed
    * Filter and the Project each evaluate it; Catalyst has no
    * cross-operator subexpression elimination), so row-dropping is
    * folded into a Generate instead: explode(array_remove(array(r), -1))
    * references the expression once and emits 0 or 1 rows. */
  def region_explode(px: Column, py: Column, polys: Array[Polygon]): Column = {
    import org.apache.spark.sql.functions.{array, array_remove, coalesce, explode, lit}
    // coalesce: null coordinates (possible when px/py come from nullable
    // source columns) count as no-region and emit no row, like the -1
    // sentinel, instead of a null region row. Every function here has
    // generated code (array_compact would lower to a filter lambda,
    // which runs the whole Generate, ray-cast included, interpreted).
    explode(array_remove(array(coalesce(region_of_neg1(px, py, polys),
      lit(-1))), lit(-1)))
  }

  /** Sequential-order dot product of two array<double> columns. */
  def dot_f64(a: Column, b: Column): Column =
    column(DotF64(expression(a), expression(b)))

  /** One-pass repetition stats [n2,top2,dup2,n3,top3,dup3] over the
    * space-split token stream (Gopher-style repetition filters). */
  def rep_stats(text: Column): Column =
    invoke(RepStats, Ints, Seq(text))

  /** Integer stats of window `win` of an s16le audio payload:
    * struct(sum_sq, peak, zero_cross). */
  def audio_window_stats(bytes: Column, win: Int, winSize: Int): Column =
    invoke(AudioWindowStats, struct("sum_sq" -> LongType,
      "peak" -> IntegerType, "zero_cross" -> IntegerType),
      Seq(bytes, win, winSize))

  /** Every k-th sample of an s16le payload (stride resample). */
  def decimate_s16(bytes: Column, k: Int): Column = {
    require(k > 0, s"decimation factor must be positive, got $k")
    invoke(DecimateS16, BinaryType, Seq(bytes, k))
  }

  /** Whole-clip integer stats of an s16le payload, order-pinning. */
  def clip_stats_s16(bytes: Column): Column =
    invoke(ClipStatsS16, struct("n" -> IntegerType, "sum_v" -> LongType,
      "peak" -> IntegerType, "wsum" -> LongType), Seq(bytes))

  /** 64-bit circular energy-delta fingerprint of an s16le payload. */
  def audio_fingerprint(bytes: Column, winSize: Int, nWin: Int): Column = {
    require(nWin > 0 && nWin <= 64, s"fingerprint needs 1..64 windows, got $nWin")
    invoke(AudioFingerprint, LongType, Seq(bytes, winSize, nWin))
  }

  /** Per-pixel driver-class vote with the region PIP folded in, -1 for
    * points outside every polygon, over an f32 band payload whose band 0
    * is the loss. Points in region-constant blocks of the cover skip the
    * ray-cast entirely (the q72 scale path fused into the vote;
    * bit-equal to an exact PIP by Covering's parity argument); the rest
    * pay one ray-cast. */
  def driver_classify_at_covered(bytes: Column, p: Column, px: Column,
      py: Column, polys: Array[Polygon], forest: Cart.PackedForest,
      blockConst: Array[Int], nbx: Int, blockB: Int, nPix: Int,
      lossFloor: Double, confFloor: Double): Column =
    invoke(DriverClassifyAt, LongType, Seq(bytes, bytes, p, px, py, polys,
      forest, nPix, lossFloor, confFloor, blockConst, nbx, blockB))

  /** driver_classify_at_covered() with the loss read from its own f32
    * payload `loss` (element p = pixel p's loss). The band payload
    * `bytes` is an input only when the forest has a split: a split-free
    * forest reads no predictor band, so the plan does not reference
    * `bytes` and column pruning can drop it from the scan. */
  def driver_classify_at_covered(loss: Column, bytes: Column, p: Column,
      px: Column, py: Column, polys: Array[Polygon],
      forest: Cart.PackedForest, blockConst: Array[Int], nbx: Int,
      blockB: Int, nPix: Int, lossFloor: Double, confFloor: Double): Column =
    invoke(DriverClassifyAt, LongType, Seq(loss, predictors(bytes, forest),
      p, px, py, polys, forest, nPix, lossFloor, confFloor, blockConst, nbx,
      blockB))

  /** struct(class, confidence) of the packed-forest vote at pixel `p`,
    * for a cell already known to lie in `region`: loss from the f32
    * payload `loss`, predictor bands from `bytes` (an input only when
    * the forest has a split, as in driver_classify_at_covered). */
  def forest_vote(loss: Column, bytes: Column, p: Column, region: Column,
      forest: Cart.PackedForest, nPix: Int, lossFloor: Double,
      confFloor: Double): Column =
    invoke(ForestVote, struct("class" -> LongType,
      "confidence" -> DoubleType), Seq(forest, loss,
      predictors(bytes, forest), p, region, nPix, lossFloor, confFloor))

  /** The headline's per-tile zonal partials (TileZonal): array of
    * struct(h3r4, n_cells, n_classified, loss_sum, max_class), one per
    * res-4 H3-lite parent that tile `tileId` of `spec` touches with an
    * in-region pixel, H3 ids at res `res`. Regions, `forest`, `cover`
    * and the floors as in driver_classify_at_covered; `bytes` is an
    * input only when the forest has a split. */
  def tile_zonal(tileId: Column, loss: Column, bytes: Column,
      spec: graft.world.WorldSpec, res: Int, polys: Array[Polygon],
      forest: Cart.PackedForest, cover: graft.engine.Covering.Blocks,
      lossFloor: Double, confFloor: Double): Column = {
    require(res >= TileZonal.ZoneRes && res <= H3Lite.MaxRes,
      s"tile_zonal res $res out of [${TileZonal.ZoneRes}, ${H3Lite.MaxRes}]")
    invoke(TileZonal, ArrayType(struct("h3r4" -> LongType,
      "n_cells" -> LongType, "n_classified" -> LongType,
      "loss_sum" -> DoubleType, "max_class" -> LongType),
      containsNull = false),
      Seq(tileId, loss, predictors(bytes, forest), spec.rows, spec.cols,
        spec.tile, res, H3Lite.table(spec.rows, spec.cols, res), polys,
        forest, cover.const, cover.nbx, cover.b, lossFloor, confFloor))
  }

  /** The band payload the forest walk reads: `bytes`, or an empty
    * literal when no tree has a split (the walk then reads no band). */
  private def predictors(bytes: Column, forest: Cart.PackedForest): Column =
    if (forest.hasSplit) bytes
    else org.apache.spark.sql.functions.lit(Array.emptyByteArray)

  /** Encode sparse in-tile (pixel, value) pairs to a tile payload
    * (NaN-filled f32 or georeferenced LZW GeoTIFF). */
  def tile_encode(t: Column, pixs: Column, vs: Column, nPix: Int,
      tile: Int, tilesX: Int, gtiff: Boolean, cellSize: Double,
      xMin: Double, yMax: Double): Column =
    invoke(TileEncode, BinaryType, Seq(t, pixs, vs, nPix, tile, tilesX,
      gtiff, cellSize, xMin, yMax))

  /** Float element at flat index `idx` (band * nPixels + pixel) of an
    * f32 payload. Pairs with an exploded pixel index to give the fused
    * scan->decode->classify pipeline zero per-cell allocation. */
  def float_at(bytes: Column, idx: Column): Column =
    invoke(Codec, FloatType, Seq(bytes, idx), "floatAt")

  /** 2x box-average downscale of band 0 of an f32 payload. */
  def resize2x(bytes: Column, w: Int, h: Int): Column = {
    require(w % 2 == 0 && h % 2 == 0, s"Resize2x needs even dims, got ${w}x$h")
    invoke(Resize2x, BinaryType, Seq(bytes, w, h))
  }

  /** Bilinear 2x upsample of band 0 of a wxh f32 payload (edge clamp). */
  def upsample2x(bytes: Column, w: Int, h: Int): Column =
    invoke(Upsample2x, BinaryType, Seq(bytes, w, h))

  /** Flip/rotate band 0 of an f32 payload (0=flipH, 1=flipV, 2=rot180). */
  def mirror(bytes: Column, w: Int, h: Int, mode: Int): Column = {
    require(mode >= 0 && mode <= 2, s"Mirror mode must be 0|1|2, got $mode")
    invoke(Mirror, BinaryType, Seq(bytes, w, h, mode))
  }

  /** [top, bottom, left, right] constant-border widths of band 0. */
  def border_stats(bytes: Column, w: Int, h: Int): Column =
    invoke(BorderStats, Ints, Seq(bytes, w, h))

  /** Strip the detected constant border from band 0; real payload out. */
  def auto_crop(bytes: Column, w: Int, h: Int): Column =
    invoke(AutoCrop, BinaryType, Seq(bytes, w, h))

  /** H3-lite id at `res` of a grid cell id (grid spans the Goode extent;
    * SURVEY.md §2.8 G1): centroid, interrupted-homolosine inverse, then
    * the hierarchical encode. The grid's H3Lite.Table (per-row Goode
    * inverse, per-column x and lobe meridians) is resolved ONCE here and
    * rides the plan as a literal, so the per-pixel path is arithmetic +
    * table reads (no cache lookup). */
  def grid_h3(cellId: Column, rows: Int, cols: Int, res: Int): Column =
    invoke(H3Lite, LongType,
      Seq(cellId, cols, res, H3Lite.table(rows, cols, res)),
      "encodeFromTable")

  /** struct(lat, lng) of a grid cell centroid via the Goode inverse. */
  def grid_latlng(cellId: Column, rows: Int, cols: Int): Column =
    invoke(GridLatLng, struct("lat" -> DoubleType, "lng" -> DoubleType),
      Seq(cellId, rows, cols))

  /** Parent of an H3-lite id at coarser `toRes`, as pure Column bit
    * arithmetic (H3Lite.parent semantics; the id layout is
    * [marker:1][res:4][row:24][col:24]). */
  def h3_parent_col(h3: Column, fromRes: Int, toRes: Int): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(toRes <= fromRes, s"parent res $toRes finer than $fromRes")
    val shift = fromRes - toRes
    val row = shiftright(h3, 24).bitwiseAND(lit(0xFFFFFFL))
    val c = h3.bitwiseAND(lit(0xFFFFFFL))
    lit((1L << 62) | (toRes.toLong << 48))
      .bitwiseOR(shiftleft(shiftright(row, shift), 24))
      .bitwiseOR(shiftright(c, shift))
  }

  /** S2 cell id at `level` of a (lat, lng) point in degrees — the S2
    * half of the north rule's "H3/S2 index" (core/S2Lite: cube face +
    * quadratic ST + Hilbert order). */
  def s2_cell(lat: Column, lng: Column, level: Int): Column =
    invoke(graft.core.S2Lite, LongType, Seq(lat, lng, level), "encode",
      inputTypes = Seq(DoubleType, DoubleType, IntegerType))

  /** Ancestor of an S2 cell id at coarser `level` (partition key). */
  def s2_parent(id: Column, level: Int): Column = {
    import graft.core.S2Lite.{MaxLevel, lsbForLevel}
    require(level >= 0 && level <= MaxLevel,
      s"s2_parent level $level out of [0, $MaxLevel]")
    invoke(S2Parent, LongType, Seq(id, lsbForLevel(level), level),
      inputTypes = Seq(LongType, LongType, IntegerType))
  }

  /** The four edge-adjacent S2 cells at the id's own level. */
  def s2_neighbors(id: Column): Column =
    invoke(S2Neighbors, Longs, Seq(id), inputTypes = Seq(LongType))

  /** One-pass decode + media feature stats over a binary payload. */
  def media_stats(bytes: Column, fmt: Column, w: Column, h: Column,
      frameK: Int): Column =
    invoke(MediaStats, struct("mean_px" -> DoubleType,
      "max_px" -> DoubleType, "thumb_hash" -> LongType,
      "n_frames" -> IntegerType), Seq(bytes, fmt, w, h, frameK))

  /** 3x3 focal stats over a tile's halo-padded (pix, v) patch:
    * array of tile*tile packed longs (fsum<<5 | ncnt<<1 | peak). */
  def focal3x3(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Focal3x3, Longs, Seq(pixs, vs, tile))

  /** 3x3 Sobel gradient over a halo-padded patch: packed
    * (gx+1020)<<12 | (gy+1020), -1 where the window is not full. */
  def sobel3x3(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Sobel3x3, Longs, Seq(pixs, vs, tile))

  /** 3x3 majority filter over `div`-quantized levels: packed
    * (mode_level << 4) | count, ties to the smaller level. */
  def mode3x3(pixs: Column, vs: Column, tile: Int, div: Int): Column =
    invoke(Mode3x3, Longs, Seq(pixs, vs, tile, div))

  /** Harris corner response over a PAD-2 halo patch: one exact scaled
    * long R20 per core pixel, Long.MinValue where the 5x5 world
    * support is incomplete. */
  def harris5x5(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Harris5x5, Longs, Seq(pixs, vs, tile))

  /** 5x5 binomial Gaussian blur over a PAD-2 halo patch: one exact
    * 256-scaled long per core pixel, Long.MinValue where the support
    * is incomplete. */
  def gauss5x5(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Gauss5x5, Longs, Seq(pixs, vs, tile))

  /** Fused per-tile edge-density stats over a pad-1 halo patch:
    * struct(nx, ex, ny, ey) of valid/differing right- and down-pair
    * counts at binarization threshold `thr`. */
  def edge_stats(pixs: Column, vs: Column, tile: Int, thr: Int): Column =
    invoke(EdgeStats, struct("nx" -> IntegerType, "ex" -> IntegerType,
      "ny" -> IntegerType, "ey" -> IntegerType), Seq(pixs, vs, tile, thr))

  /** 3x3 lower-median filter over a pad-1 halo patch: packed
    * (median << 4) | cnt, -1 where the core pixel is absent. */
  def median3x3(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Median3x3, Longs, Seq(pixs, vs, tile))

  /** Per-tile viewshed from the tile center over the DEM band:
    * tile² longs (1 visible / 0 blocked / -1 unevaluable), exact
    * integer angle comparisons, deterministic rounded ray walk. */
  def viewshed(bytes: Column, fmt: Column, nPixels: Int, band: Int,
      tile: Int): Column =
    invoke(Viewshed, Longs, Seq(bytes, fmt, nPixels, band, tile))

  /** Fused Laplacian stencil + per-tile reduction over a halo-padded
    * patch: struct(n, lsum, lsumsq) of L = 4c−n−s−e−w, interior only. */
  def lap_stats(pixs: Column, vs: Column, tile: Int): Column =
    invoke(LapStats, struct("n" -> IntegerType, "lsum" -> LongType,
      "lsumsq" -> LongType), Seq(pixs, vs, tile))

  /** Per-tile local clump labels over sorted (pix, cls) arrays: one
    * packed (pix << 20 | localRootPix) long per pixel (engine/Clump
    * level one — union-find over same-class 4-neighbors of ONE tile). */
  def clump_local(pixs: Column, clss: Column, tile: Int): Column = {
    require(tile.toLong * tile <= (1L << 20),
      s"ClumpLocal supports tiles up to 1024x1024, got $tile")
    invoke(ClumpLocal, Longs, Seq(pixs, clss, tile))
  }

  /** Mann-Kendall trend stats over one user's time-ordered (tus, v)
    * arrays: struct(s_stat, n, var18, sen_slope), NULL when no
    * positive-dt pair — see [[MannKendall]]. */
  def mann_kendall(tus: Column, vs: Column): Column =
    invoke(MannKendall, struct("s_stat" -> LongType, "n" -> LongType,
      "var18" -> LongType, "sen_slope" -> DoubleType), Seq(tus, vs),
      nullable = true)

  /** D8 steepest-descent pick over the bilinear value-noise terrain:
    * struct(wdrop, dir, dst) — see [[D8Pick]]'s codegen-size rationale. */
  def d8_pick(id: Column, rows: Int, cols: Int, terrB: Int,
      terrCX: Int): Column =
    invoke(D8Pick, struct("wdrop" -> LongType, "dir" -> IntegerType,
      "dst" -> LongType), Seq(id, rows, cols, terrB, terrCX))

  /** Per-tile summed-area table over (pix, v) arrays: tile² longs,
    * out[r·t+c] = box sum from the tile origin (absent pixels = 0). */
  def sat(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Sat, Longs, Seq(pixs, vs, tile))

  /** Greedy NMS over rank-ordered packed boxes (x1<<24|y1<<16|w<<8|h):
    * 0/1 kept flag per box, IoU >= thrNum/thrDen suppresses. */
  def greedy_nms(boxes: Column, thrNum: Int, thrDen: Int): Column = {
    require(thrNum > 0 && thrDen > 0, "NMS threshold must be positive")
    invoke(GreedyNms, Longs, Seq(boxes, thrNum, thrDen))
  }

  /** Exact polygon-INTERSECT-tile-rect area + clipped vertex count:
    * struct(area, nv) via Sutherland-Hodgman + shoelace, one call per
    * (tile, region) pair. */
  def rect_clip_area(tileId: Column, regionId: Column,
      polys: Array[Polygon], tile: Int, tilesX: Int): Column =
    invoke(RectClipArea, struct("area" -> DoubleType, "nv" -> IntegerType),
      Seq(polys, tileId, regionId, tile, tilesX))

  /** Exact polygon-INTERSECT-protected-area-rect area (two-layer
    * overlay): struct(area, nv), rect derived from World.paRect. */
  def pa_clip_area(paId: Column, regionId: Column,
      polys: Array[Polygon], cols: Int, rows: Int): Column =
    invoke(PaClipArea, struct("area" -> DoubleType, "nv" -> IntegerType),
      Seq(polys, paId, regionId, cols, rows))

  /** Per-tile run-length stats over sorted (pix, cls) arrays:
    * struct(n_runs, max_run, n_vruns) of same-class runs, absent
    * pixels terminating runs (the ClumpLocal input contract). */
  def run_stats(pixs: Column, clss: Column, tile: Int): Column =
    invoke(RunStats, struct("n_runs" -> IntegerType,
      "max_run" -> IntegerType, "n_vruns" -> IntegerType),
      Seq(pixs, clss, tile))

  /** Per-tile level-1 integer Haar energy fused with the decode:
    * struct(ll_sum, lh_abs, hl_abs, hh_abs, n_blocks) over complete
    * 2x2 blocks of the band (NaN-touching blocks skipped). */
  def haar_stats(bytes: Column, fmt: Column, nPixels: Int, band: Int,
      tile: Int): Column = {
    require(tile % 2 == 0, s"HaarStats needs an even tile, got $tile")
    invoke(HaarStats, struct("ll_sum" -> LongType, "lh_abs" -> LongType,
      "hl_abs" -> LongType, "hh_abs" -> LongType, "n_blocks" -> IntegerType),
      Seq(bytes, fmt, nPixels, band, tile))
  }

  /** Region id under the nonzero (winding) fill rule, -1 outside — the
    * q194 dual of regionOf's even-odd parity (Geom.windRegionOf). */
  def wind_region(px: Column, py: Column, polys: Array[Polygon]): Column =
    invoke(Geom, IntegerType, Seq(polys, px, py), "windRegionOf")

  /** Per-pixel 8-bit local binary pattern codes over a halo-padded
    * tile patch; -1 for out-of-grid cores. */
  def lbp(pixs: Column, vs: Column, tile: Int): Column =
    invoke(Lbp, Longs, Seq(pixs, vs, tile))

  /** Per-tile exact squared Euclidean distance transform: dense
    * tile²-long array of d2-to-nearest-feature (band >= thresh), -1
    * when the tile holds no feature. */
  def edt(pixs: Column, vs: Column, tile: Int, thresh: Int): Column =
    invoke(Edt, Longs, Seq(pixs, vs, tile, thresh))

  /** Convex hull of distinct packed (x << 16 | y) points:
    * struct(area2, verts) in canonical order (lex-min start, positive
    * shoelace). Serves both levels of the partial-hull shape. */
  def convex_hull(ps: Column): Column =
    invoke(ConvexHull, struct("area2" -> LongType, "verts" -> Longs),
      Seq(ps))

  /** 16-bit SimHash over space-separated tokens in one pass. */
  def simhash16(text: Column): Column =
    invoke(SimHash16, LongType, Seq(text))

  /** k MinHash signatures over 3-char shingles in one pass. */
  def minhash_sigs(text: Column, params: Seq[(Long, Long)],
      prime: Long): Column =
    invoke(MinHashSigs, Longs, Seq(text, params.map(_._1).toArray,
      params.map(_._2).toArray, prime), nullable = true)

  /** Distinct 3-char-shingle set as a sorted packed-long array. */
  def sh3_set(text: Column): Column =
    invoke(Sh3Set, Longs, Seq(text), nullable = true)

  /** |A ∩ B| of two sorted distinct long arrays (zero allocation). */
  def sorted_inter_size(a: Column, b: Column): Column =
    invoke(SortedInterSize, IntegerType, Seq(a, b))
}
