package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.world.WorldSpec

/** The raster-encode sink (SURVEY.md §2.2 K2): the vector->raster
  * inverse of the decode scan, reproducing `rastOut`
  * (`Supplemental_Data_1.R:53-72`) semantics per tile: missing cells
  * become NaN (R's NA), pixel order is row-major within the tile.
  *
  * Determinism at scale: pixel order does NOT rely on any implicit row
  * ordering (Spark has none, SURVEY.md §2.7 U2) — pixels are sorted
  * inside the per-tile aggregation by their in-tile index, and the
  * aggregation shuffles on its group key. One shuffle only: groupBy
  * inserts its own hash Exchange; a repartition in front of it would be
  * a second, wasted Exchange (tile contiguity for sequential file
  * output, if wanted, belongs AFTER the aggregation where the data is
  * three orders of magnitude smaller).
  */
object Rasterize {

  /** Sparse (pix, value) pairs of one tile -> encoded payload; missing
    * pixels become NaN. `fmt` "f32" (raw) or "gtiff" (real LZW GeoTIFF
    * bytes stamped with the tile's georeference — the `writeRaster`
    * GTiff analog, R:70-71). A codegen'd TileEncode expression, not a
    * ScalaUDF: the sink's byte-packing stays inside whole-stage codegen
    * with unboxed ArrayData access. */
  private def encoder(spec: WorldSpec, fmt: String)
      : (Column, Column, Column) => Column = {
    require(fmt == "f32" || fmt == "gtiff", s"unknown raster fmt: $fmt")
    val g = spec.grid
    (t, pixs, vs) =>
      graft.sql.GraftFunctions.tile_encode(t, pixs, vs, spec.pixPerTile,
        spec.tile, spec.tilesX, gtiff = fmt == "gtiff", g.cellSize,
        g.xMin, g.yMax)
  }

  /** The tile regroup under every per-tile kernel: the cells of `cells`
    * (a `cell_id` column) grouped by `keys` and their tile, one row per
    * group, (keys..., tile_id, pv) with pv the group's array of
    * struct(pix, v) sorted by `pix`, v = `value` as given (no cast:
    * ClumpLocal and RunStats read ints). One Exchange, on the group key.
    *
    * `pad` > 0 is the halo exchange under the stencil kernels: each tile
    * gets its (T+2·pad)² patch, `pix` the index in that padded patch
    * (at pad 0 the formula reduces to `spec.pixOf`), and positions off
    * the world are absent. A stencil over tiles must not become a
    * per-pixel self-join, a (2·pad+1)²-fold replication shuffled on the
    * cell id. Instead each pixel fans out to the neighbour tiles whose
    * patch needs it: a Generate emits the 9 candidate tile offsets and a
    * filter keeps one only when the pixel lies within `pad` of the
    * matching border. The shuffle then carries pixels × ~(1 + 2·pad/T)²
    * rows (1.13 at T = 16 and 1.03 at T = 64 for pad 1), keyed by
    * DESTINATION tile, so the exchange that assembles a patch is the
    * group key's own: no second shuffle, O(T²) state per tile, and the
    * halo fraction shrinks as T grows whatever the stencil radius.
    * `pad` <= T/2 puts a pixel within `pad` of at most one border per
    * axis, so a corner pixel feeds exactly 3 neighbours and no pixel
    * reaches past the 8 adjacent tiles. */
  def tilePixels(spec: WorldSpec, cells: DataFrame, value: Column,
      pad: Int = 0, keys: Seq[Column] = Nil): DataFrame = {
    require(0 <= pad && 2 * pad <= spec.tile, s"pad $pad vs tile ${spec.tile}")
    val id = col("cell_id")
    val (pixed, tile, v) =
      if (pad == 0)
        (cells.withColumn("pix", spec.pixOf(id)), spec.tileOf(id), value)
      else {
        val T = spec.tile
        val (r, c) = (spec.row0Of(id), spec.col0Of(id))
        val (dy, dx) = (col("o.dy"), col("o.dx"))
        val (ty, tx) = (col("ty") + dy, col("tx") + dx)
        val offs = for (y <- -1 to 1; x <- -1 to 1)
          yield struct(lit(y).as("dy"), lit(x).as("dx"))
        // a pixel feeds a neighbour tile's patch only from the matching
        // pad-wide border band
        def feeds(d: Column, i: Column) =
          d === 0 || (d === -1 && i < pad) || (d === 1 && i >= T - pad)
        // value and layout are read once per pixel, ahead of the fan-out
        (cells.withColumns(Map("v" -> value, "rr" -> r % T, "cc" -> c % T,
            "ty" -> floor(r / T), "tx" -> floor(c / T)))
          .withColumn("o", explode(array(offs: _*)))
          .filter(feeds(dy, col("rr")) && feeds(dx, col("cc")) &&
            ty >= 0 && ty < spec.tilesY && tx >= 0 && tx < spec.tilesX)
          .withColumn("pix", ((col("rr") - dy * T + pad) * (T + 2 * pad) +
            col("cc") - dx * T + pad).cast("int")),
          (ty * spec.tilesX + tx).cast("int"), col("v"))
      }
    pixed.groupBy(keys :+ tile.as("tile_id"): _*)
      .agg(sort_array(collect_list(struct(col("pix"), v.as("v")))).as("pv"))
  }

  def apply(spec: WorldSpec, df: DataFrame, valueCol: String,
      fmt: String = "f32"): DataFrame = {
    val encode = encoder(spec, fmt)
    tilePixels(spec, df, col(valueCol).cast("double"))
      .select(col("tile_id"),
        format_string("tile_%05d", col("tile_id")).as("image_id"),
        encode(col("tile_id"), col("pv.pix"), col("pv.v")).as("bytes"),
        lit(spec.tile).as("w"), lit(spec.tile).as("h"), lit(fmt).as("fmt"))
  }

  /** Per-class raster fan-out (the six rastOut calls, R:524-551) as ONE
    * aggregation keyed by (class, tile): equivalent to filtering and
    * rasterizing once per class — a tile appears under a class iff it
    * has a cell of that class; all other pixels are NaN — but with a
    * single Exchange over the pixel frame instead of one full shuffle
    * (and upstream recompute) per class. */
  def byClass(spec: WorldSpec, df: DataFrame, valueCol: String,
      classCol: String, fmt: String = "f32"): DataFrame = {
    val encode = encoder(spec, fmt)
    tilePixels(spec, df, col(valueCol).cast("double"),
        keys = Seq(col(classCol).cast("long").as("class")))
      .select(col("class"), col("tile_id"),
        format_string("class%d_tile_%05d", col("class"), col("tile_id"))
          .as("image_id"),
        encode(col("tile_id"), col("pv.pix"), col("pv.v")).as("bytes"),
        lit(spec.tile).as("w"), lit(spec.tile).as("h"), lit(fmt).as("fmt"))
  }
}
