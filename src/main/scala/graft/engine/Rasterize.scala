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

  def apply(spec: WorldSpec, df: DataFrame, valueCol: String,
      fmt: String = "f32"): DataFrame = {
    val encode = encoder(spec, fmt)
    df.select(col("cell_id"), col(valueCol).cast("double").as("v"))
      .withColumn("tile_id", spec.tileOf(col("cell_id")))
      .withColumn("pix", spec.pixOf(col("cell_id")))
      .groupBy("tile_id")
      .agg(sort_array(collect_list(struct(col("pix"), col("v")))).as("pv"))
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
    df.select(col(classCol).cast("long").as("class"), col("cell_id"),
        col(valueCol).cast("double").as("v"))
      .withColumn("tile_id", spec.tileOf(col("cell_id")))
      .withColumn("pix", spec.pixOf(col("cell_id")))
      .groupBy("class", "tile_id")
      .agg(sort_array(collect_list(struct(col("pix"), col("v")))).as("pv"))
      .select(col("class"), col("tile_id"),
        format_string("class%d_tile_%05d", col("class"), col("tile_id"))
          .as("image_id"),
        encode(col("tile_id"), col("pv.pix"), col("pv.v")).as("bytes"),
        lit(spec.tile).as("w"), lit(spec.tile).as("h"), lit(fmt).as("fmt"))
  }
}
