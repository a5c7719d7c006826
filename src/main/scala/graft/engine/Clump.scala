package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.world.WorldSpec

/** Hierarchical raster CLUMP labeling — connected components of
  * 4-adjacent SAME-CLASS cells (GIS "clump"/"region group"; the patch
  * segmentation every landscape-metric study runs downstream of a
  * classified deforestation map — patch counts and size distributions
  * are the standard fragmentation statistics over exactly the kind of
  * class raster the reference's classifier emits,
  * `Supplemental_Data_1.R:524-551`'s per-class masks).
  *
  * The naive shape — min-label propagation over the raw cell adjacency
  * graph — iterates a CORPUS-sized frame for patch-diameter rounds: on
  * a raster, unlike a dedup pair graph, nearly EVERY cell has a
  * same-class neighbor, so Components.minLabel's "edge-incident nodes
  * are rare" economics do not apply. The scalable shape is the standard
  * TWO-LEVEL decomposition:
  *
  *  1. LOCAL: each tile labels its own cells with a scalar union-find
  *     ([[graft.sql.ClumpLocal]] — one expression call per tile inside
  *     the tile aggregation, local root = the fragment's min cell id).
  *     One Exchange over the cell frame, all heavy work map-side after
  *     it.
  *  2. GLOBAL: only fragments TOUCHING a tile border can merge across
  *     tiles, so the global problem shrinks to a graph over boundary
  *     fragment labels — perimeter-sized, ~4/tile of the cells (at the
  *     production 1024-cell tile, ~0.4%). Components.minLabel resolves
  *     it in max-patch-diameter-in-TILE-units rounds (not cell units).
  *  3. Cells re-attach with one join of the local frame against the
  *     (tiny) global label map; fragments with no cross-tile link keep
  *     their local root via coalesce.
  *
  * Labels are the patch's global minimum cell id at every level: local
  * roots are per-fragment min cells (monotone pix -> cell id within a
  * tile), and min-label propagation over fragment roots yields the min
  * of mins — so the two-level result is IDENTICAL to a flat flood fill
  * (ClumpSpec proves it against one, and the DuckDB oracle recomputes
  * it with a recursive CTE over the raw cell graph).
  */
object Clump {

  /** Label every cell of `cells` (columns `cell_id`, `cls`: int class,
    * any subset of the spec's grid) with its patch id = the smallest
    * cell id 4-connected to it through equal-class cells. Returns
    * (cell_id, patch). */
  def label(s: SparkSession, spec: WorldSpec, cells: DataFrame,
      name: String): DataFrame = {
    val T = spec.tile
    val C = spec.cols
    val id = col("cell_id")
    val row0 = spec.row0Of(id)
    val col0 = spec.col0Of(id)

    // ---- level 1: per-tile local labels (one Exchange on tile_id; the
    // union-find runs once per TILE inside the aggregation's output
    // projection, then a codegen'd unpack derives global cell ids)
    val packed = Rasterize.tilePixels(spec, cells, col("cls"))
      .select(col("tile_id"),
        explode(graft.sql.GraftFunctions
          .clump_local(col("pv.pix"), col("pv.v"), T)).as("pl"))
    // truncate ONCE: the local frame is read three times (two boundary
    // edge sides + the final re-attach join) — without it the tile
    // aggregation recomputes per consumer
    val local = Checkpoint.truncateOnce(s, packed.select(
      spec.cellOf(col("tile_id"), shiftright(col("pl"), 20)).as("cell_id"),
      spec.cellOf(col("tile_id"), col("pl").bitwiseAND(lit((1L << 20) - 1)))
        .as("loc")))

    // ---- level 2: cross-tile merge graph. Both edge endpoints sit on
    // a tile border, so every frame below is filtered to the perimeter
    // BEFORE its shuffle (~4/tile of the cells; the filters are pure
    // cell-id arithmetic and run inside the scan projection).
    val onRightBorder = col0 % T === T - 1 && col0 < C - 1
    val onLeftBorder = col0 % T === 0 && col0 > 0
    val onBottomBorder = row0 % T === T - 1 && row0 < spec.rows - 1
    val onTopBorder = row0 % T === 0 && row0 > 0
    def crossEdges(aSide: Column, bSide: Column, step: Int): DataFrame = {
      val a = cells.filter(aSide)
        .select(id.as("a_id"), col("cls").as("a_cls"))
      val b = cells.filter(bSide)
        .select(id.as("b_id"), col("cls").as("b_cls"))
      a.join(b, col("b_id") === col("a_id") + step &&
          col("a_cls") === col("b_cls"))
        .select(col("a_id"), col("b_id"))
    }
    val cellEdges = crossEdges(onRightBorder, onLeftBorder, 1)
      .unionAll(crossEdges(onBottomBorder, onTopBorder, C))
    val borderLoc = local.filter(
      onRightBorder || onLeftBorder || onBottomBorder || onTopBorder)
    val locEdges = cellEdges
      .join(borderLoc.select(col("cell_id").as("a_id"), col("loc").as("la")),
        Seq("a_id"))
      .join(borderLoc.select(col("cell_id").as("b_id"), col("loc").as("lb")),
        Seq("b_id"))
      .select(col("la"), col("lb"))

    val labels = Components.minLabel(s, locEdges, name)
      .withColumnRenamed("node_id", "loc")

    // ---- re-attach: one shuffle join of local against the label map;
    // interior-only fragments keep their local root
    local.join(labels, Seq("loc"), "left")
      .select(col("cell_id"), coalesce(col("lbl"), col("loc")).as("patch"))
  }
}
