package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.world.{World, WorldSpec}
import graft.sql.GraftFunctions._

/** Spatial operator queries over the deterministic synthetic mini-Goode
  * world (FIXTURES.md). The world is pure integer/dyadic arithmetic on
  * the cell id, so each query's DuckDB oracle regenerates the identical
  * values from `range()` + the same formulas — giving the driver's
  * compare bit-exact coverage of decode, grid indexing, PIP join, zonal
  * aggregation, the vote, and the expand step (SURVEY.md §2.8, §2.6).
  *
  * The `sfDir` argument is ignored: the spatial surface is self-
  * generating (TESTDATA.md's tables only cover the relational surface).
  */
object Spatial {
  private val spec: WorldSpec = World.tiny
  private val N = spec.nCells // 6144
  private val C = spec.cols   // 96
  private val T = spec.tile   // 16
  private val TX = spec.tilesX // 6

  def all: Seq[Q] = Seq(
    Q("q20_grid_index", q20, Some(q20Sql)),
    Q("q21_pip_region", q21, Some(q21Sql)),
    Q("q22_decode_zonal", q22, Some(q22Sql)),
    Q("q23_vote_threshold", q23, Some(q23Sql)),
    Q("q24_expand_step", q24, Some(q24Sql)),
    Q("q25_wide_features", q25, Some(q25Sql)),
    Q("q26_region_stats", q26, Some(q26Sql)),
    Q("q27_h3_partition", q27, Some(q27Sql)),
    Q("q28_rasterize", q28, None),
    Q("q29_tree_fit_predict", q29, Some(q29Sql)),
    Q("q30_expand_fixpoint", q30, Some(q30Sql)),
    Q("q31_psnr_png16", q31, None),
    Q("q32_tile_knn_context", q32, Some(q32Sql)),
    Q("q33_importance", q33, Some(q33Sql)),
    Q("q34_gtiff_decode", q34, Some(q34Sql)),
    Q("q35_class_loss_masks", q35, Some(q35Sql)),
    Q("q36_zonal_pyramid", q36, Some(q36Sql)),
    Q("q37_class_loss_rasters", q37, None),
    Q("q38_manifest_wide", q38, Some(q38Sql)),
    Q("q39_wkt_pip", q39, Some(q39Sql)),
    Q("q57_shp_pip", q57, Some(q57Sql)),
    Q("q65_shp_pip_holes", q65, Some(q65Sql)),
    Q("q66_shp_dbf_pip", q66, Some(q66Sql)),
    Q("q67_s2_cell", q67, Some(q67Sql)),
    Q("q68_s2_partition", q68, Some(q68Sql)),
    Q("q69_s2_neighbor_join", q69, Some(q69Sql)),
    Q("q72_pip_covered", q72, Some(q21Sql)),
    Q("q73_raster_roundtrip", q73, Some(q73Sql)),
    Q("q74_image_resize", q74, Some(q74Sql)),
    Q("q75_goode_chain", q75, Some(q75Sql)),
    Q("q79_frame_sample", q79, Some(q79Sql)),
    Q("q87_zorder_layout", q87, Some(q87Sql)),
    Q("q93_focal_halo", q93, Some(q93Sql)),
    Q("q98_sobel_gradient", q98, Some(q98Sql)),
    Q("q99_majority_filter", q99, Some(q99Sql)),
    Q("q104_tile_sharpness", q104, Some(q104Sql)),
    Q("q111_hist_equalize", q111, Some(q111Sql)),
    Q("q112_geo_nearest", q112, Some(q112Sql)),
    Q("q113_polygon_metrics", q113, Some(q113Sql)),
    Q("q119_hotspot_clusters", q119, Some(q119Sql)),
    Q("q120_idw_interpolate", q120, Some(q120Sql)),
    Q("q122_cost_distance", q122, Some(q122Sql)),
    Q("q123_line_rasterize", q123, Some(q123Sql)),
    Q("q126_flow_dir", q126, Some(q126Sql)),
    Q("q127_flow_accum", q127, Some(q127Sql)),
    Q("q128_watershed", q128, Some(q128Sql)),
    Q("q129_line_simplify", q129, Some(q129Sql)),
    Q("q130_image_flip", q130, Some(q130Sql)),
    Q("q131_contour", q131, Some(q131Sql)),
    Q("q132_kmeans", q132, Some(q132Sql)),
    Q("q134_chi2_rank", q134, Some(q134Sql)),
    Q("q135_border_detect", q135, Some(q135Sql)),
    Q("q139_autocrop", q139, Some(q139Sql)),
    Q("q140_patch_clump", q140, Some(q140Sql)),
    Q("q141_hillshade", q141, Some(q141Sql)),
    Q("q142_morph_open", q142, Some(q142Sql)),
    Q("q144_upsample2x", q144, Some(q144Sql)),
    Q("q145_glcm_texture", q145, Some(q145Sql)),
    Q("q146_geohash", q146, Some(q146Sql)),
    Q("q147_integral_image", q147, Some(q147Sql)),
    Q("q148_box_nms", q148, Some(q148Sql)),
    Q("q149_geojson_pip", q149, Some(q149Sql)),
    Q("q150_moran_i", q150, Some(q150Sql)),
    Q("q151_template_match", q151, Some(q151Sql)),
    Q("q152_local_moran", q152, Some(q152Sql)),
    Q("q153_otsu_threshold", q153, Some(q153Sql)),
    Q("q154_semivariogram", q154, Some(q154Sql)),
    Q("q156_harris_corners", q156, Some(q156Sql)),
    Q("q157_geary_c", q157, Some(q157Sql)),
    Q("q158_gaussian_blur", q158, Some(q158Sql)),
    Q("q159_box_counting", q159, Some(q159Sql)),
    Q("q160_edge_density", q160, Some(q160Sql)),
    Q("q161_pixel_trend", q161, Some(q161Sql)),
    Q("q162_orientation_hist", q162, Some(q162Sql)),
    Q("q163_median_filter", q163, Some(q163Sql)),
    Q("q164_hist_match", q164, Some(q164Sql)),
    Q("q165_viewshed", q165, Some(q165Sql)),
    Q("q166_patch_props", q166, Some(q166Sql)),
    Q("q167_rle_stats", q167, Some(q167Sql)),
    Q("q168_haar_energy", q168, Some(q168Sql)),
    Q("q169_overlay_area", q169, Some(q169Sql)),
    Q("q170_zonal_weighted", q170, Some(q170Sql)),
    Q("q171_tabulate_intersect", q171, Some(q171Sql)),
    Q("q172_convex_hull", q172, Some(q172Sql)),
    Q("q173_farthest_pair", q173, Some(q173Sql)),
    Q("q174_closest_pair", q174, Some(q174Sql)),
    Q("q175_distance_transform", q175, Some(q175Sql)),
    Q("q176_dissolve_union_area", q176, Some(q176Sql)),
    Q("q177_segment_intersect", q177, Some(q177Sql)),
    Q("q178_snap_to_segment", q178, Some(q178Sql)),
    Q("q179_lbp_texture", q179, Some(q179Sql)),
    Q("q180_quadtree_agg", q180, Some(q180Sql)),
    Q("q181_staypoints", q181, Some(q181Sql)),
    Q("q182_colocation_join", q182, Some(q182Sql)),
    Q("q183_dbscan", q183, Some(q183Sql)),
    Q("q184_convoy_runs", q184, Some(q184Sql)),
    Q("q185_home_range", q185, Some(q185Sql)),
    Q("q186_wkb_pip", q186, Some(q39Sql)),
    Q("q187_moving_window", q187, Some(q187Sql)),
    Q("q188_track_hausdorff", q188, Some(q188Sql)),
    Q("q189_repeat_visits", q189, Some(q189Sql)),
    Q("q190_euler_characteristic", q190, Some(q190Sql)),
    Q("q191_point_extract", q191, Some(q191Sql)),
    Q("q192_confusion_matrix", q192, Some(q192Sql)),
    Q("q193_affine_warp", q193, Some(q193Sql)),
    Q("q194_fill_rules", q194, Some(q194Sql))
  )

  // ---- shared builders ----------------------------------------------------

  /** The dense cell spine (S4, R:117-120): a Range leaf, no shuffle. */
  private def spine(s: SparkSession): DataFrame =
    s.range(1, N + 1).toDF("cell_id")

  /** Knuth 32-bit counter hash as a Column (matches World.h). */
  private def hc(k: Column): Column = (k * World.Knuth) % World.M32

  private def cellCol: Column = col("cell_id")
  private def lossCol(id: Column): Column =
    when(hc(id) % 16 < 6, 0.0)
      .otherwise((hc(id) % 1024).cast("double") / 1024.0)
  private def bandCol(id: Column, b: Int): Column =
    (hc(id * 7 + b) % 256).cast("double")
  private def probCol(id: Column, cls: Int): Column =
    (hc(id * 11 + cls) % 64).cast("double") / 64.0


  // Oracle fragments (identical formulas in DuckDB SQL).
  private val cellsCte =
    s"WITH cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r)"
  private def hSql(k: String) = s"((($k) * 2654435761) % 4294967296)"
  /** Nonlinear World.h2 in SQL: floor-div between the two multiplies
    * (see World.h2 for why the video formulas need non-affinity). */
  private[queries] def h2Sql(k: String) = hSql(s"${hSql(k)} // 65536")
  /** World.vid in SQL: dyadic per-frame pixel of a cell. */
  private[queries] def vidSql(id: String, f: String) =
    s"((${h2Sql(s"($id) * 17 + ($f)")} % 512) / 512.0)"
  /** World.vidPerturb in SQL: the variant-video sparse delta. */
  private[queries] def vidPerturbSql(id: String, f: String) =
    s"(CASE WHEN ${h2Sql(s"($id) * 37 + ($f)")} % 9 = 0 THEN " +
      s"((${h2Sql(s"($id) * 41 + ($f) * 43")} % 257) - 128) / 512.0 " +
      "ELSE 0.0 END)"
  private[queries] def lossSql(id: String) =
    s"(CASE WHEN ${hSql(id)} % 16 < 6 THEN 0.0 ELSE (${hSql(id)} % 1024) / 1024.0 END)"
  private[queries] def bandSql(id: String, b: Int) =
    s"(CAST(${hSql(s"($id) * 7 + $b")} % 256 AS DOUBLE))"
  private def probSql(id: String, c: Int) =
    s"((${hSql(s"($id) * 11 + $c")} % 64) / 64.0)"
  private def trainSql(id: String) =
    s"(CASE WHEN ${hSql(s"($id) * 13")} % 64 < 4 THEN CAST(${hSql(s"($id) * 13 + 1")} % 7 + 1 AS INT) ELSE 0 END)"
  private def rowSql(id: String) = s"(CAST(FLOOR((($id) - 1) / $C) AS BIGINT) + 1)"
  private def colSql(id: String) = s"((($id) - 1) % $C + 1)"
  private def pxSql(id: String) = s"(CAST((($id) - 1) % $C AS DOUBLE) + 0.5)"
  private def pySql(id: String) = s"(CAST(FLOOR((($id) - 1) / $C) AS DOUBLE) + 0.5)"
  private[queries] def tileSql(id: String) =
    s"(CAST(FLOOR(FLOOR((($id) - 1) / $C) / $T) * $TX + FLOOR(((($id) - 1) % $C) / $T) AS BIGINT))"

  // Shared stencil-oracle fragments over a `pts` CTE exposing r0/c0
  // (q93/q98/q150/q152/q156/q162). One home for the in-grid guard, the
  // guarded band-1 neighbor term, the queen sum/count pair, and the
  // Sobel kernels — a row/col convention or kernel-sign fix cannot
  // drift between the oracles that share them.
  private def nbrValidSql(dy: Int, dx: Int): String =
    s"(r0 + ($dy) >= 0 AND r0 + ($dy) < ${spec.rows}" +
      s" AND c0 + ($dx) >= 0 AND c0 + ($dx) < $C)"
  private def nbrBandSql(dy: Int, dx: Int): String =
    s"CAST(${bandSql(s"(r0 + ($dy)) * $C + c0 + ($dx) + 1", 1)} AS BIGINT)"
  /** (Σ guarded neighbor terms, Σ in-grid flags) over the 8 queen
    * neighbors — the focal pair q150/q152 both expand. */
  private def queenSumCntSql: (String, String) = {
    val nbrs = (for { dy <- -1 to 1; dx <- -1 to 1 }
      yield (dy, dx)).filterNot(p => p._1 == 0 && p._2 == 0)
    val sn = nbrs.map { case (dy, dx) =>
      s"(CASE WHEN ${nbrValidSql(dy, dx)} THEN ${nbrBandSql(dy, dx)} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val nn = nbrs.map { case (dy, dx) =>
      s"(CASE WHEN ${nbrValidSql(dy, dx)} THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")
    (sn, nn)
  }
  /** Sobel (gx, gy) over the interior 3x3 window (q98/q156/q162). */
  private def sobelGxGySql: (String, String) = {
    val v = (dy: Int, dx: Int) => nbrBandSql(dy, dx)
    (s"((${v(-1, 1)} + 2 * ${v(0, 1)} + ${v(1, 1)})" +
       s" - (${v(-1, -1)} + 2 * ${v(0, -1)} + ${v(1, -1)}))",
     s"((${v(1, -1)} + 2 * ${v(1, 0)} + ${v(1, 1)})" +
       s" - (${v(-1, -1)} + 2 * ${v(-1, 0)} + ${v(-1, 1)}))")
  }

  /** Polygon edge list as a SQL VALUES literal (kept in sync with the
    * engine's polygons by construction). */
  private def edgesValues: String = edgesValuesOf(World.polygons(spec))

  /** Even-odd ray-cast as SQL: odd crossing count per (cell, region),
    * lowest region wins (mirrors Geom.regionOf exactly — the dyadic
    * edge geometry guarantees identical float comparisons). Ring-aware
    * by construction: the edge list carries every ring's edges keyed by
    * region, and an odd TOTAL crossing count is exactly the multi-ring
    * even-odd rule (inside outer + inside hole = even = out). */
  private def pipCte: String = pipCteFor(edgesValues)

  private def edgesValuesOf(polys: Array[graft.core.Polygon]): String =
    World.edgesOf(polys).map { case (r, x1, y1, x2, y2) =>
      s"($r, CAST($x1 AS DOUBLE), CAST($y1 AS DOUBLE), CAST($x2 AS DOUBLE), CAST($y2 AS DOUBLE))"
    }.mkString(", ")

  private def pipCteFor(edgeLiteral: String): String =
    s"""edges(region_id, x1, y1, x2, y2) AS (VALUES $edgeLiteral),
       |pts AS (SELECT cell_id, ${pxSql("cell_id")} AS px, ${pySql("cell_id")} AS py FROM cells),
       |pip AS (
       |  SELECT p.cell_id, e.region_id
       |  FROM pts p JOIN edges e
       |    ON ((e.y1 > p.py) != (e.y2 > p.py))
       |   AND p.px < e.x1 + (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1)
       |  GROUP BY p.cell_id, e.region_id
       |  HAVING COUNT(*) % 2 = 1),
       |region_of AS (
       |  SELECT cell_id, MIN(region_id) AS region_id FROM pip GROUP BY 1)""".stripMargin

  /** Spark-side PIP lookup via the codegen'd Geom.regionOf call.
    * region_explode evaluates the ray-cast ONCE per cell and drops
    * no-region rows in the same Generate (a projection + filter would
    * ray-cast twice; plan-pinned in SparkEngineSpec). */
  private def regionDF(s: SparkSession): DataFrame =
    regionSpine(s, World.polygons(spec))

  /** (cell_id, region_id) of every cell of the spine inside `polys`. */
  private def regionSpine(s: SparkSession, polys: Array[graft.core.Polygon])
      : DataFrame =
    spine(s).select(cellCol,
      region_explode(spec.pxOf(cellCol), spec.pyOf(cellCol), polys)
        .as("region_id"))

  // ---- q20: grid indexing (G1): id <-> row/col/tile/centroid ------------
  private def q20(s: SparkSession, dir: String): DataFrame =
    spine(s).select(cellCol,
        (spec.row0Of(cellCol) + 1).as("row"),
        (spec.col0Of(cellCol) + 1).as("col"),
        spec.tileOf(cellCol).cast("long").as("tile_id"),
        spec.pxOf(cellCol).as("px"), spec.pyOf(cellCol).as("py"))
      .orderBy("cell_id")

  private def q20Sql =
    s"""$cellsCte
       |SELECT cell_id, ${rowSql("cell_id")} AS row, ${colSql("cell_id")} AS col,
       |  ${tileSql("cell_id")} AS tile_id,
       |  ${pxSql("cell_id")} AS px, ${pySql("cell_id")} AS py
       |FROM cells ORDER BY 1""".stripMargin

  // ---- q21: the PIP spatial join (G3) ------------------------------------
  private def q21(s: SparkSession, dir: String): DataFrame =
    regionDF(s).orderBy("cell_id")

  private def q21Sql =
    s"""$cellsCte,
       |${pipCte}
       |SELECT cell_id, region_id FROM region_of ORDER BY 1""".stripMargin

  // ---- q22: decode -> explode -> zonal aggregation (S3/G5/A6) ------------
  private def q22(s: SparkSession, dir: String): DataFrame =
    graft.engine.Pipeline.cellBands(World.tilesDF(s, spec), spec, Seq(1))
      .groupBy(spec.tileOf(cellCol).cast("long").as("tile_id"))
      .agg(
        sum(when(col("loss") > 0, 1).otherwise(0)).as("n_loss_cells"),
        sum("loss").as("loss_sum"),
        sum("b1").as("b1_sum"),
        max("b1").as("b1_max"))
      .orderBy("tile_id")

  private def q22Sql =
    s"""$cellsCte
       |SELECT ${tileSql("cell_id")} AS tile_id,
       |  CAST(SUM(CASE WHEN ${lossSql("cell_id")} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_loss_cells,
       |  SUM(${lossSql("cell_id")}) AS loss_sum,
       |  SUM(${bandSql("cell_id", 1)}) AS b1_sum,
       |  MAX(${bandSql("cell_id", 1)}) AS b1_max
       |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q23: the vote — argmax + strict <0.5 threshold + 0.005 loss
  // floor (W1-W4, R:362-411). Coarse dyadic probs force ties, pinning
  // which.max first-max semantics. ----------------------------------------
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 5).map(c => probCol(cellCol, c).as(s"p$c"))
    val withP = spine(s).select((cellCol +: ps): _*)
    val probs = (1 to 5).map(c => col(s"p$c"))
    val mx = greatest(probs: _*)
    withP.select(cellCol,
        when(mx < 0.5, 0L).otherwise(array_position(array(probs: _*), mx))
          .as("class"),
        mx.as("confidence"),
        lossCol(cellCol).as("loss"))
      .withColumn("final_class",
        when(col("loss") < 0.005, 0L).otherwise(col("class")))
      .select("cell_id", "class", "confidence", "loss", "final_class")
      .orderBy("cell_id")
  }

  private def q23Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |v AS (SELECT cell_id, loss, GREATEST(p1, p2, p3, p4, p5) AS confidence,
       |  CAST(CASE WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS BIGINT) AS class
       |  FROM p)
       |SELECT cell_id, class, confidence, loss,
       |  CAST(CASE WHEN loss < 0.005 THEN 0 ELSE class END AS BIGINT) AS final_class
       |FROM v ORDER BY 1""".stripMargin
  }

  // ---- q24: one expand step (G4): uncertain cells adopt the minimum
  // positive class among their 8 neighbors, via 8 equi-joins on derived
  // neighbor ids (the shuffle-friendly formulation; no theta join) --------
  private def classifiedDF(s: SparkSession): DataFrame = {
    val ps = (1 to 5).map(c => probCol(cellCol, c))
    val mx = greatest(ps: _*)
    spine(s).select(cellCol,
      when(lossCol(cellCol) < 0.005, 0L)
        .otherwise(when(mx < 0.5, 0L)
          .otherwise(array_position(array(ps: _*), mx))).as("final_class"))
  }

  private def q24(s: SparkSession, dir: String): DataFrame = {
    val cls = classifiedDF(s)
    val offsets = Seq(-1, 0, 1).flatMap(dr => Seq(-1, 0, 1).map(dc => (dr, dc)))
      .filterNot { case (dr, dc) => dr == 0 && dc == 0 }
    import s.implicits._
    val offDF = offsets.toDF("dr", "dc")
    val uncertain = cls.filter(col("final_class") === 0)
      .select(cellCol, (spec.row0Of(cellCol) + 1).as("row"),
        (spec.col0Of(cellCol) + 1).as("col"))
    val nbr = uncertain.crossJoin(broadcast(offDF))
      .filter((col("col") + col("dc")).between(1, C) &&
        (col("row") + col("dr")).between(1, spec.rows))
      .select(cellCol, ((col("row") + col("dr") - 1) * C + col("col") + col("dc"))
        .cast("long").as("nbr_id"))
    val adopted = nbr
      .join(cls.filter(col("final_class") > 0)
          .withColumnRenamed("cell_id", "nbr_id")
          .withColumnRenamed("final_class", "nbr_class"),
        Seq("nbr_id"))
      .groupBy("cell_id").agg(min("nbr_class").as("adopted"))
    cls.join(adopted, Seq("cell_id"), "left")
      .select(cellCol,
        when(col("final_class") === 0, coalesce(col("adopted"), lit(0L)))
          .otherwise(col("final_class")).as("class_expanded"))
      .orderBy("cell_id")
  }

  private def q24Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |cls AS (SELECT cell_id,
       |  CAST(CASE WHEN loss < 0.005 THEN 0
       |    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS BIGINT) AS final_class
       |  FROM p),
       |offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
       |adopted AS (
       |  SELECT u.cell_id, MIN(n.final_class) AS adopted
       |  FROM cls u CROSS JOIN offs o
       |  JOIN cls n ON n.cell_id = (${rowSql("u.cell_id")} + o.dr - 1) * $C + ${colSql("u.cell_id")} + o.dc
       |  WHERE u.final_class = 0 AND n.final_class > 0
       |    AND ${rowSql("u.cell_id")} + o.dr BETWEEN 1 AND ${spec.rows}
       |    AND ${colSql("u.cell_id")} + o.dc BETWEEN 1 AND $C
       |  GROUP BY 1)
       |SELECT c.cell_id,
       |  CASE WHEN c.final_class = 0 THEN COALESCE(a.adopted, 0) ELSE c.final_class END AS class_expanded
       |FROM cls c LEFT JOIN adopted a ON c.cell_id = a.cell_id
       |ORDER BY 1""".stripMargin
  }

  // ---- q25: the wide feature table in ONE pass (J5 replacing the 85-fold
  // join chain R:209-228; mask-by-loss first R:236-242; NA->0 R:247;
  // region join + drop-null R:270-274) ------------------------------------
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.engine.Pipeline
      .cellBands(World.tilesDF(s, spec), spec, Seq(1, 2))
      .filter(col("loss") > 0)
    val training = spine(s)
      .select(cellCol, World.trainingClassCol(cellCol).as("tclass"))
      .filter(col("tclass") > 0)
    cells
      .join(training, Seq("cell_id"), "left")
      .na.fill(0, Seq("tclass"))
      .join(regionDF(s), Seq("cell_id"), "inner")
      .select(col("cell_id"), col("region_id"), col("tclass"),
        col("b1"), col("b2"))
      .orderBy("cell_id")
  }

  private def q25Sql =
    s"""$cellsCte,
       |${pipCte}
       |SELECT c.cell_id, r.region_id,
       |  CASE WHEN ${trainSql("c.cell_id")} > 0 THEN ${trainSql("c.cell_id")} ELSE 0 END AS tclass,
       |  ${bandSql("c.cell_id", 1)} AS b1, ${bandSql("c.cell_id", 2)} AS b2
       |FROM cells c JOIN region_of r ON c.cell_id = r.cell_id
       |WHERE ${lossSql("c.cell_id")} > 0
       |ORDER BY 1""".stripMargin

  // ---- q26: loss-weighted classified-% per region (K5/A3, R:459-476) ----
  private def q26(s: SparkSession, dir: String): DataFrame =
    classifiedDF(s)
      .withColumn("loss", lossCol(cellCol))
      .join(regionDF(s), Seq("cell_id"))
      .groupBy("region_id")
      .agg(
        sum("loss").as("total_loss"),
        sum(when(col("final_class") > 0, col("loss")).otherwise(0.0))
          .as("classified_loss"))
      .select(col("region_id"), col("total_loss"), col("classified_loss"),
        (col("classified_loss") / col("total_loss") * 100.0)
          .as("classified_pct"))
      .orderBy("region_id")

  private def q26Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |${pipCte},
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |cls AS (SELECT cell_id, loss,
       |  CASE WHEN loss < 0.005 THEN 0
       |    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS final_class
       |  FROM p)
       |SELECT r.region_id, SUM(c.loss) AS total_loss,
       |  SUM(CASE WHEN c.final_class > 0 THEN c.loss ELSE 0.0 END) AS classified_loss,
       |  SUM(CASE WHEN c.final_class > 0 THEN c.loss ELSE 0.0 END)
       |    / SUM(c.loss) * 100.0 AS classified_pct
       |FROM cls c JOIN region_of r ON c.cell_id = r.cell_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q27: hierarchical partition-key derivation (G1/north_rule: the
  // H3-res-4-parent partitioning, expressed as pure id arithmetic) --------
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val r4 = floor(spec.row0Of(cellCol) * 16 / spec.rows)
    val c4 = floor(spec.col0Of(cellCol) * 32 / C)
    spine(s)
      .groupBy((r4 * 32 + c4).cast("long").as("h3r4_key"))
      .agg(count(lit(1)).as("n_cells"),
        min("cell_id").as("min_cell"), max("cell_id").as("max_cell"))
      .orderBy("h3r4_key")
  }

  private def q27Sql =
    s"""$cellsCte
       |SELECT CAST(FLOOR((${rowSql("cell_id")} - 1) * 16 / ${spec.rows}) * 32
       |    + FLOOR((${colSql("cell_id")} - 1) * 32 / $C) AS BIGINT) AS h3r4_key,
       |  COUNT(*) AS n_cells, MIN(cell_id) AS min_cell, MAX(cell_id) AS max_cell
       |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- rows-only queries (non-SQL-expressible; golden-tested in
  // ScalaTest instead) -----------------------------------------------------

  /** q28: the raster-encode sink (K2/G6, rastOut R:53-72): per-tile
    * ordered pixel collect + f32 encode; emits tile checksums. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val cls = classifiedDF(s)
    graft.engine.Rasterize(spec, cls, "final_class")
      .select(col("tile_id"), col("image_id"), length(col("bytes")).as("n_bytes"),
        crc32(col("bytes")).as("crc"))
      .orderBy("tile_id")
  }

  /** q29: fit-and-predict (M1-M3): per (region, driver) CART trees on
    * the synthetic training cells, inference as one packed-forest vote
    * expression over the fused cell frame (Pipeline.fitPredictVote:
    * region_explode -> loss > 0 -> ForestVote). Oracled: the fit is deterministic from the world, so the registry
    * fits the same trees at oracle-build time (pure Scala, no Spark —
    * `tinyTrees`) and emits them as CASE chains in q29Sql, putting
    * fit AND predict under the driver's DuckDB compare end to end. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    graft.engine.Pipeline.fitPredictVote(s, spec).orderBy("cell_id")

  /** The (region x driver) tree matrix fitted from the pure-Scala
    * transcription of the training construction — the same multiset the
    * Spark path collects, and CART's fit is a function of the training
    * MULTISET only (labels are 0/1 so every sum the split search takes
    * is an exact integer; sorted sweeps only split between distinct
    * feature values), so these trees equal the engine's bit for bit
    * (independently pinned by SparkEngineSpec's golden e2e test). */
  private lazy val tinyTrees: Map[(Int, Int), graft.core.Cart.Tree] = {
    import graft.core.Geom
    val cfg = graft.engine.Pipeline.Config()
    val polys = World.polygons(spec)
    val training = (1L to N).flatMap { id =>
      val r = Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
      if (r < 0) None
      else World.trainingClass(id) match {
        case Some(c) if c > 0 && !cfg.dropClasses(c) =>
          Some((r, c, (1 until spec.nBands)
            .map(b => World.band(id, b).toFloat.toDouble).toArray))
        case _ => None
      }
    }.toArray
    graft.engine.Pipeline.fitTrees(training, spec.nRegions, cfg)
  }

  /** A fitted tree as a nested SQL CASE chain over b1..b5. Leaf values
    * print via Double.toString (shortest round-trip form) and are CAST
    * to DOUBLE **from a string**: a bare 17-digit decimal literal goes
    * through DuckDB's DECIMAL type, whose ->DOUBLE conversion double-
    * rounds (scaled int > 2^53 rounds once to double, /10^17 rounds
    * again — observed 1-ulp confidence drift = driver hash-red), while
    * the VARCHAR->DOUBLE cast is a correctly-rounded parse that
    * round-trips Double.toString exactly. Thresholds stay bare — they
    * are dyadic midpoints of integers (x.0/x.5), exact on every path. */
  private def treeSql(t: graft.core.Cart.Tree): String = t match {
    case graft.core.Cart.Leaf(v, _, _) => s"CAST('${v.toString}' AS DOUBLE)"
    case graft.core.Cart.Split(f, thr, lo, hi, _, _, _) =>
      s"(CASE WHEN b${f + 1} < ${thr.toString} THEN ${treeSql(lo)} " +
        s"ELSE ${treeSql(hi)} END)"
  }

  /** The fitted-tree classification chain as shared CTEs ending in
    * `cls(cell_id, region_id, class, confidence)` — q29's oracle body,
    * reused by q192's confusion matrix with the deployment floors
    * disabled (`floors = false` scores the raw argmax). */
  private def classCte(floors: Boolean): String = {
    val probCols = (1 to graft.engine.Pipeline.NumDrivers).map { d =>
      val cases = (1 to spec.nRegions)
        .map(r => s"WHEN $r THEN ${treeSql(tinyTrees((r, d)))}")
        .mkString(" ")
      s"(CASE region_id $cases ELSE 0.0 END) AS p$d"
    }.mkString(",\n  ")
    val bands = (1 to 5)
      .map(b => s"${bandSql("c.cell_id", b)} AS b$b").mkString(", ")
    s"""$cellsCte,
       |$pipCte,
       |f AS (SELECT c.cell_id, r.region_id, ${lossSql("c.cell_id")} AS loss,
       |  $bands
       |  FROM cells c JOIN region_of r ON c.cell_id = r.cell_id
       |  WHERE ${lossSql("c.cell_id")} > 0),
       |p AS (SELECT cell_id, region_id, loss,
       |  $probCols
       |  FROM f),
       |cls AS (SELECT cell_id, region_id,
       |  CAST(CASE ${if (floors) "WHEN loss < 0.005 THEN 0\n" +
        "    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0" else ""}
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS BIGINT) AS class,
       |  GREATEST(p1, p2, p3, p4, p5) AS confidence
       |FROM p)""".stripMargin
  }

  private lazy val q29Sql: String =
    s"""${classCte(floors = true)}
       |SELECT cell_id, region_id, class, confidence
       |FROM cls ORDER BY cell_id""".stripMargin

  /** q30: the expand fixed-point loop (G4, the ArcGIS "Expand" analog,
    * R:445-454) with documented tie-break (min class). The oracle is the
    * CLOSED FORM of the fixed point: per round every 0-cell adopts the
    * min positive class among its 8 neighbors, so (provable by induction
    * on distance; see q30Sql) a 0-cell ends with the minimum class among
    * the SEEDS NEAREST TO IT in Chebyshev distance, adopted in round
    * d = that distance — an independent algorithm, not a re-run of the
    * iteration. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.engine.Expand.run(s, spec, classifiedDF(s), maxIters = 8,
        requireConvergence = true)
      .orderBy("cell_id")

  /** Closed-form oracle for q30. Derivation: on a full rectangular grid
    * the 8-neighbor graph distance IS the Chebyshev distance. By
    * induction on d = min distance from a 0-cell to any seed (a cell
    * with positive initial class): every neighbor toward a nearest seed
    * has distance exactly d-1 (triangle inequality bounds it below by
    * d-1, a shortest path gives d-1), adopts in round d-1 the min class
    * among ITS nearest seeds — all at distance exactly d from the
    * 0-cell — and no neighbor is positive before round d-1. Hence the
    * cell adopts in round d the min class among all seeds at distance d.
    * iters = executed adoption rounds = max over 0-cells of d (0 when
    * nothing adopts). */
  private def q30Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |cls AS (SELECT cell_id,
       |  CAST(CASE WHEN loss < 0.005 THEN 0
       |    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS BIGINT) AS final_class
       |  FROM p),
       |pair AS (
       |  SELECT z.cell_id,
       |    GREATEST(ABS(${rowSql("z.cell_id")} - ${rowSql("s.cell_id")}),
       |             ABS(${colSql("z.cell_id")} - ${colSql("s.cell_id")})) AS d,
       |    s.final_class AS scls
       |  FROM cls z CROSS JOIN cls s
       |  WHERE z.final_class = 0 AND s.final_class > 0),
       |near AS (SELECT cell_id, MIN(d) AS dmin FROM pair GROUP BY 1),
       |adopt AS (
       |  SELECT p.cell_id, MIN(p.scls) AS cls
       |  FROM pair p JOIN near n ON p.cell_id = n.cell_id AND p.d = n.dmin
       |  GROUP BY 1),
       |itv AS (SELECT CAST(COALESCE(MAX(dmin), 0) AS INT) AS iters FROM near)
       |SELECT c.cell_id,
       |  CAST(CASE WHEN c.final_class > 0 THEN c.final_class
       |    ELSE COALESCE(a.cls, 0) END AS BIGINT) AS final_class,
       |  itv.iters AS iters
       |FROM cls c LEFT JOIN adopt a ON c.cell_id = a.cell_id CROSS JOIN itv
       |ORDER BY 1""".stripMargin
  }

  // ---- q32: kNN context join over the tile grid (G4 / north_star's
  // "kNN-joined to neighboring tiles for the spatial context
  // features"): per tile, the k=1 ring of neighbor tiles is derived by
  // key arithmetic (explode a broadcast offset table, never a theta
  // join), equi-joined back to the per-tile zonal aggregate -------------
  private def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val TY = spec.tilesY
    val tileLoss = spine(s)
      .groupBy(spec.tileOf(cellCol).cast("long").as("tile_id"))
      .agg(sum(lossCol(cellCol)).as("loss_sum"))
    val offs = Seq(-1, 0, 1).flatMap(dr => Seq(-1, 0, 1).map(dc => (dr, dc)))
      .filterNot { case (dr, dc) => dr == 0 && dc == 0 }.toDF("dr", "dc")
    val tx = col("tile_id") % TX
    val ty = floor(col("tile_id") / TX)
    val pairs = tileLoss.select(col("tile_id")).crossJoin(broadcast(offs))
      .filter((tx + col("dc")).between(0, TX - 1) &&
        (ty + col("dr")).between(0, TY - 1))
      .select(col("tile_id"),
        ((ty + col("dr")) * TX + tx + col("dc")).cast("long").as("nbr_id"))
    pairs
      .join(tileLoss.select(col("tile_id").as("nbr_id"),
        col("loss_sum").as("nbr_loss")), Seq("nbr_id"))
      .groupBy("tile_id")
      .agg(count(lit(1)).as("n_nbrs"), sum("nbr_loss").as("ctx_loss_sum"))
      .join(tileLoss, Seq("tile_id"))
      .select(col("tile_id"), col("n_nbrs"), col("loss_sum"),
        col("ctx_loss_sum"),
        (col("ctx_loss_sum") / col("n_nbrs")).as("ctx_loss_mean"))
      .orderBy("tile_id")
  }

  private def q32Sql =
    s"""$cellsCte,
       |tiles AS (
       |  SELECT ${tileSql("cell_id")} AS tile_id, SUM(${lossSql("cell_id")}) AS loss_sum
       |  FROM cells GROUP BY 1),
       |offs(dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
       |pairs AS (
       |  SELECT t.tile_id,
       |    (CAST(FLOOR(t.tile_id / $TX) AS BIGINT) + o.dr) * $TX
       |      + (t.tile_id % $TX) + o.dc AS nbr_id
       |  FROM tiles t CROSS JOIN offs o
       |  WHERE (t.tile_id % $TX) + o.dc BETWEEN 0 AND ${TX - 1}
       |    AND FLOOR(t.tile_id / $TX) + o.dr BETWEEN 0 AND ${spec.tilesY - 1})
       |SELECT p.tile_id, COUNT(*) AS n_nbrs, t.loss_sum,
       |  SUM(n.loss_sum) AS ctx_loss_sum,
       |  SUM(n.loss_sum) / COUNT(*) AS ctx_loss_mean
       |FROM pairs p
       |JOIN tiles n ON p.nbr_id = n.tile_id
       |JOIN tiles t ON p.tile_id = t.tile_id
       |GROUP BY 1, 3 ORDER BY 1""".stripMargin

  /** q33: variable importance report (M4, R:319,352): per-(region,
    * driver) gain-summed importances from the fitted trees.
    *
    * Oracled INDEPENDENTLY: only the fitted trees' STRUCTURE (split
    * feature, threshold, path) reaches the oracle SQL — no deviance or
    * importance value leaves the engine. DuckDB recomputes every
    * node's deviance from the training-data CTE itself (labels are
    * 0/1, so dev = n1 - n1*n1/n: exact-integer inputs with one
    * correctly-rounded IEEE division each — bit-equal across engines),
    * sums the per-split gains per feature, and applies the same 1e-6
    * rounding. SQL SUM order is unspecified where the engine sums in
    * tree-walk order, so a guard-band test (SparkEngineSpec) asserts
    * every per-feature sum sits far from its rounding boundary and
    * from the >0 cut — an order-flip cannot silently change a compared
    * value. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = importanceGains.collect {
      case ((r, d, f), gains) if gains.sum > 0 =>
        (r, d, f, math.round(gains.sum * 1e6) / 1e6)
    }.sorted
    rows.toDF("region_id", "driver", "feature", "importance")
  }

  /** Internal splits of a pruned tree with their SQL path predicates
    * over b1..b5 (structure only): (feature, pathConds). Thresholds
    * are dyadic midpoints of integers — exact as bare SQL literals
    * (treeSql precedent). */
  private def splitPreds(t: graft.core.Cart.Tree,
      path: List[String]): Seq[(Int, String, List[String])] = t match {
    case _: graft.core.Cart.Leaf => Nil
    case s: graft.core.Cart.Split =>
      val cond = s"b${s.feature + 1} < ${s.threshold.toString}"
      (s.feature, cond, path) +:
        (splitPreds(s.lo, cond :: path) ++
          splitPreds(s.hi, s"NOT ($cond)" :: path))
  }

  /** Deviance of a training subset, recomputed from data in DuckDB:
    * max(0, n1 - n1*n1/n) with n1 = positive-label count — the exact
    * FP expression Cart.devOf evaluates (0/1 labels make s = s2 = n1,
    * every input an exact integer, each op correctly rounded). */
  private def devSql(r: Int, d: Int, conds: Seq[String]): String = {
    val where = (s"region_id = $r" +: conds).mkString(" AND ")
    s"""(SELECT GREATEST(0.0, n1 - n1 * n1 / n) FROM (
       |    SELECT CAST(COUNT(*) FILTER (WHERE cls = $d) AS DOUBLE) AS n1,
       |           CAST(COUNT(*) AS DOUBLE) AS n
       |    FROM train WHERE $where))""".stripMargin
  }

  private lazy val q33Sql: String = {
    val bands = (1 to 5)
      .map(b => s"${bandSql("c.cell_id", b)} AS b$b").mkString(", ")
    val gainSelects = tinyTrees.toSeq.flatMap { case ((r, d), t) =>
      splitPreds(t, Nil).map { case (f, cond, path) =>
        s"""SELECT $r AS region_id, $d AS driver, ${f + 1} AS feature,
           |  ${devSql(r, d, path)}
           |  - ${devSql(r, d, cond :: path)}
           |  - ${devSql(r, d, s"NOT ($cond)" :: path)} AS gain""".stripMargin
      }
    }
    require(gainSelects.nonEmpty, "q33 oracle: no splits in any fitted tree")
    s"""$cellsCte,
       |$pipCte,
       |train AS (SELECT r.region_id, ${trainSql("c.cell_id")} AS cls, $bands
       |  FROM cells c JOIN region_of r ON c.cell_id = r.cell_id
       |  WHERE ${trainSql("c.cell_id")} BETWEEN 1 AND 5),
       |gains AS (
       |${gainSelects.mkString("\n|UNION ALL\n|")}
       |)
       |SELECT CAST(region_id AS INT) AS region_id,
       |  CAST(driver AS INT) AS driver, CAST(feature AS INT) AS feature,
       |  ROUND(SUM(gain) * 1000000) / 1000000.0 AS importance
       |FROM gains GROUP BY 1, 2, 3 HAVING SUM(gain) > 0
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** Walk-order gain terms of Cart.importance per (region, driver,
    * feature): summing each list left-to-right reproduces the engine's
    * importance bit-for-bit (Cart.importance accumulates in the same
    * pre-order walk). Exposed for q33 and its guard-band test. */
  private[graft] lazy val importanceGains
      : Seq[((Int, Int, Int), Seq[Double])] = {
    import graft.core.Cart
    def gains(t: Cart.Tree): Seq[(Int, Double)] = t match {
      case _: Cart.Leaf => Nil
      case s: Cart.Split =>
        (s.feature, s.dev - s.lo.dev - s.hi.dev) +:
          (gains(s.lo) ++ gains(s.hi))
    }
    tinyTrees.toSeq.flatMap { case ((r, d), t) =>
      gains(t).groupBy(_._1).toSeq.map { case (f, gs) =>
        ((r, d, f + 1), gs.map(_._2))
      }
    }
  }

  // ---- q34: GeoTIFF decode scan (S3 on the reference's REAL input
  // format, `raster(path)` R:211,216-218): a tile table whose payloads
  // are genuine GeoTIFF bytes (alternating LZW / uncompressed, strip
  // layout) is decoded by the gtiff codec path, cell-keyed, and zonally
  // aggregated; the oracle regenerates the same pixel values from the
  // hash formula — bit-exact because band values are small integers. ----
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiles = s.range(0, spec.nTiles).map { t =>
      val ti = t.toInt
      val px = Array.tabulate(spec.pixPerTile) { p =>
        World.band(spec.cellId(ti, p), 1).toFloat
      }
      val bytes = graft.core.GeoTiff.encode(px, T, T, lzw = ti % 2 == 0,
        rowsPerStrip = 5, cellSize = 1.0, yMax = spec.rows.toDouble)
      (f"tile_$ti%05d", bytes, T, T, "gtiff", ti)
    }.toDF("image_id", "bytes", "w", "h", "fmt", "tile_id")
    val decoded = tiles
      .select(col("tile_id"),
        posexplode(decode_band(col("bytes"), col("fmt"), spec.pixPerTile, 0))
          .as(Seq("p", "v")))
      .select(
        spec.cellOf(col("tile_id"), col("p")).as("cell_id"),
        col("v").cast("double").as("v"))
    decoded.groupBy(spec.tileOf(cellCol).cast("long").as("tile_id"))
      .agg(count(lit(1)).as("n_px"), sum("v").as("v_sum"),
        max("v").as("v_max"))
      .orderBy("tile_id")
  }

  private def q34Sql =
    s"""$cellsCte
       |SELECT ${tileSql("cell_id")} AS tile_id, COUNT(*) AS n_px,
       |  SUM(${bandSql("cell_id", 1)}) AS v_sum,
       |  MAX(${bandSql("cell_id", 1)}) AS v_max
       |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q35: per-class loss masks (stages 12-13, R:510-551): dedup the
  // loss observations by cell (group/mean over duplicated rows, A1
  // R:516-520), join the final class (J2 R:495/521), filter per class
  // (P3 R:524-549) -> per-class mask stats. Two loss observations per
  // cell, both dyadic, so the mean is exact. ----------------------------
  private def lossObs(s: SparkSession): DataFrame = {
    val o1 = spine(s).select(cellCol, lossCol(cellCol).as("loss"))
    val o2 = spine(s).select(cellCol,
      ((hc(cellCol * 17) % 1024).cast("double") / 1024.0).as("loss"))
    o1.unionByName(o2)
  }

  private def q35(s: SparkSession, dir: String): DataFrame = {
    val dedup = lossObs(s).groupBy("cell_id")
      .agg(avg("loss").as("loss_mean"))
    dedup.join(classifiedDF(s), Seq("cell_id"))
      .groupBy(col("final_class").as("class"))
      .agg(count(lit(1)).as("n_cells"),
        sum("loss_mean").as("loss_mean_sum"),
        min("cell_id").as("first_cell"))
      .orderBy("class")
  }

  private def q35Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |obs AS (
       |  SELECT cell_id, ${lossSql("cell_id")} AS loss FROM cells
       |  UNION ALL
       |  SELECT cell_id, (${hSql("cell_id * 17")} % 1024) / 1024.0 AS loss FROM cells),
       |dedup AS (SELECT cell_id, AVG(loss) AS loss_mean FROM obs GROUP BY 1),
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |cls AS (SELECT cell_id,
       |  CAST(CASE WHEN loss < 0.005 THEN 0
       |    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS BIGINT) AS class
       |  FROM p)
       |SELECT c.class, COUNT(*) AS n_cells, SUM(d.loss_mean) AS loss_mean_sum,
       |  MIN(c.cell_id) AS first_cell
       |FROM dedup d JOIN cls c ON d.cell_id = c.cell_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q36: two-level zonal pyramid (A6, the `10kMax1kMean`-family
  // variables, SURVEY §1.3): fine raster -> 4x4-block means ("1k") ->
  // 4x4-block-of-blocks max/mean ("10k") — BOTH aggregation levels in
  // one plan, each a shuffle on its own zone key. Block sums are small
  // integer sums and the block sizes are powers of two, so every mean
  // is exact. ------------------------------------------------------------
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val C1 = C / 4 // level-1 zone grid width (4x4 cells per zone)
    val k1 = (floor(spec.row0Of(cellCol) / 4) * C1 +
      floor(spec.col0Of(cellCol) / 4)).cast("long")
    val level1 = spine(s)
      .groupBy(k1.as("k1"))
      .agg(avg(bandCol(cellCol, 2)).as("mean1"),
        sum(bandCol(cellCol, 2)).as("sum1"))
    val C10 = C1 / 4 // level-2 grid width (4x4 level-1 zones per zone)
    val k10 = (floor(floor(col("k1") / C1) / 4) * C10 +
      floor((col("k1") % C1) / 4)).cast("long")
    level1.groupBy(k10.as("k10"))
      .agg(max("mean1").as("v_10kmax1kmean"),
        avg("sum1").as("v_10kmean1ksum"),
        count(lit(1)).as("n_subzones"))
      .orderBy("k10")
  }

  private def q36Sql = {
    val C1 = C / 4
    val C10 = C1 / 4
    s"""$cellsCte,
       |l1 AS (
       |  SELECT CAST(FLOOR((${rowSql("cell_id")} - 1) / 4) * $C1
       |      + FLOOR((${colSql("cell_id")} - 1) / 4) AS BIGINT) AS k1,
       |    AVG(${bandSql("cell_id", 2)}) AS mean1,
       |    SUM(${bandSql("cell_id", 2)}) AS sum1
       |  FROM cells GROUP BY 1)
       |SELECT CAST(FLOOR(FLOOR(k1 / $C1) / 4) * $C10
       |    + FLOOR((k1 % $C1) / 4) AS BIGINT) AS k10,
       |  MAX(mean1) AS v_10kmax1kmean,
       |  AVG(sum1) AS v_10kmean1ksum,
       |  COUNT(*) AS n_subzones
       |FROM l1 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q37: the per-class raster fan-out of stage 13 (R:524-551's six
    * `rastOut` calls): the deduped loss mean is rasterized once per
    * final class (cells of other classes become NaN, R's NA). Rows-only
    * check (raster bytes aren't SQL); the stats side is q35's oracle,
    * the byte-exactness of Rasterize is unit-tested. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val dedup = lossObs(s).groupBy("cell_id")
      .agg(avg("loss").as("loss_mean"))
    val joined = dedup.join(classifiedDF(s), Seq("cell_id"))
    graft.engine.Rasterize
      .byClass(spec, joined, "loss_mean", "final_class")
      .select(col("class"), col("tile_id"),
        length(col("bytes")).as("n_bytes"), crc32(col("bytes")).as("crc"))
      .orderBy("class", "tile_id")
  }

  // ---- q38: the reference's ACTUAL ingest loop end-to-end (S2 + S3 +
  // J5, R:142-166 + R:209-228): a directory of `Goode_*.tif` GeoTIFF
  // files is manifest-discovered, each raster decoded by the gtiff
  // codec from a distributed binaryFile scan, flattened to
  // (cell_id, var, value) long format, and pivoted to the wide feature
  // table in one pass — two aggregation exchanges total, vs one full
  // shuffle per variable in the reference's 85-fold join chain. --------
  private val gtiffVars = Seq(("Fire_10kMean", 1), ("Loss_10kSum", 2),
    ("Tree_cover2000", 3))

  /** Per-JVM fixture dir of real LZW GeoTIFF variable files. */
  private lazy val gtiffVarDir: String = {
    val dir = graft.util.TempDirs.create("graft_vars")
    gtiffVars.foreach { case (name, b) =>
      val px = Array.tabulate(N.toInt)(i => World.band(i + 1L, b).toFloat)
      java.nio.file.Files.write(dir.resolve(s"Goode_$name.tif"),
        graft.core.GeoTiff.encode(px, C, spec.rows, lzw = true,
          rowsPerStrip = 16, cellSize = 1.0, yMax = spec.rows.toDouble))
    }
    dir.toString
  }

  private def q38(s: SparkSession, dir: String): DataFrame = {
    val manifest = graft.sources.Ingest.manifest(gtiffVarDir)
    val names = manifest.map(_._1)
    val files = s.read.format("binaryFile")
      .load(manifest.map(_._2): _*)
      .select(col("path"), col("content"))
    // variable name from file name (the S2 derivation, in-plan)
    val varName = regexp_replace(regexp_replace(
      element_at(split(col("path"), "/"), -1), "^Goode_", ""), "\\.tif$", "")
    files
      .select(varName.as("var"),
        posexplode(decode_band(col("content"), lit("gtiff"), N.toInt, 0))
          .as(Seq("p", "v")))
      .select(col("var"), (col("p") + 1).cast("long").as("cell_id"),
        col("v").cast("double").as("v"))
      .groupBy("cell_id").pivot("var", names).agg(first(col("v")))
      .orderBy("cell_id")
  }

  private def q38Sql = {
    val cols = gtiffVars.map { case (name, b) =>
      s"""${bandSql("cell_id", b)} AS "$name""""
    }.mkString(",\n  ")
    s"""$cellsCte
       |SELECT cell_id,
       |  $cols
       |FROM cells ORDER BY 1""".stripMargin
  }

  // ---- q39: the vector-layer path end-to-end (S6 + G3, readOGR
  // R:884,893): region polygons enter as a WKT text file, are parsed by
  // the distributed WKT scan, and drive the codegen ray-cast PIP join;
  // the oracle ray-casts the same (identical, dyadic) geometry in SQL. --
  private lazy val wktFixture: String = {
    val dir = graft.util.TempDirs.create("graft_wkt_q39")
    val lines = World.polygons(spec).map { p =>
      val ring = (p.xs.indices :+ 0)
        .map(i => s"${p.xs(i)} ${p.ys(i)}").mkString(", ")
      s"${p.regionId},POLYGON(($ring))"
    }
    java.nio.file.Files.writeString(dir.resolve("regions.wkt"),
      lines.mkString("\n") + "\n")
    s"$dir/regions.wkt"
  }

  private def q39(s: SparkSession, dir: String): DataFrame = {
    val polys = graft.sources.Ingest.wktPolygons(s, wktFixture)
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  private def q39Sql =
    s"""$cellsCte,
       |${pipCte}
       |SELECT region_id, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM region_of GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q186: the vector path over WKB bytes (the PostGIS/GeoPackage
  // binary geometry wire format — the fourth vector source beside WKT,
  // .shp and GeoJSON): the same region layer enters as little-endian
  // WKB POLYGON records, parsed by the pure-JVM Wkb codec, driving the
  // identical codegen ray-cast PIP. The oracle is q39's SQL verbatim —
  // a decode that drops, duplicates, reorders or perturbs ANY ring
  // vertex flips cell assignments and fails the compare. -------------------
  private lazy val wkbFixture: String = {
    val dir = graft.util.TempDirs.create("graft_wkb_q186")
    java.nio.file.Files.write(dir.resolve("regions.wkb"),
      graft.sources.Wkb.encode(World.polygons(spec)))
    s"$dir/regions.wkb"
  }

  private def q186(s: SparkSession, dir: String): DataFrame = {
    val polys = graft.sources.Ingest.wkbPolygons(s, wkbFixture)
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  // ---- q57: the vector path over the reference's ACTUAL format (S6,
  // readOGR R:884,893): region polygons enter as an ESRI shapefile,
  // parsed distributed by the pure-JVM Shp codec, driving the same
  // codegen ray-cast PIP; the oracle ray-casts the identical dyadic
  // geometry in SQL (the .shp round trip is double-bit-exact). ---------
  private lazy val shpFixture: String = {
    val dir = graft.util.TempDirs.create("graft_shp_q57")
    java.nio.file.Files.write(dir.resolve("regions.shp"),
      graft.sources.Shp.encode(World.polygons(spec)))
    s"$dir/regions.shp"
  }

  private def q57(s: SparkSession, dir: String): DataFrame = {
    val polys = graft.sources.Ingest.shpPolygons(s, shpFixture)
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  private def q57Sql =
    s"""$cellsCte,
       |${pipCte}
       |SELECT region_id, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM region_of GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q65: the REAL shape of a readOGR boundary layer (R:884,893) —
  // holes and multi-part geometries in one .shp: region 1 is a square
  // with a lake (interior ring), region 2 is a two-island archipelago
  // (multipolygon), region 3 is a plain rectangle that OVERLAPS both
  // region 1's interior (lowest id wins there) and part of its lake
  // (inside the hole only region 3 contains the point — the hole
  // semantics the even-odd ray-cast must produce). Integer vertices,
  // half-integer query points: every comparison is exact. ---------------
  private lazy val holedPolys: Array[graft.core.Polygon] = Array(
    graft.core.Polygon(1,
      Array[Double](5, 40, 40, 5, /* lake */ 15, 25, 25, 15),
      Array[Double](5, 5, 40, 40, /* lake */ 15, 15, 25, 25),
      Array(0, 4)),
    graft.core.Polygon(2,
      Array[Double](50, 60, 60, 50, /* 2nd island */ 70, 85, 85, 70),
      Array[Double](10, 10, 20, 20, /* 2nd island */ 30, 30, 45, 45),
      Array(0, 4)),
    graft.core.Polygon(3,
      Array[Double](20, 35, 35, 20),
      Array[Double](20, 20, 55, 55)))

  private lazy val holedShpFixture: String = {
    val dir = graft.util.TempDirs.create("graft_shp_q65")
    java.nio.file.Files.write(dir.resolve("regions.shp"),
      graft.sources.Shp.encode(holedPolys))
    s"$dir/regions.shp"
  }

  private def q65(s: SparkSession, dir: String): DataFrame = {
    val polys = graft.sources.Ingest.shpPolygons(s, holedShpFixture)
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  private def q65Sql =
    s"""$cellsCte,
       |${pipCteFor(edgesValuesOf(holedPolys))}
       |SELECT region_id, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM region_of GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q66: the .dbf ATTRIBUTE path — region ids come from a numeric
  // column of the sidecar attribute table and are PERMUTED vs record
  // order (the normal real-world case: layer FIDs are load order,
  // semantic ids live in the attribute table). The permutation flips
  // the lowest-id-wins tie-break in the region-1/region-3 overlap, so
  // a silently ignored .dbf would produce DIFFERENT rows, not just
  // different labels. ---------------------------------------------------
  private lazy val dbfIds: Array[Long] = Array(30L, 10L, 20L)

  private lazy val attrShpFixture: String = {
    val dir = graft.util.TempDirs.create("graft_shp_q66")
    java.nio.file.Files.write(dir.resolve("regions.shp"),
      graft.sources.Shp.encode(holedPolys))
    java.nio.file.Files.write(dir.resolve("regions.dbf"),
      graft.sources.Shp.encodeDbf("REGID", dbfIds))
    s"$dir/regions.shp"
  }

  private def q66(s: SparkSession, dir: String): DataFrame = {
    val polys =
      graft.sources.Ingest.shpPolygonsWithAttr(s, attrShpFixture, "REGID")
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  private def q66Sql = {
    val remapped = holedPolys.zip(dbfIds).map { case (p, id) =>
      p.copy(regionId = id.toInt)
    }
    s"""$cellsCte,
       |${pipCteFor(edgesValuesOf(remapped))}
       |SELECT region_id, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM region_of GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q67/q68: S2 cell ids (G1 — the north rule's second index
  // scheme beside H3). The engine encodes each cell centroid's lat/lng
  // (equirectangular here: the S2 encoder is what's under test, the
  // Goode path is the headline's) through core/S2Lite (cube face ->
  // quadratic ST -> Hilbert order, the public S2 scheme); the oracle
  // re-implements the whole chain in DuckDB SQL — face pick, UV, ST and
  // a recursive CTE walking the Hilbert lookup tables level by level —
  // so the two implementations are fully independent. ------------------
  private val S2Lvl = 10 // 1024x1024 cells per face
  private val S2ParentLvl = 4 // the north rule's res-4 partition key

  private def latDegCol: Column =
    spec.pyOf(cellCol) / spec.rows * 180.0 - 90.0
  private def lngDegCol: Column =
    spec.pxOf(cellCol) / C * 360.0 - 180.0

  private def s2Frame(s: SparkSession): DataFrame =
    spine(s).select(cellCol,
        s2_cell(latDegCol, lngDegCol, S2Lvl).as("s2_id"))
      .withColumn("s2_face", shiftrightunsigned(col("s2_id"), 61).cast("int"))
      .withColumn("s2_l4_key", s2_parent(col("s2_id"), S2ParentLvl))

  /** q67: per-row S2 ids — the strong oracle (every id bit-compared). */
  private def q67(s: SparkSession, dir: String): DataFrame =
    s2Frame(s).orderBy("cell_id")

  /** q68: partition-key derivation over the S2 l4 parent (the q27 shape
    * on the second index scheme). */
  private def q68(s: SparkSession, dir: String): DataFrame =
    s2Frame(s)
      .groupBy("s2_l4_key")
      .agg(count(lit(1)).as("n_cells"),
        min("cell_id").as("min_cell"), max("cell_id").as("max_cell"))
      .orderBy("s2_l4_key")

  // oracle-side id assembly constants, shared by q67/q68/q69
  private def s2PosShift = 2L << (2 * (30 - S2Lvl)) // 2^(2*(30-lvl)+1)
  private def s2IdLsb = 1L << (2 * (30 - S2Lvl))
  /** `face` (0-5) as the signed-int64 top bits: faces 4/5 set bit 63,
    * so the unsigned id wraps negative; (face-8) * 2^61 builds the same
    * two's-complement value without DuckDB BIGINT overflow. */
  private val s2FaceSql =
    s"(CASE WHEN face >= 4 THEN face - 8 ELSE face END) * ${1L << 61}"

  /** The Hilbert walk as a recursive CTE over a seed table `$seed`
    * with columns (`$keys`, face, i, j): carries orientation o (init
    * face & 1) and accumulates pos MSB-first, level by level, via the
    * flattened IJToPos / PosToOrientation tables (core/S2Lite). */
  private def s2HilCte(seed: String, keys: String): String = {
    val topBit = S2Lvl - 1
    val ijToPos = "CASE o * 4 + (((i >> (" + topBit + " - lvl)) & 1) * 2 " +
      "+ ((j >> (" + topBit + " - lvl)) & 1)) " +
      "WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2 " +
      "WHEN 4 THEN 0 WHEN 5 THEN 3 WHEN 6 THEN 1 WHEN 7 THEN 2 " +
      "WHEN 8 THEN 2 WHEN 9 THEN 3 WHEN 10 THEN 1 WHEN 11 THEN 0 " +
      "WHEN 12 THEN 2 WHEN 13 THEN 1 WHEN 14 THEN 3 WHEN 15 THEN 0 END"
    s"""hil AS (
       |  SELECT $keys, face, i, j, 0 AS lvl, face % 2 AS o,
       |    CAST(0 AS BIGINT) AS pos
       |  FROM $seed
       |  UNION ALL
       |  SELECT $keys, face, i, j, lvl + 1,
       |    xor(o, CASE p WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 0 END),
       |    pos * 4 + p
       |  FROM (SELECT $keys, face, i, j, lvl, o, pos, $ijToPos AS p
       |        FROM hil WHERE lvl < $S2Lvl) step)""".stripMargin
  }

  /** lat/lng -> face/i/j as DuckDB SQL, ending in a CTE
    * `ij(cell_id, face, i, j)` — the projection half of the S2 encode
    * (face pick, UV, quadratic ST), mirroring S2Lite.encode term for
    * term. */
  private def s2IjCte: String = {
    val m = 1 << S2Lvl
    s"""geo AS (SELECT cell_id,
       |  ((CAST(${rowSql("cell_id")} AS DOUBLE) - 0.5) / ${spec.rows} * 180 - 90) * (PI() / 180) AS phi,
       |  ((CAST(${colSql("cell_id")} AS DOUBLE) - 0.5) / $C * 360 - 180) * (PI() / 180) AS lam
       |  FROM cells),
       |xyz AS (SELECT cell_id, cos(phi) * cos(lam) AS x,
       |  cos(phi) * sin(lam) AS y, sin(phi) AS z FROM geo),
       |fax AS (SELECT cell_id, x, y, z,
       |  CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
       |       ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS axis
       |  FROM xyz),
       |fc AS (SELECT cell_id, x, y, z,
       |  CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
       |    THEN axis + 3 ELSE axis END AS face
       |  FROM fax),
       |uv AS (SELECT cell_id, face,
       |  CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
       |            WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
       |  CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
       |            WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
       |  FROM fc),
       |st AS (SELECT cell_id, face,
       |  CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u)
       |       ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
       |  CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v)
       |       ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
       |  FROM uv),
       |ij AS (SELECT cell_id, face,
       |  CAST(LEAST(${m - 1}, GREATEST(0, FLOOR(s * $m))) AS BIGINT) AS i,
       |  CAST(LEAST(${m - 1}, GREATEST(0, FLOOR(t * $m))) AS BIGINT) AS j
       |  FROM st)""".stripMargin
  }

  /** Full per-cell S2 encode: `s2(cell_id, s2_id, s2_face, s2_l4_key)`. */
  private def s2Cte: String = {
    val pShift = 2L << (2 * (30 - S2ParentLvl))
    val pLsb = 1L << (2 * (30 - S2ParentLvl))
    val drop = 2 * (S2Lvl - S2ParentLvl)
    s"""$s2IjCte,
       |${s2HilCte("ij", "cell_id")},
       |s2 AS (SELECT cell_id,
       |  $s2FaceSql + pos * $s2PosShift + $s2IdLsb AS s2_id,
       |  CAST(face AS INT) AS s2_face,
       |  $s2FaceSql + (pos >> $drop) * $pShift + $pLsb AS s2_l4_key
       |  FROM hil WHERE lvl = $S2Lvl)""".stripMargin
  }

  private def q67Sql =
    s"""WITH RECURSIVE cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r),
       |${s2Cte}
       |SELECT cell_id, s2_id, s2_face, s2_l4_key FROM s2 ORDER BY cell_id""".stripMargin

  private def q68Sql =
    s"""WITH RECURSIVE cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r),
       |${s2Cte}
       |SELECT s2_l4_key, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin

  /** q69: the S2 neighbor derivation as a query — explode each cell's
    * four edge neighbors (S2Neighbors crosses cube faces via the wrap
    * algorithm), keep the same-face ones, aggregate per cell. A
    * neighbor stays on the cell's face exactly when its (i,j) is in
    * range, so the oracle enumerates the in-bounds ij offsets and
    * Hilbert-encodes them with the same recursive CTE — which also
    * cross-checks the wrapped count via 4 - n_same_face. The wrap path
    * itself is pinned by S2Spec (symmetry + geometric adjacency over
    * every face boundary). */
  private def q69(s: SparkSession, dir: String): DataFrame =
    s2Frame(s).select(col("cell_id"), col("s2_id"),
        explode(s2_neighbors(col("s2_id"))).as("nbr_id"))
      .filter(shiftrightunsigned(col("nbr_id"), 61) ===
        shiftrightunsigned(col("s2_id"), 61))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_same_face"),
        min("nbr_id").as("min_nbr"), max("nbr_id").as("max_nbr"))
      .orderBy("cell_id")

  private def q69Sql = {
    val m = 1 << S2Lvl
    s"""WITH RECURSIVE cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r),
       |$s2IjCte,
       |nb AS (SELECT c.cell_id, c.face, c.i + d.di AS i, c.j + d.dj AS j
       |  FROM ij c, (VALUES (0, -1), (1, 0), (0, 1), (-1, 0)) d(di, dj)
       |  WHERE c.i + d.di BETWEEN 0 AND ${m - 1}
       |    AND c.j + d.dj BETWEEN 0 AND ${m - 1}),
       |${s2HilCte("nb", "cell_id")}
       |SELECT cell_id, COUNT(*) AS n_same_face,
       |  MIN($s2FaceSql + pos * $s2PosShift + $s2IdLsb) AS min_nbr,
       |  MAX($s2FaceSql + pos * $s2PosShift + $s2IdLsb) AS max_nbr
       |FROM hil WHERE lvl = $S2Lvl GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q72: covering-accelerated PIP (G3's scale path) — classify
  // 8x8 point blocks once driver-side (engine/Covering): blocks no
  // polygon edge crosses carry a constant region id and skip the
  // ray-cast entirely; only boundary-block points pay the exact test.
  // The block map broadcasts (rows*cols/64 ints) and the conditional
  // ray-cast folds into the same single-eval Generate shape as q21.
  // Oracle: q21's exact SQL ray-cast — the covering must be invisible
  // in the output. ------------------------------------------------------
  private val CoverB = 8

  private def q72(s: SparkSession, dir: String): DataFrame = {
    val polys = World.polygons(spec)
    val blocks = graft.engine.Covering.build(polys, spec.rows, spec.cols,
      CoverB)
    import s.implicits._
    val blockDf = blocks.const.zipWithIndex.toSeq.map { case (c, id) =>
      (id.toLong, c == graft.engine.Covering.Boundary,
        if (c == graft.engine.Covering.Boundary) -1 else c)
    }.toDF("block_id", "boundary", "const_region")
    val pts = spine(s).select(cellCol, spec.pxOf(cellCol).as("px"),
        spec.pyOf(cellCol).as("py"))
      .withColumn("block_id", (floor(col("py") / CoverB) * blocks.nbx +
        floor(col("px") / CoverB)).cast("long"))
    val region = when(col("boundary"),
        region_of_neg1(col("px"), col("py"), polys))
      .otherwise(col("const_region"))
    pts.join(broadcast(blockDf), "block_id")
      .select(cellCol,
        explode(array_remove(array(region), lit(-1))).as("region_id"))
      .orderBy("cell_id")
  }

  // ---- q73: the raster SINK under the oracle — q28 can only be
  // rows-only (DuckDB cannot CRC bytes), so this query closes the loop
  // differently: rasterize the class map (K2/G6), decode the payloads
  // back (S3/G5), and aggregate per tile; the oracle computes the same
  // aggregates straight from the class formula, so any encode/decode
  // corruption (pixel order, NaN holes, value mangling) breaks the
  // hash compare. ------------------------------------------------------
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val ras = graft.engine.Rasterize(spec, classifiedDF(s), "final_class")
    ras.select(col("tile_id"),
        posexplode(decode_band(col("bytes"), col("fmt"), spec.pixPerTile, 0))
          .as(Seq("p", "v")))
      .groupBy("tile_id")
      .agg(count(when(isnan(col("v")), 1)).as("n_missing"),
        sum(when(!isnan(col("v")), col("v").cast("long"))).as("class_sum"),
        count(when(col("v") === 0.0, 1)).as("n_zero"),
        // position-weighted: sums are permutation-invariant, so this is
        // the term that actually pins WITHIN-TILE PIXEL ORDER (p is the
        // decode position, the oracle recomputes it from cell_id)
        sum((col("p") + 1) * when(!isnan(col("v")), col("v").cast("long")))
          .as("pos_weighted"))
      .orderBy("tile_id")
  }

  private def q73Sql = {
    val ps = (1 to 5).map(c => s"${probSql("cell_id", c)} AS p$c").mkString(", ")
    s"""$cellsCte,
       |p AS (SELECT cell_id, $ps, ${lossSql("cell_id")} AS loss FROM cells),
       |cls AS (SELECT cell_id,
       |  CASE WHEN loss < 0.005 THEN 0
       |    WHEN GREATEST(p1, p2, p3, p4, p5) < 0.5 THEN 0
       |    WHEN p1 >= p2 AND p1 >= p3 AND p1 >= p4 AND p1 >= p5 THEN 1
       |    WHEN p2 >= p3 AND p2 >= p4 AND p2 >= p5 THEN 2
       |    WHEN p3 >= p4 AND p3 >= p5 THEN 3
       |    WHEN p4 >= p5 THEN 4 ELSE 5 END AS final_class
       |  FROM p)
       |SELECT ${tileSql("cell_id")} AS tile_id,
       |  CAST(0 AS BIGINT) AS n_missing,
       |  CAST(SUM(final_class) AS BIGINT) AS class_sum,
       |  COUNT(CASE WHEN final_class = 0 THEN 1 END) AS n_zero,
       |  CAST(SUM(((((${rowSql("cell_id")} - 1) % $T) * $T
       |    + ((cell_id - 1) % $C) % $T) + 1) * final_class) AS BIGINT)
       |    AS pos_weighted
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q74: image RESIZE — the multimodal pipeline's downscale op as
  // a real codegen expression: Resize2x reads band 0 of the payload and
  // emits a genuine half-resolution f32 payload (2x2 box average, four
  // loads + double sum per output pixel) in ONE static call that stays
  // inside whole-stage codegen. The equivalent expression-composition
  // chain (DecodeBand -> element_at box average inside a `transform`
  // lambda -> TileEncode) is kept in SparkEngineSpec as a bit-equality
  // reference — Spark's higher-order `transform` is CodegenFallback, so
  // the composed form dropped this projection out of codegen (the r4
  // plan finding). The world's pixel values are dyadic rationals, so
  // the box average is exact in f32 and the DuckDB oracle reproduces
  // every pixel bit-for-bit from the cell formula. ----------------------
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val T2 = T / 2
    val n2 = T2 * T2
    World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        resize2x(col("bytes"), T, T).as("bytes"))
      .select(col("tile_id"),
        posexplode(decode_band(col("bytes"), lit("f32"), n2, 0))
          .as(Seq("p2", "v")))
      .select(col("tile_id"), col("p2").cast("long").as("p2"),
        col("v").cast("double").as("v"))
      .orderBy("tile_id", "p2")
  }

  /** The expression-composition resize (decode -> transform-lambda box
    * average -> TileEncode) — q74's original formulation, kept as the
    * bit-equality reference for Resize2x in SparkEngineSpec. */
  private[graft] def q74Composed(s: SparkSession): DataFrame = {
    val T2 = T / 2
    val n2 = T2 * T2
    val dec = World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        decode_band(col("bytes"), col("fmt"), spec.pixPerTile, 0).as("b"))
    def at(r: String, c: String) =
      s"element_at(b, CAST(($r) * $T + ($c) + 1 AS INT))"
    val avg = s"(CAST(${at("2*(p DIV " + T2 + ")", "2*(p % " + T2 + ")")} AS DOUBLE)" +
      s" + ${at("2*(p DIV " + T2 + ")", "2*(p % " + T2 + ") + 1")}" +
      s" + ${at("2*(p DIV " + T2 + ") + 1", "2*(p % " + T2 + ")")}" +
      s" + ${at("2*(p DIV " + T2 + ") + 1", "2*(p % " + T2 + ") + 1")}) / 4"
    val resized = dec.select(col("tile_id"),
      expr(s"transform(sequence(0, ${n2 - 1}), p -> $avg)").as("v2"))
    val enc = resized.select(col("tile_id"),
      tile_encode(col("tile_id").cast("int"),
        expr(s"sequence(0, ${n2 - 1})"), col("v2"),
        n2, T2, TX, gtiff = false, cellSize = 1.0, xMin = 0.0,
        yMax = 0.0).as("bytes"))
    enc.select(col("tile_id"),
        posexplode(decode_band(col("bytes"), lit("f32"), n2, 0))
          .as(Seq("p2", "v")))
      .select(col("tile_id"), col("p2").cast("long").as("p2"),
        col("v").cast("double").as("v"))
      .orderBy("tile_id", "p2")
  }

  private def q74Sql = {
    val T2 = T / 2
    val r = s"((${rowSql("cell_id")} - 1) % $T)"
    val c = s"(((cell_id - 1) % $C) % $T)"
    s"""$cellsCte
       |SELECT ${tileSql("cell_id")} AS tile_id,
       |  CAST(($r // 2) * $T2 + ($c // 2) AS BIGINT) AS p2,
       |  AVG(${lossSql("cell_id")}) AS v
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- q75: the Goode projection chain under the oracle — the
  // headline's own spatial index (grid_h3 = Goode inverse -> H3-lite
  // encode) cross-checked end to end on the REAL 1737x4008 geometry:
  // cell_id -> centroid x/y -> interrupted-homolosine inverse (12-lobe
  // central meridians, sinusoidal below 40d44'11.8", Mollweide above
  // with the lobes-meet y shift) -> clamped/wrapped lat/lng -> res-9
  // H3-lite id -> res-4 parent. The oracle re-implements the WHOLE
  // chain in DuckDB SQL: the sinusoidal zone is closed-form; the
  // Mollweide zone's blend constant (mollYAdd) is recomputed by a
  // bounded Newton recursive CTE replicating Igh.mollTheta's exact
  // break conditions (the q67 Hilbert-walk pattern); the inverse itself
  // is asin/cos closed-form. lat/lng are compared at 1e-6 deg
  // quantization and the ids bit-exactly; a guard test (SparkEngineSpec)
  // asserts every sampled value sits far from its floor/round boundary,
  // so a last-ulp libm divergence (JVM fdlibm vs DuckDB libm) cannot
  // silently flip a compared value — the ADVICE.md cross-platform
  // caveat, made detectable by construction. Sample: 6144 ids at
  // stride 1133 covering all rows, both projection zones, and all 12
  // lobes. Reference proj4 strings: Supplemental_Data_1.R:70,885.
  private[graft] val GoodeRows = 1737
  private[graft] val GoodeCols = 4008
  private[graft] val GoodeSample = 6144L
  private[graft] val GoodeStride = 1133L
  private val GoodeH3Res = 9

  private def q75(s: SparkSession, dir: String): DataFrame = {
    val ll = grid_latlng(col("cell_id"), GoodeRows, GoodeCols)
    s.range(0, GoodeSample)
      .select((col("id") * GoodeStride + 1).as("cell_id"))
      .select(col("cell_id"), ll.as("ll"),
        grid_h3(col("cell_id"), GoodeRows, GoodeCols, GoodeH3Res).as("h3"))
      .select(col("cell_id"),
        round(col("ll.lat") * 1e6).cast("long").as("lat_q6"),
        round(col("ll.lng") * 1e6).cast("long").as("lng_q6"),
        col("h3"),
        h3_parent_col(col("h3"), GoodeH3Res, 4).as("h3_r4"))
      .orderBy("cell_id")
  }

  private def q75Sql: String = {
    // phi0 = the blend latitude 40d44'11.8" in radians, written with the
    // engine's exact literal arithmetic (Igh.PhiBoundary)
    val phi0 = "(40.0 + 44.0/60.0 + 11.8/3600.0) * (pi()/180.0)"
    // one Newton step of Igh.mollTheta: t - (2t + sin 2t - pi sin phi0)
    // / (2 + 2 cos 2t)
    val next = s"t - (2*t + sin(2*t) - pi()*sin($phi0)) / (2 + 2*cos(2*t))"
    val nr = 1 << GoodeH3Res
    val nc = 1 << (GoodeH3Res + 1)
    val marker = 1L << 62
    val resShift = 1L << 48
    s"""WITH RECURSIVE
       |cells AS (SELECT r.range * $GoodeStride + 1 AS cell_id FROM range($GoodeSample) r),
       |moll AS (
       |  SELECT 0 AS it, CAST($phi0 AS DOUBLE) AS t, FALSE AS done
       |  UNION ALL
       |  SELECT it + 1,
       |    CASE WHEN done OR abs(2 + 2*cos(2*t)) < 1e-15 THEN t ELSE $next END,
       |    done OR abs(2 + 2*cos(2*t)) < 1e-15 OR abs(($next) - t) < 1e-14
       |  FROM moll WHERE it < 20),
       |cons AS (SELECT
       |  $phi0 AS yb,
       |  pi()/180.0 AS d,
       |  (SELECT $phi0 - sqrt(2.0)*sin(t) FROM moll WHERE it = 20) AS mya),
       |xy AS (SELECT cell_id,
       |  (-20037506.5671 + (((cell_id - 1) % $GoodeCols) + 0.5) * (20042493.4328 - (-20037506.5671)) / $GoodeCols) / 6378137.0 AS xs,
       |  (8686794.9791 - (((cell_id - 1) // $GoodeCols) + 0.5) * (8686794.9791 - (-8683205.0209)) / $GoodeRows) / 6378137.0 AS ys
       |  FROM cells),
       |rv AS (SELECT x.cell_id, x.xs, x.ys, (x.ys >= 0) AS north,
       |    CASE WHEN abs(x.ys) <= k.yb THEN NULL
       |         ELSE asin(GREATEST(-1.0, LEAST(1.0, (x.ys - sign(x.ys) * k.mya) / sqrt(2.0)))) END AS tm
       |  FROM xy x CROSS JOIN cons k),
       |lc AS (SELECT cell_id, xs, ys, north, tm,
       |    CASE WHEN tm IS NULL THEN ys
       |         ELSE asin(GREATEST(-1.0, LEAST(1.0, (2*tm + sin(2*tm)) / pi()))) END AS lat,
       |    CASE WHEN tm IS NULL THEN cos(ys) ELSE cos(tm) END AS c
       |  FROM rv),
       |cmv AS (SELECT lc.*, k.d,
       |    CASE WHEN north THEN (CASE WHEN xs < -40*k.d THEN -100*k.d ELSE 30*k.d END)
       |         ELSE (CASE WHEN xs < -100*k.d THEN -160*k.d
       |               WHEN xs < -20*k.d THEN -60*k.d
       |               WHEN xs < 80*k.d THEN 20*k.d ELSE 140*k.d END) END AS cm
       |  FROM lc CROSS JOIN cons k),
       |geo AS (SELECT cell_id,
       |    GREATEST(-90.0, LEAST(90.0, lat / d)) AS latd,
       |    (CASE WHEN tm IS NULL
       |          THEN (CASE WHEN abs(c) < 1e-12 THEN cm ELSE cm + (xs - cm) / c END)
       |          ELSE (CASE WHEN abs(c) < 1e-12 THEN cm ELSE cm + (xs - cm) * pi() / (2.0 * sqrt(2.0) * c) END) END) / d AS lond
       |  FROM cmv),
       |wr AS (SELECT cell_id, latd,
       |    ((lond + 180.0) % 360.0 + 360.0) % 360.0 - 180.0 AS lngd FROM geo),
       |enc AS (SELECT cell_id, latd, lngd,
       |    CAST(LEAST(${nr - 1}, GREATEST(0, FLOOR((latd + 90.0) / 180.0 * $nr))) AS BIGINT) AS rr,
       |    ((CAST(FLOOR((lngd + 180.0) / 360.0 * $nc) AS BIGINT) % $nc) + $nc) % $nc AS cc
       |  FROM wr)
       |SELECT cell_id,
       |  CAST(ROUND(latd * 1000000.0) AS BIGINT) AS lat_q6,
       |  CAST(ROUND(lngd * 1000000.0) AS BIGINT) AS lng_q6,
       |  $marker + ${GoodeH3Res.toLong} * $resShift + rr * 16777216 + cc AS h3,
       |  $marker + 4 * $resShift + (rr // 32) * 16777216 + (cc // 32) AS h3_r4
       |FROM enc ORDER BY cell_id""".stripMargin
  }

  // ---- q79: video FRAME-SAMPLE — the multimodal pipeline's video op
  // (decode / feature-extract / resize / frame-SAMPLE): every 4th frame
  // of a 12-frame f32 video payload is decoded (only that frame's byte
  // slice) and reduced to per-frame stats, one codegen'd FrameStats
  // call per sampled index. The oracle regenerates each sampled frame's
  // pixels from the dyadic World.vid formula — mean/max/wsum are all
  // exact dyadic sums, so the compare is bit-exact, and wsum's
  // position weighting pins within-frame pixel order (q73 pattern). ----
  private val FrameStride = 4

  private def q79(s: SparkSession, dir: String): DataFrame =
    graft.engine.Multimodal.frameSample(
        graft.engine.Multimodal.syntheticVideo(s),
        graft.engine.Multimodal.VideoFrames, FrameStride, spec.pixPerTile)
      .orderBy("video_id", "frame_idx")

  private def q79Sql = {
    val frames = (0 until graft.engine.Multimodal.VideoFrames by FrameStride)
      .map(f => s"($f)").mkString(", ")
    // within-tile decode position of a cell: (row0 % T) * T + (col0 % T)
    val posSql = s"(((${rowSql("cell_id")} - 1) % $T) * $T" +
      s" + ((cell_id - 1) % $C) % $T)"
    s"""$cellsCte,
       |f(fi) AS (VALUES $frames),
       |v AS (SELECT ${tileSql("cell_id")} AS tile_id, fi,
       |    ${vidSql("cell_id", "fi")} AS v, $posSql AS p
       |  FROM cells, f)
       |SELECT printf('vid_%05d', tile_id) AS video_id,
       |  CAST(fi AS INT) AS frame_idx,
       |  SUM(v) / COUNT(*) AS mean_px, MAX(v) AS max_px,
       |  SUM((p + 1) * v) AS wsum
       |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q31: lossy-payload invariant: png16 round-trip PSNR >= 40 dB per
    * tile (input_hint). */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(0, spec.nTiles).map { t =>
      val bands = World.tileBands(spec, t.toInt)
      val png = graft.core.Codec.encodePng16(bands(0), spec.tile, spec.tile)
      val back = graft.core.Codec.decodePng16(png)
      val p = graft.core.Codec.psnr(bands(0), back, peak = 1.0)
      (t, p, p >= 40.0)
    }.toDF("tile_id", "psnr", "pass").orderBy("tile_id")
  }

  // --- q87: Z-ORDER LAYOUT (engine/Layout) — the write-path curve key
  // behind min/max file pruning: z = Morton interleave of (col0,
  // row0), fixed-width z-range buckets of 256 keys (16x16 spatial
  // blocks where the grid is power-of-two-aligned). Per bucket: count,
  // bbox, and the exact z sum — which pins every interleaved bit, so
  // the oracle (the same interleave written as 7 explicit bit terms
  // per axis in DuckDB integer arithmetic) proves the bit twiddling.
  // The bbox columns make the locality claim inspectable: every
  // bucket's extent is <= 16x16, vs. full-grid-width stripes under a
  // row-major layout. clusterBy's disjoint-file-range contract (the
  // part RangePartitioner's sampling makes non-bit-deterministic) is
  // asserted in LayoutSpec, not here. ------
  private val ZBucket = 256L

  private def q87(s: SparkSession, dir: String): DataFrame = {
    val z = z_interleave(spec.col0Of(cellCol), spec.row0Of(cellCol))
    spine(s)
      .withColumn("z", z)
      .withColumn("bucket", (col("z") / ZBucket).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_cells"), sum("z").as("sum_z"),
        min(spec.col0Of(cellCol)).as("min_c"),
        max(spec.col0Of(cellCol)).as("max_c"),
        min(spec.row0Of(cellCol)).as("min_r"),
        max(spec.row0Of(cellCol)).as("max_r"))
      .orderBy("bucket")
  }

  private val q87Sql: String = {
    def interleaveSql(c: String, r: String): String =
      (0 until 7).map { k =>
        s"((($c) // ${1L << k}) % 2) * ${1L << (2 * k)}" +
          s" + ((($r) // ${1L << k}) % 2) * ${1L << (2 * k + 1)}"
      }.mkString("(", " + ", ")")
    val zSql = interleaveSql(s"(cell_id - 1) % $C",
      s"(cell_id - 1) // $C")
    s"""$cellsCte,
       |z AS (SELECT (cell_id - 1) % $C AS c0, (cell_id - 1) // $C AS r0,
       |    $zSql AS z
       |  FROM cells)
       |SELECT CAST(z // $ZBucket AS BIGINT) AS bucket, COUNT(*) AS n_cells,
       |  CAST(SUM(z) AS BIGINT) AS sum_z,
       |  CAST(MIN(c0) AS BIGINT) AS min_c, CAST(MAX(c0) AS BIGINT) AS max_c,
       |  CAST(MIN(r0) AS BIGINT) AS min_r, CAST(MAX(r0) AS BIGINT) AS max_r
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q93: 3x3 FOCAL STENCIL with cross-tile HALO EXCHANGE — the
  // distributed focal-map-algebra pattern (slope/aspect/hotspot
  // neighborhood ops over a tiled raster; the reference's toolchain
  // applies the `focal()` family around the driver maps and the kNN
  // expand (R:418-470) is itself a neighborhood op). Per cell: integer
  // 3x3 window sum, in-grid window size, and a strict local-max flag
  // over band 1, world-edge cells using only their in-grid neighbors.
  //
  // Scale design — the whole point of the query: a per-pixel stencil
  // over tiled image payloads must NOT become a per-pixel self-join
  // (9x pixel replication through a shuffle keyed by 6.9M+ cells).
  // Instead each decoded pixel fans out to the <=4 neighboring tiles
  // whose 1-pixel-padded patch needs it (border pixels only — the
  // Generate emits 9 candidate tile offsets, the filter keeps an
  // offset only when the pixel sits on the matching border, so the
  // average fanout is (1+2/T)^2 ~ 1.13 at T=16 and ~1.03 at T=64),
  // then ONE shuffle keyed by DESTINATION TILE reassembles each tile's
  // (T+2)^2 halo-padded patch and the codegen'd Focal3x3 expression
  // computes every core pixel's stencil locally. Shuffle bytes =
  // pixels x fanout x ~12 bytes; tile state = one (T+2)^2 patch. At
  // 100 TB the same plan holds: halo fraction shrinks with T, the
  // patch stays O(T^2), and no stage ever materializes per-pixel
  // neighbor pairs. Packed all-integer outputs keep the oracle compare
  // bit-exact (fsum<<5 | ncnt<<1 | peak, split by integer shifts in
  // the projection above the aggregate). -------------------------------
  private def q93(s: SparkSession, dir: String): DataFrame =
    focalHalo(s, spec)

  /** Halo patch assembly shared by every focal (stencil) query —
    * q93's window stats, q98's Sobel gradient, q99's majority filter:
    * each decoded pixel fans out to the <=4 neighbor tiles whose
    * 1-pixel-padded patch needs it, ONE shuffle keyed by destination
    * tile reassembles each (T+2)^2 patch as sorted (pos, v) arrays.
    * The per-stencil compute is a codegen expression over the patch. */
  private[graft] def haloPatches(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp, 1)

  /** Pad-generalized halo assembly: each pixel fans out to the <= 8
    * neighbor tiles whose `pad`-pixel-padded (T+2·pad)² patch needs it
    * (a pixel within `pad` of a border feeds that side's neighbor), ONE
    * shuffle keyed by destination tile. pad must stay <= T/2 so corner
    * pixels reach only the 8 adjacent tiles. Shuffle volume is
    * pixels × ~(1 + 2·pad/T)² — the halo fraction still vanishes as T
    * grows, whatever the stencil radius. */
  private[graft] def haloPatches(s: SparkSession, sp: WorldSpec,
      pad: Int): DataFrame = {
    require(pad >= 1 && 2 * pad <= sp.tile, s"pad $pad vs tile ${sp.tile}")
    val T2 = sp.tile
    val TX2 = sp.tilesX
    val P = T2 + 2 * pad
    val offs = for { dy <- -1 to 1; dx <- -1 to 1 }
      yield struct(lit(dy).as("dty"), lit(dx).as("dtx"))
    val px = World.tilesDF(s, sp)
      .select(col("tile_id"),
        posexplode(decode_band(col("bytes"), col("fmt"), sp.pixPerTile, 1))
          .as(Seq("p", "v")))
      .filter(sp.inGridAt(col("tile_id"), col("p")))
      .select(col("tile_id"), col("v").cast("double").as("v"),
        (col("p") / T2).cast("int").as("rr"),
        (col("p") % T2).cast("int").as("cc"))
    val fanned = px
      .select(col("tile_id"), col("v"), col("rr"), col("cc"),
        explode(array(offs: _*)).as("o"))
      .select(col("tile_id"), col("v"), col("rr"), col("cc"),
        col("o.dty").as("dty"), col("o.dtx").as("dtx"))
      // a pixel feeds a neighbor tile's patch only from the matching
      // pad-wide border band
      .filter(
        (col("dty") === 0 || (col("dty") === -1 && col("rr") < pad) ||
          (col("dty") === 1 && col("rr") >= T2 - pad)) &&
        (col("dtx") === 0 || (col("dtx") === -1 && col("cc") < pad) ||
          (col("dtx") === 1 && col("cc") >= T2 - pad)))
      .select(col("v"),
        ((col("tile_id") / TX2).cast("int") + col("dty")).as("ty2"),
        ((col("tile_id") % TX2).cast("int") + col("dtx")).as("tx2"),
        col("rr"), col("cc"), col("dty"), col("dtx"))
      .filter(col("ty2") >= 0 && col("ty2") < sp.tilesY &&
        col("tx2") >= 0 && col("tx2") < TX2)
      .select((col("ty2") * TX2 + col("tx2")).cast("long").as("dest_tile"),
        ((col("rr") - col("dty") * T2 + pad) * P +
          col("cc") - col("dtx") * T2 + pad).cast("int").as("pos"),
        col("v"))
    fanned
      .groupBy("dest_tile")
      .agg(sort_array(collect_list(struct(col("pos"), col("v")))).as("pv"))
  }

  /** The halo-exchange 3x3 window stats over any WorldSpec (padded
    * edge tiles included: the in-grid guard drops padding pixels at
    * decode, and core positions outside the grid come back packed -1
    * from Focal3x3 and are filtered). Factored out so FocalSpec can drive a
    * non-dyadic padded grid the registry's oracle can't express. */
  private[graft] def focalHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp)
      .select(col("dest_tile"),
        posexplode(focal3x3(col("pv.pos"), col("pv.v"), sp.tile))
          .as(Seq("p", "f")))
      .filter(col("f") >= 0) // edge-tile padding positions
      .select(
        sp.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        shiftright(col("f"), 5).as("fsum"),
        shiftright(col("f"), 1).bitwiseAND(lit(15L)).cast("int").as("ncnt"),
        col("f").bitwiseAND(lit(1L)).cast("int").as("peak"))
      .orderBy("cell_id")

  /** Oracle: the same stencil straight from the band formulas — 9
    * closed-form neighbor terms per cell (nid = (r0+dy)*C + c0+dx + 1),
    * each guarded by the in-grid test the engine realizes via absent
    * patch positions. */
  private def q93Sql: String = {
    val valid = (dy: Int, dx: Int) => nbrValidSql(dy, dx)
    val bandTerm = (dy: Int, dx: Int) => nbrBandSql(dy, dx)
    val all = for { dy <- -1 to 1; dx <- -1 to 1 } yield (dy, dx)
    val fsum = all.map { case (dy, dx) =>
      s"(CASE WHEN ${valid(dy, dx)} THEN ${bandTerm(dy, dx)} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val ncnt = all.map { case (dy, dx) =>
      s"(CASE WHEN ${valid(dy, dx)} THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val nbMax = all.filterNot(p => p._1 == 0 && p._2 == 0).map {
      case (dy, dx) =>
        s"(CASE WHEN ${valid(dy, dx)} THEN ${bandTerm(dy, dx)} ELSE -1 END)"
    }.mkString("GREATEST(", ", ", ")")
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells)
       |SELECT cell_id, CAST($fsum AS BIGINT) AS fsum,
       |  CAST($ncnt AS INT) AS ncnt,
       |  CAST(CASE WHEN ${bandTerm(0, 0)} > $nbMax THEN 1 ELSE 0 END AS INT)
       |    AS peak
       |FROM pts ORDER BY 1""".stripMargin
  }

  // ---- q98: SOBEL GRADIENT over the halo patches — the derivative
  // stencil (slope/aspect from a DEM, edge detection on decoded
  // imagery) on the same one-shuffle halo exchange as q93: integer 3x3
  // kernels over band 1, interior cells only (the standard edge rule
  // for gradients — a one-sided derivative is a different operator),
  // packed bias-1020 so gx,gy survive the long round-trip losslessly.
  // Same scale shape as q93: shuffle = pixels x ~(1+2/T)^2, per-tile
  // state = one (T+2)^2 patch, Sobel3x3 codegen'd in the projection. --------
  private def q98(s: SparkSession, dir: String): DataFrame =
    sobelHalo(s, spec)

  private[graft] def sobelHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp)
      .select(col("dest_tile"),
        posexplode(sobel3x3(col("pv.pos"), col("pv.v"), sp.tile))
          .as(Seq("p", "g")))
      .filter(col("g") >= 0) // world-edge + padding: no full window
      .select(sp.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        (shiftright(col("g"), 12) - 1020).as("gx"),
        (col("g").bitwiseAND(lit(4095L)) - 1020).as("gy"))
      .withColumn("gmag", abs(col("gx")) + abs(col("gy")))
      .orderBy("cell_id")

  /** Oracle: the kernels written directly over the band formula for
    * the 8 neighbors, interior cells only. */
  private def q98Sql: String = {
    val (gx, gy) = sobelGxGySql
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells
       |  WHERE (cell_id - 1) % $C BETWEEN 1 AND ${C - 2}
       |    AND FLOOR((cell_id - 1) / $C) BETWEEN 1 AND ${spec.rows - 2})
       |SELECT cell_id, CAST($gx AS BIGINT) AS gx, CAST($gy AS BIGINT) AS gy,
       |  CAST(ABS($gx) + ABS($gy) AS BIGINT) AS gmag
       |FROM pts ORDER BY 1""".stripMargin
  }

  // ---- q99: MAJORITY (MODAL) FILTER — the categorical smoothing pass
  // the reference's workflow applies to the classified driver map
  // (post-classification sieve/majority in the raster toolchain): per
  // cell, the most frequent 32-wide quantized band level in the 3x3
  // in-grid window, ties to the SMALLER level (the which.max first-max
  // rule, W1). World-edge cells use their in-grid window like q93.
  // Third rider on the haloPatches exchange: the stencil kernel is the
  // only thing that changes, the shuffle shape does not. -------------------
  private[graft] val ModeDiv = 32

  private def q99(s: SparkSession, dir: String): DataFrame =
    modeHalo(s, spec)

  private[graft] def modeHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp)
      .select(col("dest_tile"),
        posexplode(mode3x3(col("pv.pos"), col("pv.v"), sp.tile, ModeDiv))
          .as(Seq("p", "g")))
      .filter(col("g") >= 0) // edge-tile padding positions
      .select(sp.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        shiftright(col("g"), 4).as("mode_lvl"),
        col("g").bitwiseAND(lit(15L)).cast("int").as("mode_cnt"))
      .orderBy("cell_id")

  /** Oracle: 9 guarded level columns from the band formula, then the
    * pairwise argmax of (count, -level) as the engine packs it. */
  private def q99Sql: String = {
    val offs = for { dy <- -1 to 1; dx <- -1 to 1 } yield (dy, dx)
    def lvl(dy: Int, dx: Int) =
      s"CAST(FLOOR(${bandSql(s"(r0 + ($dy)) * $C + c0 + ($dx) + 1", 1)}" +
        s" / $ModeDiv) AS BIGINT)"
    val nbCols = offs.zipWithIndex.map { case ((dy, dx), k) =>
      s"""CASE WHEN r0 + ($dy) >= 0 AND r0 + ($dy) < ${spec.rows}
         | AND c0 + ($dx) >= 0 AND c0 + ($dx) < $C
         | THEN ${lvl(dy, dx)} ELSE -1 END AS v_$k""".stripMargin
        .replaceAll("\n", "")
    }.mkString(",\n|    ")
    val scores = offs.indices.map { k =>
      val cnt = offs.indices
        .map(j => s"(CASE WHEN v_$j = v_$k THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"CASE WHEN v_$k >= 0 THEN $cnt * 512 + (511 - v_$k) ELSE -1 END"
    }.mkString("GREATEST(", ",\n|      ", ")")
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |nb AS (SELECT cell_id,
       |    $nbCols
       |  FROM pts),
       |sc AS (SELECT cell_id,
       |    $scores AS best
       |  FROM nb)
       |SELECT cell_id, CAST(511 - best % 512 AS BIGINT) AS mode_lvl,
       |  CAST(best // 512 AS INT) AS mode_cnt
       |FROM sc ORDER BY 1""".stripMargin
  }

  // ---- q104: PER-TILE SHARPNESS (variance of Laplacian) — the blur
  // gate of an image training pipeline: a defocused/blurred image has a
  // low-variance Laplacian response, so per-image var(L) thresholding
  // is the standard quality filter before training. Fourth rider on the
  // haloPatches exchange, but with a different output granularity: the
  // LapStats expression FUSES the 5-point stencil with the per-tile
  // reduction, so each tile emits one 24-byte struct(n, lsum, lsumsq)
  // instead of T^2 per-pixel rows — per-image scores stay O(images),
  // not O(pixels), which is the only shape that survives 10^12 images.
  // The exposed score is the exact integer variance NUMERATOR
  // n·lsumsq − lsum² (variance = num/n²; kept integral so the DuckDB
  // compare is bit-exact — band values are 0..255 ints, L ∈ [−1020,
  // 1020], num < 2^38). Interior-of-world pixels only (q98's gradient
  // edge rule), so edge tiles have n < T². ---------------------------------
  private def q104(s: SparkSession, dir: String): DataFrame =
    lapHalo(s, spec)

  private[graft] def lapHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp)
      .select(col("dest_tile").as("tile_id"),
        lap_stats(col("pv.pos"), col("pv.v"), sp.tile).as("st"))
      .filter(col("st.n") > 0) // padding-only tiles have no interior pixel
      .select(col("tile_id"), col("st.n").as("n_int"),
        col("st.lsum").as("lap_sum"), col("st.lsumsq").as("lap_sumsq"),
        (col("st.n") * col("st.lsumsq") -
          col("st.lsum") * col("st.lsum")).as("sharp_num"))
      .orderBy("tile_id")

  /** Oracle: the Laplacian from the band formula over interior cells,
    * grouped to tiles — same exact-integer outputs. */
  private def q104Sql: String = {
    def v(dy: Int, dx: Int) =
      s"CAST(${bandSql(s"(r0 + ($dy)) * $C + c0 + ($dx) + 1", 1)} AS BIGINT)"
    val lap = s"(4 * ${v(0, 0)} - ${v(-1, 0)} - ${v(1, 0)}" +
      s" - ${v(0, -1)} - ${v(0, 1)})"
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells
       |  WHERE (cell_id - 1) % $C BETWEEN 1 AND ${C - 2}
       |    AND FLOOR((cell_id - 1) / $C) BETWEEN 1 AND ${spec.rows - 2}),
       |l AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    CAST($lap AS BIGINT) AS lap FROM pts)
       |SELECT tile_id, CAST(COUNT(*) AS INT) AS n_int,
       |  CAST(SUM(lap) AS BIGINT) AS lap_sum,
       |  CAST(SUM(lap * lap) AS BIGINT) AS lap_sumsq,
       |  CAST(COUNT(*) * SUM(lap * lap) - SUM(lap) * SUM(lap) AS BIGINT)
       |    AS sharp_num
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q111: PER-TILE HISTOGRAM EQUALIZATION — the contrast
  // normalization an image training pipeline applies before feature
  // extraction: every pixel remaps to e = floor(255·cdf(v)/n) driven by
  // the tile's OWN band-1 distribution, so tiles never exchange data
  // and the op is one codegen'd expression over the tile scan (zero
  // shuffle before the presentation sort, O(images) output rows — the
  // q104 granularity). histogram + CDF + remap are fused inside
  // HistEqStats; the exposed (n, esum, ewsum = Σ(pos+1)·e) integers pin
  // every remapped value AND its payload position under the driver's
  // permutation-invariant hash (q73 pattern). Oracle: DuckDB's
  // RANGE-frame window count IS cdf(v) (ties included), over the same
  // band formula. ----------------------------------------------------------
  private def q111(s: SparkSession, dir: String): DataFrame =
    World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        hist_eq_stats(col("bytes"), col("fmt"), spec.pixPerTile, 1).as("st"))
      .select(col("tile_id"), col("st.n").as("n_px"),
        col("st.esum").as("eq_sum"), col("st.ewsum").as("eq_wsum"))
      .orderBy("tile_id")

  private def q111Sql: String =
    s"""$cellsCte,
       |v AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    CAST(${bandSql("cell_id", 1)} AS INT) AS v,
       |    (CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) % $T) * $T
       |      + ((cell_id - 1) % $C) % $T AS p
       |  FROM cells),
       |e AS (SELECT tile_id, p,
       |    (255 * COUNT(*) OVER (PARTITION BY tile_id ORDER BY v))
       |      // COUNT(*) OVER (PARTITION BY tile_id) AS e
       |  FROM v)
       |SELECT tile_id, CAST(COUNT(*) AS INT) AS n_px,
       |  CAST(SUM(e) AS BIGINT) AS eq_sum,
       |  CAST(SUM((p + 1) * e) AS BIGINT) AS eq_wsum
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q112: GEODESIC nearest-facility assignment — every cell picks
  // its great-circle-nearest station (haversine on the sphere, the
  // metric the planar kNN family q24/q30/q32 deliberately does not
  // cover). The station list is tiny and fixed, so the argmin is
  // UNROLLED into one `least(struct(d, sid), ...)` chain — a pure
  // map-side expression in a single codegen span with ZERO shuffle
  // before the presentation sort. That is the 100-TB shape: the
  // cross-join + groupBy(cell) formulation would shuffle K x N rows to
  // re-assemble what each row already knows. Distances are quantized to
  // whole meters BEFORE the argmin on BOTH sides so a last-ulp
  // transcendental divergence between JVM Math and DuckDB libm cannot
  // flip a comparison (ADVICE r04 #1 pattern); ties at the same meter
  // break by station id in both engines. ------------------------------------
  private val Stations = 8
  private val EarthR = 6371008.8 // IUGG mean radius, meters
  /** Station k's lat/lng in degrees: the same World.h formula the
    * oracle SQL recomputes (deterministic IEEE arithmetic on exact
    * integer hashes — bit-identical in any engine). */
  private def stationLat(k: Int): Double =
    (World.h(k.toLong * 19 + 1) % 1600) / 1600.0 * 160.0 - 80.0
  private def stationLng(k: Int): Double =
    (World.h(k.toLong * 19 + 2) % 3600) / 3600.0 * 360.0 - 180.0

  /** Great-circle distance from the cell center to station k, rounded
    * to whole meters — shared by q112's argmin and q120's IDW. The
    * haversine is the ONLY libm surface either query carries; the
    * whole-meter quantization happens before any comparison or further
    * arithmetic on both engines (ADVICE r04 #1 pattern). */
  private def stationDistQ(k: Int): Column = {
    val d = math.Pi / 180.0
    val lat1 = latDegCol * d
    val lng1 = lngDegCol * d
    val lat2 = stationLat(k) * d
    val lng2 = stationLng(k) * d
    val sa = sin((lit(lat2) - lat1) * 0.5)
    val so = sin((lit(lng2) - lng1) * 0.5)
    val a = sa * sa + cos(lat1) * math.cos(lat2) * (so * so)
    round(asin(sqrt(least(a, lit(1.0)))) * (2.0 * EarthR)).cast("long")
  }

  private def q112(s: SparkSession, dir: String): DataFrame = {
    val best = least((0 until Stations).map(k =>
      struct(stationDistQ(k).as("d"), lit(k).as("sid"))): _*)
    spine(s)
      .select(cellCol, best.as("b"))
      .select(cellCol, col("b.sid").as("station_id"),
        col("b.d").as("dist_m"))
      .orderBy("cell_id")
  }

  private def q112Sql: String = {
    val hs1 = hSql("r.range * 19 + 1")
    val hs2 = hSql("r.range * 19 + 2")
    s"""$cellsCte,
       |st AS (SELECT r.range AS sid,
       |    ($hs1 % 1600) / 1600.0 * 160.0 - 80.0 AS slat,
       |    ($hs2 % 3600) / 3600.0 * 360.0 - 180.0 AS slng
       |  FROM range($Stations) r),
       |pt AS (SELECT cell_id,
       |    ((CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) + 1 - 0.5) / ${spec.rows} * 180.0 - 90.0) * (pi() / 180.0) AS lat1,
       |    (((cell_id - 1) % $C + 1 - 0.5) / $C * 360.0 - 180.0) * (pi() / 180.0) AS lng1
       |  FROM cells),
       |sd AS (SELECT p.cell_id, s.sid,
       |    sin((s.slat * (pi() / 180.0) - p.lat1) * 0.5) AS sa,
       |    sin((s.slng * (pi() / 180.0) - p.lng1) * 0.5) AS so,
       |    cos(p.lat1) * cos(s.slat * (pi() / 180.0)) AS cc
       |  FROM pt p CROSS JOIN st s),
       |dd AS (SELECT cell_id, sid,
       |    CAST(ROUND(asin(sqrt(LEAST(sa * sa + cc * (so * so), 1.0)))
       |      * (2.0 * $EarthR)) AS BIGINT) AS dq
       |  FROM sd),
       |rk AS (SELECT cell_id, sid, dq,
       |    ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY dq, sid) AS rn
       |  FROM dd)
       |SELECT cell_id, CAST(sid AS INT) AS station_id, dq AS dist_m
       |FROM rk WHERE rn = 1 ORDER BY cell_id""".stripMargin
  }

  // ---- q113: VECTOR-LAYER GEOMETRY METRICS — shoelace area, signed
  // centroid and perimeter per region polygon, computed from the SAME
  // scanned WKT layer q39 ray-casts (S6 + the vector-analytics half of
  // G5 the raster path doesn't exercise). The formulation is the
  // distributed one: the layer explodes to an EDGE frame and every
  // metric is an edge-local term summed per region — at a 10^8-edge
  // continental layer this is one partial-aggregated shuffle on
  // region_id, never a per-polygon driver loop. Exactness: the fixture
  // coordinates are integers, so the cross products and vertex sums are
  // exact dyadic doubles (order-free addition); the only inexact term,
  // the edge length's sqrt, is quantized to micro-units per edge BEFORE
  // the sum so the reduction stays order-free and libm-divergence-proof
  // on both sides. Centroid = Sum((xi+xj) cross_i) / (3 As), one exact
  // division at the end, quantized at 1e-9 deg. ------------------------------
  private def q113(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val polys = graft.sources.Ingest.wktPolygons(s, wktFixture)
    val edges = polys.toSeq.flatMap { p =>
      p.edgeList.map { case (x1, y1, x2, y2) => (p.regionId, x1, y1, x2, y2) }
    }.toDF("region_id", "x1", "y1", "x2", "y2")
    val cross = col("x1") * col("y2") - col("x2") * col("y1")
    val dx = col("x2") - col("x1")
    val dy = col("y2") - col("y1")
    val lenQ6 = round(sqrt(dx * dx + dy * dy) * 1e6).cast("long")
    edges
      .groupBy("region_id")
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(cross).as("a2"),
        sum(lenQ6).as("perim_q6"),
        sum((col("x1") + col("x2")) * cross).as("cxn"),
        sum((col("y1") + col("y2")) * cross).as("cyn"))
      .select(col("region_id"), col("n_edges"),
        abs(col("a2") / 2.0).as("area"),
        col("perim_q6"),
        round(col("cxn") / (col("a2") * 3.0) * 1e9).cast("long").as("cx_q9"),
        round(col("cyn") / (col("a2") * 3.0) * 1e9).cast("long").as("cy_q9"))
      .orderBy("region_id")
  }

  private def q113Sql: String =
    s"""WITH edges(region_id, x1, y1, x2, y2) AS (VALUES $edgesValues)
       |SELECT region_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
       |  ABS(SUM(x1 * y2 - x2 * y1) / 2.0) AS area,
       |  CAST(SUM(CAST(ROUND(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) * 1e6) AS BIGINT)) AS BIGINT) AS perim_q6,
       |  CAST(ROUND(SUM((x1 + x2) * (x1 * y2 - x2 * y1)) / (SUM(x1 * y2 - x2 * y1) * 3.0) * 1e9) AS BIGINT) AS cx_q9,
       |  CAST(ROUND(SUM((y1 + y2) * (x1 * y2 - x2 * y1)) / (SUM(x1 * y2 - x2 * y1) * 3.0) * 1e9) AS BIGINT) AS cy_q9
       |FROM edges GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q119: HOTSPOT CLUSTERS — the raster blob-labeling op the
  // reference's published map implies but its R pipeline never runs
  // (contiguous deforestation fronts vs scattered loss): cells with
  // loss >= 0.5 are "hot", 4-neighbor adjacency among hot cells forms
  // the cluster graph, and the shared min-label CC engine
  // (engine/Components — the same machinery behind q56 text and q78
  // image dedup) labels each connected blob. The 100-TB shape: hotness
  // is a pushed scan filter (the hot fraction here is ~31%, and only
  // hot cells enter any shuffle); adjacency is TWO equi self-joins on
  // derived keys (right neighbor cell+1 with a row-wrap guard, down
  // neighbor cell+C — never a spatial cross join); the loop iterates
  // over edge-incident cells only. Output: one row per blob — keeper
  // id, size, total loss in EXACT integer units (the dyadic loss's
  // 1/1024 numerator, so the sum is order-free), and the bounding box.
  // Oracle: recursive-CTE transitive closure, the q78 pattern. ---------------
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val hot = spine(s).filter(lossCol(cellCol) >= 0.5).select(cellCol)
    val right = hot.as("a").join(hot.as("b"),
        col("b.cell_id") === col("a.cell_id") + 1 &&
          spec.col0Of(col("a.cell_id")) =!= (C - 1))
      .select(col("a.cell_id").as("ca"), col("b.cell_id").as("cb"))
    val down = hot.as("a").join(hot.as("b"),
        col("b.cell_id") === col("a.cell_id") + C)
      .select(col("a.cell_id").as("ca"), col("b.cell_id").as("cb"))
    val labels = graft.engine.Components
      .minLabel(s, right.union(down), "q119_hotspot_clusters")
      .withColumnRenamed("node_id", "cell_id")
    hot.join(labels, Seq("cell_id"), "left")
      .select(coalesce(col("lbl"), col("cell_id")).as("cluster"),
        (hc(cellCol) % 1024).as("loss_u"),
        (spec.row0Of(cellCol) + 1).as("r"), (spec.col0Of(cellCol) + 1).as("c"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_cells"), sum("loss_u").as("loss_units"),
        min("r").as("r0"), max("r").as("r1"),
        min("c").as("c0"), max("c").as("c1"))
      .orderBy("cluster")
  }

  private def q119Sql: String = {
    val h = hSql("cell_id")
    s"""WITH RECURSIVE cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r),
       |hot AS (SELECT cell_id FROM cells
       |  WHERE $h % 16 >= 6 AND $h % 1024 >= 512),
       |e0 AS (
       |  SELECT a.cell_id AS ca, b.cell_id AS cb FROM hot a
       |    JOIN hot b ON b.cell_id = a.cell_id + 1
       |  WHERE (a.cell_id - 1) % $C <> ${C - 1}
       |  UNION ALL
       |  SELECT a.cell_id, b.cell_id FROM hot a
       |    JOIN hot b ON b.cell_id = a.cell_id + $C),
       |edges AS (SELECT ca, cb FROM e0 UNION ALL SELECT cb, ca FROM e0),
       |reach(cell_id, lbl) AS (
       |  SELECT cell_id, cell_id FROM hot
       |  UNION
       |  SELECT e.cb, r.lbl FROM edges e JOIN reach r ON e.ca = r.cell_id),
       |lab AS (SELECT cell_id, MIN(lbl) AS cluster FROM reach GROUP BY 1)
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |  CAST(SUM($h % 1024) AS BIGINT) AS loss_units,
       |  MIN(${rowSql("cell_id")}) AS r0, MAX(${rowSql("cell_id")}) AS r1,
       |  MIN(${colSql("cell_id")}) AS c0, MAX(${colSql("cell_id")}) AS c1
       |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q120: IDW SURFACE INTERPOLATION — estimate a continuous field
  // at every cell from the 8 fixed stations by inverse-distance-squared
  // weighting (the deterministic spatial-interpolation baseline; the
  // kriging a production stack fits reduces to the same weighted-sum
  // shape at inference). Like q112, the station set is tiny and fixed,
  // so the whole estimate UNROLLS into one shuffle-free codegen
  // projection — the cross-join + groupBy(cell) formulation would
  // shuffle K x N rows to rebuild what each row can compute alone.
  // Determinism: distances are the shared whole-meter-quantized
  // haversine (stationDistQ — libm confined to q112's already-proven
  // surface, floored at 1 m so coincident points cannot divide by
  // zero); station values are exact integer hashes; every remaining op
  // is IEEE-exact double arithmetic folded in the SAME left-associated
  // order in both engines, so the quotient is bit-identical before the
  // final 1e-6 quantization. ---------------------------------------------------
  private def stationVal(k: Int): Double =
    (World.h(k.toLong * 19 + 3) % 1000).toDouble

  private def q120(s: SparkSession, dir: String): DataFrame = {
    val terms = (0 until Stations).map { k =>
      val dd = greatest(stationDistQ(k), lit(1L))
      val d2 = (dd * dd).cast("double")
      (lit(stationVal(k)) / d2, lit(1.0) / d2)
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    spine(s)
      .select(cellCol, round(num / den * 1e6).cast("long").as("idw_q6"))
      .orderBy("cell_id")
  }

  private def q120Sql: String = {
    def dq(k: Int): String = {
      val slat = s"((${hSql(s"$k * 19 + 1")} % 1600) / 1600.0 * 160.0 - 80.0) * (pi() / 180.0)"
      val slng = s"((${hSql(s"$k * 19 + 2")} % 3600) / 3600.0 * 360.0 - 180.0) * (pi() / 180.0)"
      s"""GREATEST(CAST(ROUND(asin(sqrt(LEAST(
         |      sin(($slat - lat1) * 0.5) * sin(($slat - lat1) * 0.5)
         |      + cos(lat1) * cos($slat)
         |        * (sin(($slng - lng1) * 0.5) * sin(($slng - lng1) * 0.5)),
         |      1.0))) * (2.0 * $EarthR)) AS BIGINT), 1)""".stripMargin
    }
    val numSql = (0 until Stations)
      .map(k => s"((${hSql(s"$k * 19 + 3")} % 1000) / (d$k * d$k))")
      .reduce((a, b) => s"($a + $b)")
    val denSql = (0 until Stations)
      .map(k => s"(1.0 / (d$k * d$k))")
      .reduce((a, b) => s"($a + $b)")
    s"""$cellsCte,
       |pt AS (SELECT cell_id,
       |    ((CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) + 1 - 0.5) / ${spec.rows} * 180.0 - 90.0) * (pi() / 180.0) AS lat1,
       |    (((cell_id - 1) % $C + 1 - 0.5) / $C * 360.0 - 180.0) * (pi() / 180.0) AS lng1
       |  FROM cells),
       |dd AS (SELECT cell_id,
       |${(0 until Stations).map(k => s"    ${dq(k)} AS d$k").mkString(",\n")}
       |  FROM pt)
       |SELECT cell_id,
       |  CAST(ROUND($numSql / $denSql * 1e6) AS BIGINT) AS idw_q6
       |FROM dd ORDER BY cell_id""".stripMargin
  }

  // ---- q122: COST-DISTANCE SURFACE — the weighted travel-cost op a
  // raster GIS builds from a friction layer (the ArcGIS "Cost Distance"
  // companion of the Expand step the reference runs at R:445-454):
  // entering cell c costs w(c) = 1 + h(c*29)%9, ~12 hash-chosen source
  // cells start at 0, and every cell's distance after k=8 SYNCHRONOUS
  // min-plus relaxation rounds is emitted (-1 where still unreached —
  // the fixed round count is the operator contract, so engine and
  // oracle agree without a convergence race; GraphGeoSpec separately
  // runs the engine TO convergence against a scalar Dijkstra). Runs on
  // engine/MinPlus — distances and weights are integers with an integer
  // INF sentinel, so every round's MIN is order-free under any
  // partitioning. Grid edges are the q24 offsets pattern: one inline
  // explode of the <=4 guarded neighbors, never a spatial cross join.
  // The oracle unrolls the 8 rounds as chained CTEs (the q115 shape). -----
  private val CdRounds = 8
  private val CdInf = 1000000000L

  private def q122(s: SparkSession, dir: String): DataFrame = {
    val offs = Seq((1, 0), (-1, 0), (0, 1), (0, -1))
    val edges = spine(s).select(cellCol,
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy"))
        }: _*)).as("o"))
      .filter(((spec.col0Of(cellCol) + 1) + col("o.dx")).between(1, C) &&
        ((spec.row0Of(cellCol) + 1) + col("o.dy")).between(1, spec.rows))
      .select(cellCol.as("src"),
        (cellCol + col("o.dx") + col("o.dy") * C).as("dst"))
      .select(col("src"), col("dst"),
        (hc(col("dst") * 29) % 9 + 1).as("w"))
    val dist0 = spine(s).select(cellCol.as("node"),
      when(hc(cellCol * 31) % 512 === 0, lit(0L))
        .otherwise(lit(CdInf)).as("d"))
    graft.engine.MinPlus.relax(s, dist0, edges, CdRounds, CdInf)
      .select(col("node").as("cell_id"),
        when(col("d") >= CdInf, lit(-1L)).otherwise(col("d")).as("dist"))
      .orderBy("cell_id")
  }

  private def q122Sql: String = {
    val rounds = (1 to CdRounds).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS (SELECT p.node, LEAST(p.d, COALESCE(m.nd, $CdInf)) AS d
         |  FROM $p p LEFT JOIN (
         |    SELECT e.dst AS node, MIN(q.d + e.w) AS nd
         |    FROM $p q JOIN e ON e.src = q.node GROUP BY 1) m USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""$cellsCte,
       |o(dx, dy) AS (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)),
       |e AS (SELECT c.cell_id AS src, c.cell_id + o.dx + o.dy * $C AS dst,
       |    ${hSql(s"(c.cell_id + o.dx + o.dy * $C) * 29")} % 9 + 1 AS w
       |  FROM cells c CROSS JOIN o
       |  WHERE ${colSql("c.cell_id")} + o.dx BETWEEN 1 AND $C
       |    AND ${rowSql("c.cell_id")} + o.dy BETWEEN 1 AND ${spec.rows}),
       |r0 AS (SELECT cell_id AS node,
       |    CASE WHEN ${hSql("cell_id * 31")} % 512 = 0
       |      THEN CAST(0 AS BIGINT) ELSE CAST($CdInf AS BIGINT) END AS d
       |  FROM cells),
       |$rounds
       |SELECT node AS cell_id,
       |  CASE WHEN d >= $CdInf THEN CAST(-1 AS BIGINT) ELSE d END AS dist
       |FROM r$CdRounds ORDER BY cell_id""".stripMargin
  }

  // ---- q123: LINE RASTERIZATION — burning a vector SEGMENT layer onto
  // the grid (the linear-feature half of vector->raster: the reference's
  // rastOut writes cell VALUES, q28/q73 write tiles, and roads/rivers
  // arrive as polylines). Each of 96 hash-built segments is slope-
  // limited (|dy| <= dx) and x-driven; the DDA y-step is CLOSED-FORM —
  // y = y0 + round(i*dy/dx) with dx a POWER OF TWO, so the division is
  // an exact dyadic double and the half-away-from-zero round agrees
  // bit-for-bit in both engines (no iterative Bresenham state, which
  // would serialize per segment). The distributed shape: segments
  // explode to their dx+1 cells via sequence() (bounded per segment,
  // never a grid cross join) and the only exchange is the per-cell
  // coverage count, partial-aggregated. -----------------------------------
  private val SegN = 96L

  private def q123(s: SparkSession, dir: String): DataFrame = {
    val j = col("id")
    val segs = s.range(0, SegN).select(
        when(hc(j * 5 + 1) % 3 === 0, lit(8L))
          .when(hc(j * 5 + 1) % 3 === 1, lit(16L))
          .otherwise(lit(32L)).as("dxe"),
        (hc(j * 5 + 3) % spec.rows + 1).as("y0"),
        (hc(j * 5 + 4) % spec.rows + 1).as("y1"),
        j)
      .select(col("dxe"),
        (hc(j * 5 + 2) % (lit(C.toLong) - col("dxe")) + 1).as("x0"),
        col("y0"), (col("y1") - col("y0")).as("dy"))
      .filter(abs(col("dy")) <= col("dxe"))
    segs.select(col("x0"), col("y0"), col("dy"), col("dxe"),
        explode(sequence(lit(0L), col("dxe"))).as("i"))
      .select(
        ((col("y0") + round(col("i") * col("dy") / col("dxe")).cast("long") - 1)
          * C + col("x0") + col("i")).as("cell_id"))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_segs"))
      .orderBy("cell_id")
  }

  private def q123Sql: String =
    s"""WITH s0 AS (SELECT r.range AS j,
       |    CASE ${hSql("r.range * 5 + 1")} % 3
       |      WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 32 END AS dxe,
       |    ${hSql("r.range * 5 + 3")} % ${spec.rows} + 1 AS y0,
       |    ${hSql("r.range * 5 + 4")} % ${spec.rows} + 1 AS y1
       |  FROM range($SegN) r),
       |s1 AS (SELECT j, dxe, ${hSql("j * 5 + 2")} % ($C - dxe) + 1 AS x0,
       |    y0, y1 - y0 AS dy
       |  FROM s0 WHERE ABS(y1 - y0) <= dxe),
       |st AS (SELECT x0, y0, dy, dxe,
       |    UNNEST(generate_series(0, dxe)) AS i FROM s1)
       |SELECT (y0 + CAST(ROUND(i * dy / dxe) AS BIGINT) - 1) * $C + x0 + i
       |    AS cell_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_segs
       |FROM st GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q126/q127/q128: TERRAIN FLOW — the hydrology trio a raster GIS
  // runs downstream of the reference's elevation layers (ArcGIS Flow
  // Direction / Flow Accumulation / Watershed; the reference's ArcGIS
  // step is the manual stage SURVEY §2 maps to K-ops). One shared
  // deterministic integer elevation field; all three queries stay
  // all-integer end to end, so every oracle compare is bit-exact.
  //
  // q126 FLOW DIRECTION (D8): each cell points at its steepest strictly-
  // downhill 8-neighbor, drop weighted 10 orthogonal / 7 diagonal (the
  // integer stand-in for 1/sqrt(2) distance scaling — stated operator
  // contract, no float division anywhere), ESRI direction codes, ties at
  // equal weighted drop break to the SMALLEST code via an identical
  // when/CASE chain in both engines; no downhill neighbor = sink (0).
  // Pure map-side arithmetic on the spine: ZERO shuffle, one codegen
  // projection — the 100-TB shape (neighbor elevations are closed-form
  // here; with a real DEM the same projection reads the q93 halo patch).
  //
  // q127 FLOW ACCUMULATION: upstream-cell count per cell over the D8
  // drainage DAG (strict descent guarantees acyclicity), as k=8
  // synchronous rounds of engine/Propagate.sumRounds — a'(v) = 1 +
  // SUM over in-edges of a(u), counting cells within 8 hops upstream
  // (the fixed round count is the operator contract; GraphGeoSpec runs
  // the kernel TO convergence against a scalar exact count). Integer
  // sums are order-free under any partitioning; the oracle unrolls the
  // 8 rounds as chained CTEs (the q122 shape).
  //
  // q128 WATERSHED LABELING: every cell's terminal sink by POINTER
  // DOUBLING (engine/Propagate.pointerDouble): p'(v) = p(p(v)) resolves
  // a depth-D chain in ceil(log2 D) self-join rounds — 5 rounds cover
  // depth 32, vs 32 one-hop shuffles for naive following; GraphGeoSpec
  // proves the fixture's true max chain depth fits and the labels equal
  // scalar follow-to-sink. The oracle mirrors the SAME doubling as 5
  // chained self-join CTEs, so both engines compute identical
  // intermediate pointers, converged or not. --------------------------------
  private val D8 = Seq( // (ESRI code, dx, dy, integer distance weight)
    (1, 1, 0, 10L), (2, 1, 1, 7L), (4, 0, 1, 10L), (8, -1, 1, 7L),
    (16, -1, 0, 10L), (32, -1, -1, 7L), (64, 0, -1, 10L), (128, 1, -1, 7L))
  private val AccRounds = 8
  private val PtrRounds = 5
  private val TerrB = 8              // bilinear lattice spacing, cells
  private val TerrCX = C / TerrB + 1 // corner columns (13 on tiny)

  /** Deterministic BILINEAR value-noise elevation — all-integer
    * (64 x the interpolated corner value, so no division): a raw
    * per-cell hash field is useless here (affine World.h makes
    * elevation ~linear in cell id — every cell drains west — and even
    * nonlinear iid noise gives ~1-step flow paths), while interpolating
    * an 8-cell corner lattice yields locally consistent gradients:
    * depth-30 flow chains, 25 multi-cell basins, all 8 directions
    * winning somewhere (fixture-checked in GraphGeoSpec). */
  private def elevCol(id: Column): Column = {
    val x = spec.col0Of(id)
    val y = spec.row0Of(id)
    val cx = floor(x / TerrB).cast("long")
    val cy = floor(y / TerrB).cast("long")
    val fx = x % TerrB
    val fy = y % TerrB
    def corner(i: Int, j: Int): Column =
      World.h2Col(((cy + j) * TerrCX + cx + i) * 53 + 11) % 4000
    (lit(TerrB) - fx) * (lit(TerrB) - fy) * corner(0, 0) +
      fx * (lit(TerrB) - fy) * corner(1, 0) +
      (lit(TerrB) - fx) * fy * corner(0, 1) +
      fx * fy * corner(1, 1)
  }

  private def elevSql(id: String): String = {
    val x = s"((($id) - 1) % $C)"
    val y = s"((($id) - 1) // $C)"
    def corner(i: Int, j: Int): String =
      s"(${h2Sql(s"(($y // $TerrB + $j) * $TerrCX + $x // $TerrB + $i) * 53 + 11")} % 4000)"
    s"(($TerrB - $x % $TerrB) * ($TerrB - $y % $TerrB) * ${corner(0, 0)} " +
      s"+ ($x % $TerrB) * ($TerrB - $y % $TerrB) * ${corner(1, 0)} " +
      s"+ ($TerrB - $x % $TerrB) * ($y % $TerrB) * ${corner(0, 1)} " +
      s"+ ($x % $TerrB) * ($y % $TerrB) * ${corner(1, 1)})"
  }

  /** Per-cell D8 candidate frame: weighted drop + destination per
    * direction (0 / -1 where out-of-grid or not strictly downhill).
    * Engine side everything stays INLINE — 9 elevation evaluations per
    * cell is ~a hundred integer ops inside one codegen projection with
    * ZERO shuffle, the 100-TB shape (the oracle instead stages an `el`
    * CTE and left-joins it 8 times, which is fine at oracle scale). */
  // NOTE: d8Candidates/d8Pick below are retained as the EXECUTABLE SPEC
  // of sql/Exprs.D8Pick (D8PickSpec asserts frame equality over every
  // grid cell); the query path itself uses the compact expression via
  // d8pickDF — see its scaladoc for the Janino 64 KB rationale.
  private[graft] def d8Candidates(s: SparkSession): DataFrame = {
    // stage the 9 elevation evaluations as columns first (self + 8
    // neighbors; out-of-grid neighbor elevations are computed but
    // guarded out below), so the candidate projection references each
    // ~60-node bilinear tree once instead of embedding it per drop —
    // smaller codegen source and analysis tree, same runtime work
    val staged = spine(s).select(cellCol +: elevCol(cellCol).as("ec") +:
      D8.map { case (code, dx, dy, _) =>
        elevCol(cellCol + dx + dy * C).as(s"e$code")
      }: _*)
    val cols = D8.flatMap { case (code, dx, dy, w) =>
      val inGrid = ((spec.col0Of(cellCol) + 1) + dx).between(1, C) &&
        ((spec.row0Of(cellCol) + 1) + dy).between(1, spec.rows)
      val drop = col("ec") - col(s"e$code")
      Seq(when(inGrid && drop > 0, drop * w).otherwise(0L).as(s"wd$code"),
        when(inGrid, cellCol + dx + dy * C).otherwise(-1L).as(s"n$code"))
    }
    staged.select(cellCol +: cols: _*)
  }

  /** The same candidate frame in DuckDB SQL (appended to cellsCte):
    * one `el` elevation CTE, then 8 guarded left self-joins — the
    * out-of-grid guard matters because a horizontally-wrapped neighbor
    * id still EXISTS in `el` (it is the adjacent row's edge cell). */
  private def d8CandidatesSql: String = {
    val joins = D8.map { case (code, dx, dy, _) =>
      s"LEFT JOIN el e$code ON e$code.cell_id = c.cell_id + ${dx + dy * C}"
    }.mkString("\n  ")
    val cols = D8.map { case (code, dx, dy, w) =>
      val inGrid = s"${colSql("c.cell_id")} + $dx BETWEEN 1 AND $C " +
        s"AND ${rowSql("c.cell_id")} + $dy BETWEEN 1 AND ${spec.rows}"
      s"""CASE WHEN $inGrid AND c.elev - e$code.elev > 0
         |      THEN (c.elev - e$code.elev) * $w ELSE 0 END AS wd$code,
         |    CASE WHEN $inGrid THEN c.cell_id + ${dx + dy * C} ELSE -1 END
         |      AS n$code""".stripMargin
    }.mkString(",\n    ")
    s"""el AS (SELECT cell_id, ${elevSql("cell_id")} AS elev FROM cells),
       |d8 AS (SELECT c.cell_id,
       |    $cols
       |  FROM el c
       |  $joins)""".stripMargin
  }

  /** dir/dst when-chain over a candidate row — checking codes in
    * ascending order makes equal-weighted-drop ties break to the
    * smallest code, identically in both engines. */
  private[graft] def d8Pick: (Column, Column, Column) = {
    val best = greatest(D8.map { case (code, _, _, _) => col(s"wd$code") }: _*)
    val dir = D8.foldLeft(when(best === 0, 0)) { case (c, (code, _, _, _)) =>
      c.when(col(s"wd$code") === best, code)
    }.cast("int")
    val dst = D8.foldLeft(when(best === 0, -1L)) { case (c, (code, _, _, _)) =>
      c.when(col(s"wd$code") === best, col(s"n$code"))
    }
    (best, dir, dst)
  }

  private def d8PickSql: (String, String, String) = {
    val best = "GREATEST(" +
      D8.map { case (code, _, _, _) => s"wd$code" }.mkString(", ") + ")"
    def chain(out: Int => String, zero: String): String =
      "CASE WHEN best = 0 THEN " + zero + " " + D8.map {
        case (code, _, _, _) => s"WHEN wd$code = best THEN ${out(code)}"
      }.mkString(" ") + " END"
    (best, chain(c => c.toString, "0"), chain(c => s"n$c", "-1"))
  }

  /** The D8 pick as ONE compact codegen expression (sql/Exprs.D8Pick):
    * the equivalent Column composition ([[d8Candidates]] + [[d8Pick]])
    * generated a whole-stage method past Janino's 64 KB limit — every
    * fresh plan paid a multi-second failed compile, then evaluated the
    * ~2000-node tree interpreted (measured 4.5 s per q127 edge
    * materialization at sf0.1). D8PickSpec pins bit-equality against
    * the original composition over every grid cell. */
  private def d8pickDF(s: SparkSession): DataFrame =
    spine(s).select(cellCol, graft.sql.GraftFunctions
      .d8_pick(cellCol, spec.rows, C, TerrB, TerrCX).as("d8"))

  private def q126(s: SparkSession, dir: String): DataFrame =
    d8pickDF(s)
      .select(cellCol, col("d8.dir").as("dir"), col("d8.dst").as("dst"),
        col("d8.wdrop").as("wdrop"))
      .orderBy("cell_id")

  private def q126Sql: String = {
    val (best, dirS, dstS) = d8PickSql
    s"""$cellsCte,
       |${d8CandidatesSql},
       |b AS (SELECT cell_id, $best AS best,
       |    ${D8.map { case (c, _, _, _) => s"wd$c, n$c" }.mkString(", ")}
       |  FROM d8)
       |SELECT cell_id, CAST($dirS AS INT) AS dir,
       |  CAST($dstS AS BIGINT) AS dst, CAST(best AS BIGINT) AS wdrop
       |FROM b ORDER BY cell_id""".stripMargin
  }

  /** D8 drainage edges `(src, dst)` — one out-edge per non-sink cell. */
  private def d8Edges(s: SparkSession): DataFrame =
    d8pickDF(s)
      .filter(col("d8.wdrop") > 0)
      .select(cellCol.as("src"), col("d8.dst").as("dst"))

  private def d8EdgesSql: String = {
    val (best, _, dstS) = d8PickSql
    s"""b AS (SELECT cell_id, $best AS best,
       |    ${D8.map { case (c, _, _, _) => s"wd$c, n$c" }.mkString(", ")}
       |  FROM d8),
       |e AS (SELECT cell_id AS src, $dstS AS dst FROM b WHERE best > 0)"""
      .stripMargin
  }

  private def q127(s: SparkSession, dir: String): DataFrame = {
    val nodes = spine(s).select(cellCol.as("node"))
    // Truncate the derived edge list ONCE before iterating: the D8
    // pick is a deep expression tree (8 bilinear-elevation when-chains),
    // and re-planning it inside every round's join makes Catalyst's
    // constraint propagation the bottleneck (minutes of driver CPU for
    // 8 rounds). truncateOnce KEEPS the inherited stats (this frame
    // never re-enters the loop, so nothing compounds) so the static
    // planner still broadcasts the small side of each round's join —
    // also exactly what a 100-TB run does with a derived edge list it
    // is about to iterate over.
    val edges = graft.engine.Checkpoint.truncateOnce(s, d8Edges(s))
    // D8 emits exactly one out-edge per non-sink cell (functional), so
    // the path-doubling kernel computes the identical 8-round
    // accumulation with 3 self-joins + 1 aggregation instead of 8
    // join+aggregate rounds (see Propagate.sumRoundsFunctional).
    graft.engine.Propagate.sumRoundsFunctional(s, nodes, edges, AccRounds)
      .select(col("node").as("cell_id"), col("acc"))
      .orderBy("cell_id")
  }

  private def q127Sql: String = {
    val rounds = (1 to AccRounds).map { i =>
      s"""a$i AS (SELECT c.cell_id AS node,
         |    CAST(1 + COALESCE(m.inflow, 0) AS BIGINT) AS acc
         |  FROM cells c LEFT JOIN (
         |    SELECT e.dst AS node, SUM(q.acc) AS inflow
         |    FROM a${i - 1} q JOIN e ON e.src = q.node GROUP BY 1) m
         |  ON m.node = c.cell_id)""".stripMargin
    }.mkString(",\n")
    s"""$cellsCte,
       |${d8CandidatesSql},
       |${d8EdgesSql},
       |a0 AS (SELECT cell_id AS node, CAST(1 AS BIGINT) AS acc FROM cells),
       |$rounds
       |SELECT node AS cell_id, acc FROM a$AccRounds ORDER BY cell_id"""
      .stripMargin
  }

  private def q128(s: SparkSession, dir: String): DataFrame = {
    val ptr0 = d8pickDF(s)
      .select(cellCol.as("node"),
        when(col("d8.wdrop") > 0, col("d8.dst")).otherwise(col("cell_id"))
          .as("p"))
    // Same one-shot pre-loop truncation as q127: the doubling
    // self-join would otherwise re-plan the deep D8 pick tree on BOTH
    // join sides.
    val p0 = graft.engine.Checkpoint.truncateOnce(s, ptr0)
    graft.engine.Propagate.pointerDouble(s, p0, PtrRounds)
      .select(col("node").as("cell_id"), col("p").as("basin"))
      .orderBy("cell_id")
  }

  private def q128Sql: String = {
    val (best, _, dstS) = d8PickSql
    val rounds = (1 to PtrRounds).map { i =>
      s"""p$i AS (SELECT a.node, b.p FROM p${i - 1} a
         |  JOIN p${i - 1} b ON a.p = b.node)""".stripMargin
    }.mkString(",\n")
    s"""$cellsCte,
       |${d8CandidatesSql},
       |b AS (SELECT cell_id, $best AS best,
       |    ${D8.map { case (c, _, _, _) => s"wd$c, n$c" }.mkString(", ")}
       |  FROM d8),
       |p0 AS (SELECT cell_id AS node,
       |    CASE WHEN best > 0 THEN $dstS ELSE cell_id END AS p FROM b),
       |$rounds
       |SELECT node AS cell_id, CAST(p AS BIGINT) AS basin
       |FROM p$PtrRounds ORDER BY cell_id""".stripMargin
  }

  // ---- q129: POLYLINE SIMPLIFICATION (Douglas-Peucker) — the ArcGIS
  // Simplify Line / ST_Simplify op, the last vector-side G-op beside
  // PIP (q21/q72), metrics (q113) and rasterization (q123). The engine
  // shape is engine/Simplify.dpRounds: synchronous SPLIT rounds where
  // every vertex row carries its enclosing anchor pair, so one round =
  // ONE partial-aggregated argmax exchange + a broadcast winners join —
  // a chord tree resolves in split-tree-depth rounds (each round splits
  // every active segment in parallel), never one round per vertex and
  // never a vertex-vs-segment range join. All-integer geometry makes
  // `beyond eps` the exact int64 compare cross^2 > eps2*len^2, so the
  // oracle (the same DpRounds rounds unrolled as chained CTEs, the q115
  // shape) agrees bit-for-bit including ties, converged or not.
  //
  // Fixture: 12 polylines of 33 vertices — integer value-noise lattice
  // every 8 steps, linearly interpolated between lattice points, plus
  // per-vertex jitter in [-2, 2]. The lattice kinks stand far beyond
  // eps (they split; shallow near-collinear kinks occasionally don't —
  // both engines agree either way) while the jitter's perpendicular
  // deviation stays strictly under eps = 5, so interpolated vertices
  // simplify away and the split tree converges well inside the 6-round
  // contract (spec-asserted vs scalar DP run to convergence). ------------
  private val DpLines = 12L
  private val DpVerts = 33L
  private val DpEps2 = 25L
  private val DpRounds = 6

  private[queries] def dpVertsFixture(s: SparkSession): DataFrame = {
    val id = col("id")
    val v0 = s.range(0, DpLines * DpVerts).select(
      floor(id / DpVerts.toDouble).cast("long").as("lid"),
      (id % DpVerts).as("seq"))
    val seqC = col("seq")
    val j = floor(seqC / 8.0).cast("long")
    val f = seqC % 8
    def lat(jj: Column): Column =
      graft.world.World.h2Col(col("lid") * 13 + jj * 53 + 7) % 4000
    v0.select(col("lid"), seqC, (seqC * 4).as("x"),
      (lat(j) * (lit(8L) - f) + lat(j + 1) * f +
        (hc(col("lid") * 31 + seqC) % 5 - 2)).as("y"))
  }

  private def q129(s: SparkSession, dir: String): DataFrame =
    graft.engine.Simplify.dpRounds(s, dpVertsFixture(s), DpEps2, DpRounds)
      .filter(col("kept"))
      .select(col("lid").as("line_id"), col("seq"), col("x"), col("y"))
      .orderBy("line_id", "seq")

  private def q129Sql: String = {
    val latS = (jj: String) => s"(${h2Sql(s"lid * 13 + ($jj) * 53 + 7")} % 4000)"
    val rounds = (1 to DpRounds).map { r =>
      s"""i$r AS (SELECT lid, lo, hi, seq, x, y,
         |    CASE WHEN (hix - lox) * (hix - lox)
         |        + (hiy - loy) * (hiy - loy) = 0
         |      THEN (x - lox) * (x - lox) + (y - loy) * (y - loy) - $DpEps2
         |      ELSE ((hix - lox) * (y - loy) - (hiy - loy) * (x - lox))
         |        * ((hix - lox) * (y - loy) - (hiy - loy) * (x - lox))
         |        - $DpEps2 * ((hix - lox) * (hix - lox)
         |          + (hiy - loy) * (hiy - loy)) END AS g
         |  FROM st${r - 1} WHERE NOT kept),
         |w$r AS (SELECT lid, lo, hi, seq, x, y, g,
         |    ROW_NUMBER() OVER (PARTITION BY lid, lo, hi
         |      ORDER BY g DESC, seq ASC) AS rn
         |  FROM i$r),
         |sp$r AS (SELECT lid, lo, hi, seq AS m, x AS mx, y AS my
         |  FROM w$r WHERE rn = 1 AND g > 0),
         |st$r AS (SELECT t.lid, t.seq, t.x, t.y,
         |    CASE WHEN u.m IS NOT NULL AND t.seq > u.m THEN u.m ELSE t.lo END AS lo,
         |    CASE WHEN u.m IS NOT NULL AND t.seq > u.m THEN u.mx ELSE t.lox END AS lox,
         |    CASE WHEN u.m IS NOT NULL AND t.seq > u.m THEN u.my ELSE t.loy END AS loy,
         |    CASE WHEN u.m IS NOT NULL AND t.seq < u.m THEN u.m ELSE t.hi END AS hi,
         |    CASE WHEN u.m IS NOT NULL AND t.seq < u.m THEN u.mx ELSE t.hix END AS hix,
         |    CASE WHEN u.m IS NOT NULL AND t.seq < u.m THEN u.my ELSE t.hiy END AS hiy,
         |    (t.kept OR COALESCE(t.seq = u.m, FALSE)) AS kept
         |  FROM st${r - 1} t LEFT JOIN sp$r u
         |    ON u.lid = t.lid AND u.lo = t.lo AND u.hi = t.hi)""".stripMargin
    }.mkString(",\n")
    s"""WITH v0 AS (SELECT r.range // $DpVerts AS lid, r.range % $DpVerts AS seq
       |  FROM range(${DpLines * DpVerts}) r),
       |v AS (SELECT lid, seq, seq * 4 AS x,
       |    ${latS("seq // 8")} * (8 - seq % 8)
       |      + ${latS("seq // 8 + 1")} * (seq % 8)
       |      + (${hSql("lid * 31 + seq")} % 5 - 2) AS y
       |  FROM v0),
       |st0 AS (SELECT v.lid, v.seq, v.x, v.y,
       |    a.seq AS lo, a.x AS lox, a.y AS loy,
       |    b.seq AS hi, b.x AS hix, b.y AS hiy,
       |    (v.seq = a.seq OR v.seq = b.seq) AS kept
       |  FROM v JOIN v a ON a.lid = v.lid AND a.seq = 0
       |         JOIN v b ON b.lid = v.lid AND b.seq = ${DpVerts - 1}),
       |$rounds
       |SELECT lid AS line_id, seq, x, y FROM st$DpRounds WHERE kept
       |ORDER BY line_id, seq""".stripMargin
  }

  // ---- q130: image FLIP/ROTATE augmentation — the index-permutation
  // half of the multimodal augmentation family beside q74's resize:
  // horizontal flip / vertical flip / 180-degree rotation of band 0,
  // re-encoded as a REAL payload (sql/Mirror, one static codegen call,
  // no arithmetic — every output float is a source float copied
  // bit-for-bit, so the op is exact for any pixel values). Each tile
  // gets the mode picked by tile_id % 3 through a codegen when-chain
  // (mode is a per-row value; the expression is literal-parameterized
  // like Resize2x). The check decodes the augmented payload per pixel —
  // the oracle reads the source formula at the permuted index, so any
  // off-by-one in the permutation, row/col swap, or encode corruption
  // is a hash-red. ------------------------------------------------------
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val m = col("tile_id") % 3
    val aug = when(m === 0, mirror(col("bytes"), T, T, 0))
      .when(m === 1, mirror(col("bytes"), T, T, 1))
      .otherwise(mirror(col("bytes"), T, T, 2))
    World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"), aug.as("bytes"))
      .select(col("tile_id"),
        posexplode(decode_band(col("bytes"), lit("f32"), spec.pixPerTile, 0))
          .as(Seq("p", "v")))
      .select(col("tile_id"), col("p").cast("long").as("p"),
        col("v").cast("double").as("v"))
      .orderBy("tile_id", "p")
  }

  private def q130Sql: String = {
    val r = s"((${rowSql("cell_id")} - 1) % $T)"
    val c = s"(((cell_id - 1) % $C) % $T)"
    s"""$cellsCte
       |SELECT ${tileSql("cell_id")} AS tile_id,
       |  CAST(CASE (${tileSql("cell_id")}) % 3
       |    WHEN 0 THEN $r * $T + ($T - 1 - $c)
       |    WHEN 1 THEN ($T - 1 - $r) * $T + $c
       |    ELSE ($T - 1 - $r) * $T + ($T - 1 - $c) END AS BIGINT) AS p,
       |  ${lossSql("cell_id")} AS v
       |FROM cells ORDER BY tile_id, p""".stripMargin
  }

  // ---- q131: CONTOUR EXTRACTION (marching squares) — the raster→vector
  // inverse of q123's line rasterization, and the isoline op the
  // reference's toolchain gets from `rasterToContour`-style GIS calls:
  // trace the elevation surface's level-L isolines as line segments.
  // Engine shape: ZERO data shuffle — one codegen projection over the
  // spine evaluates the 4 corner elevations of each 2x2 block (the q126
  // staging pattern), folds them into the 4-bit marching-squares case
  // index, and emits 0-2 segments via one inline explode; only the
  // deterministic output ORDER BY exchanges anything. At 100 TB the op
  // is embarrassingly parallel in tile space (each block reads its own
  // corners; tiles would read a 1-cell halo exactly like q93).
  //
  // Exactness discipline: corners compare to the level with the strict
  // integer `elev > L`, the saddle cases (6/9) resolve by the integer
  // center rule `e00+e10+e01+e11 > 4L`, and segment endpoints are edge
  // MIDPOINTS in doubled coordinates — all integers, so the oracle (the
  // same case table in SQL) agrees bit-for-bit including saddles. Both
  // engines share one case encoding: endpoints T=0 R=1 B=2 L=3, a
  // segment is the small int A*4+B with the case table's fixed endpoint
  // order, so the 16-way branch exists ONCE per engine and coordinates
  // are pure arithmetic off the code. The spec asserts the topological
  // invariant (every midpoint vertex has degree 2 unless on the grid
  // boundary — contours are closed loops or boundary-terminated paths)
  // and that both saddle resolutions occur on the fixture. -----------------
  private val IsoL = 128000L // mid-range of the bilinear surface [0, 255936]
  private val IsoAmp = 40000L // per-cell roughness (tuned so saddles occur)

  /** q131's surface: the shared terrain plus a small per-cell roughness
    * term. The pure bilinear surface is smooth at cell scale — NO 2x2
    * block ever saddles on it (fixture-measured: cases 6/9/12 simply
    * never occur at any level), which would leave the marching-squares
    * disambiguation rule untested. 40000 counts of cell-frequency noise
    * on a 0..255936 surface produces all four (case, center) saddle
    * resolutions while keeping the isolines terrain-shaped. */
  private def isoCol(id: Column): Column =
    elevCol(id) + World.h2Col(id * 29 + 5) % IsoAmp
  private def isoSql(id: String): String =
    s"(${elevSql(id)} + ${h2Sql(s"($id) * 29 + 5")} % $IsoAmp)"

  /** (s1, s2) segment codes of a case index + saddle-center flag. */
  private def msCase(idx: Column, ctr: Column): (Column, Column) = {
    val s1 = when(idx === 1, 12).when(idx === 2, 1).when(idx === 3, 13)
      .when(idx === 4, 14).when(idx === 5, 2)
      .when(idx === 6, when(ctr, 12).otherwise(1))
      .when(idx === 7, 6).when(idx === 8, 6)
      .when(idx === 9, when(ctr, 1).otherwise(12))
      .when(idx === 10, 2).when(idx === 11, 14).when(idx === 12, 13)
      .when(idx === 13, 1).when(idx === 14, 12).otherwise(-1)
    val s2 = when(idx === 6, when(ctr, 6).otherwise(14))
      .when(idx === 9, when(ctr, 14).otherwise(6)).otherwise(-1)
    (s1, s2)
  }

  private def q131(s: SparkSession, dir: String): DataFrame = {
    val x = spec.col0Of(cellCol)
    val y = spec.row0Of(cellCol)
    // corner elevations staged once per block (top-left = this cell)
    val blk = spine(s)
      .filter(x < C - 1 && y < spec.rows - 1)
      .select(x.as("bx"), y.as("by"),
        isoCol(cellCol).as("e00"), isoCol(cellCol + 1).as("e10"),
        isoCol(cellCol + C).as("e01"), isoCol(cellCol + C + 1).as("e11"))
    val idx = when(col("e00") > IsoL, 1).otherwise(0) +
      when(col("e10") > IsoL, 2).otherwise(0) +
      when(col("e01") > IsoL, 4).otherwise(0) +
      when(col("e11") > IsoL, 8).otherwise(0)
    val ctr = col("e00") + col("e10") + col("e01") + col("e11") > 4 * IsoL
    val (s1, s2) = msCase(idx, ctr)
    // endpoint coords off the code: x gets +1 on T/B midpoints, +2 on R;
    // y gets +1 on L/R midpoints, +2 on B
    def ex(e: Column) = col("bx") * 2 +
      when(e === 0 || e === 2, 1).when(e === 1, 2).otherwise(0)
    def ey(e: Column) = col("by") * 2 +
      when(e === 1 || e === 3, 1).when(e === 2, 2).otherwise(0)
    val a = floor(col("seg") / 4).cast("int")
    val b = (col("seg") % 4).cast("int")
    blk.select(col("bx"), col("by"), explode(array(s1, s2)).as("seg"))
      .filter(col("seg") >= 0)
      .select(col("bx"), col("by"),
        ex(a).as("x1"), ey(a).as("y1"), ex(b).as("x2"), ey(b).as("y2"))
      .orderBy("by", "bx", "x1", "y1", "x2", "y2")
  }

  private def q131Sql: String = {
    val x = "((cell_id - 1) % " + C + ")"
    val y = s"((cell_id - 1) // $C)"
    def cs(e: String, v: Int) = s"CASE WHEN $e > $IsoL THEN $v ELSE 0 END"
    def exS(e: String) = s"(bx * 2 + CASE WHEN $e IN (0, 2) THEN 1 " +
      s"WHEN $e = 1 THEN 2 ELSE 0 END)"
    def eyS(e: String) = s"(by * 2 + CASE WHEN $e IN (1, 3) THEN 1 " +
      s"WHEN $e = 2 THEN 2 ELSE 0 END)"
    s"""$cellsCte,
       |blk AS (SELECT $x AS bx, $y AS by,
       |    ${isoSql("cell_id")} AS e00, ${isoSql("cell_id + 1")} AS e10,
       |    ${isoSql(s"cell_id + $C")} AS e01,
       |    ${isoSql(s"cell_id + $C + 1")} AS e11
       |  FROM cells WHERE $x < ${C - 1} AND $y < ${spec.rows - 1}),
       |cs AS (SELECT bx, by,
       |    ${cs("e00", 1)} + ${cs("e10", 2)} + ${cs("e01", 4)}
       |      + ${cs("e11", 8)} AS idx,
       |    (e00 + e10 + e01 + e11 > ${4 * IsoL}) AS ctr
       |  FROM blk),
       |sg0 AS (SELECT bx, by,
       |    CASE idx WHEN 1 THEN 12 WHEN 2 THEN 1 WHEN 3 THEN 13
       |      WHEN 4 THEN 14 WHEN 5 THEN 2
       |      WHEN 6 THEN (CASE WHEN ctr THEN 12 ELSE 1 END)
       |      WHEN 7 THEN 6 WHEN 8 THEN 6
       |      WHEN 9 THEN (CASE WHEN ctr THEN 1 ELSE 12 END)
       |      WHEN 10 THEN 2 WHEN 11 THEN 14 WHEN 12 THEN 13
       |      WHEN 13 THEN 1 WHEN 14 THEN 12 ELSE -1 END AS s1,
       |    CASE idx WHEN 6 THEN (CASE WHEN ctr THEN 6 ELSE 14 END)
       |      WHEN 9 THEN (CASE WHEN ctr THEN 14 ELSE 6 END)
       |      ELSE -1 END AS s2
       |  FROM cs),
       |sg AS (SELECT bx, by, s1 AS seg FROM sg0 WHERE s1 >= 0
       |       UNION ALL SELECT bx, by, s2 FROM sg0 WHERE s2 >= 0)
       |SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
       |  CAST(${exS("(seg // 4)")} AS BIGINT) AS x1,
       |  CAST(${eyS("(seg // 4)")} AS BIGINT) AS y1,
       |  CAST(${exS("(seg % 4)")} AS BIGINT) AS x2,
       |  CAST(${eyS("(seg % 4)")} AS BIGINT) AS y2
       |FROM sg ORDER BY by, bx, x1, y1, x2, y2""".stripMargin
  }

  // ---- q132: DISTRIBUTED K-MEANS (engine/KMeans) — the learned
  // clustering op data-curation pipelines run over document/embedding
  // spaces (and the production shape of q52's IVF codebook fit, here as
  // a first-class operator). Scale shape: centroids live on the driver
  // (K·d longs), each Lloyd round is ONE pass over the point frame with
  // the argmin as a codegen when-chain of centroid LITERALS inside the
  // partial aggregation — K rows cross the wire per round, the points
  // never shuffle. Exactness: centroids quantize to the integer grid
  // every update (floor(sum/count), int64 both engines), distances stay
  // integer, ties break to the lowest centroid id — so the oracle,
  // which unrolls the SAME fixed rounds as chained CTEs (the q129
  // pattern: argmin via ROW_NUMBER, re-center via SUM // COUNT, empty
  // clusters keep their centroid via a COALESCE left join), agrees
  // bit-for-bit, converged or not. Fixture: 2000 points in 6 separated
  // blobs (spacing 160, jitter ±40), inits offset (-40,-40) from the
  // true centers so the rounds genuinely move; KMeansSpec proves the
  // fit equals a scalar Lloyd replica, recovers the generator's
  // clusters exactly, and has converged by the contract rounds. ------------
  private val KmN = 2000L
  private val KmK = 6
  private val KmRounds = 4
  private[queries] val KmInit: Seq[(Int, Long, Long)] =
    (0 until KmK).map(k => (k, (k % 3) * 160L + 40, (k / 3) * 160L + 40))

  private[queries] def kmPointsFixture(s: SparkSession): DataFrame = {
    val i = col("id") + 1
    val g = World.h2Col(i * 3) % KmK
    s.range(0, KmN).select(i.as("pid"),
      ((g % 3) * 160 + 80 + World.h2Col(i * 5 + 1) % 81 - 40).as("px"),
      (floor(g / 3).cast("long") * 160 + 80 +
        World.h2Col(i * 5 + 2) % 81 - 40).as("py"))
  }

  private def q132(s: SparkSession, dir: String): DataFrame = {
    val pts = kmPointsFixture(s)
    val cents = graft.engine.KMeans.fit(pts, KmInit, KmRounds)
    def coord(sel: ((Int, Long, Long)) => Long): Column =
      cents.tail.foldLeft(
        when(col("cluster") === cents.head._1, lit(sel(cents.head)))) {
        case (c, t) => c.when(col("cluster") === t._1, lit(sel(t)))
      }.cast("long")
    pts.select(col("pid").as("point_id"),
        graft.engine.KMeans.assign(cents).as("cluster"))
      .select(col("point_id"), col("cluster"),
        coord(_._2).as("cx"), coord(_._3).as("cy"))
      .orderBy("point_id")
  }

  private def q132Sql: String = {
    val rounds = (1 to KmRounds).map { r =>
      s"""d$r AS (SELECT p.pid, p.px, p.py, c.k,
         |    (p.px - c.cx) * (p.px - c.cx)
         |      + (p.py - c.cy) * (p.py - c.cy) AS d2
         |  FROM pts p CROSS JOIN c${r - 1} c),
         |a$r AS (SELECT pid, px, py, k FROM (SELECT d$r.*,
         |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, k) AS rn
         |  FROM d$r) WHERE rn = 1),
         |n$r AS (SELECT k, SUM(px) // COUNT(*) AS cx,
         |    SUM(py) // COUNT(*) AS cy
         |  FROM a$r GROUP BY k),
         |c$r AS (SELECT p.k, COALESCE(n.cx, p.cx) AS cx,
         |    COALESCE(n.cy, p.cy) AS cy
         |  FROM c${r - 1} p LEFT JOIN n$r n ON n.k = p.k)""".stripMargin
    }.mkString(",\n")
    val inits = KmInit.map { case (k, x, y) => s"($k, $x, $y)" }.mkString(", ")
    s"""WITH pts0 AS (SELECT r.range + 1 AS pid,
       |    ${h2Sql("(r.range + 1) * 3")} % $KmK AS g FROM range($KmN) r),
       |pts AS (SELECT pid,
       |    (g % 3) * 160 + 80 + ${h2Sql("pid * 5 + 1")} % 81 - 40 AS px,
       |    (g // 3) * 160 + 80 + ${h2Sql("pid * 5 + 2")} % 81 - 40 AS py
       |  FROM pts0),
       |c0(k, cx, cy) AS (VALUES $inits),
       |$rounds,
       |fd AS (SELECT p.pid, c.k,
       |    (p.px - c.cx) * (p.px - c.cx)
       |      + (p.py - c.cy) * (p.py - c.cy) AS d2
       |  FROM pts p CROSS JOIN c$KmRounds c),
       |fa AS (SELECT pid, k FROM (SELECT fd.*,
       |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, k) AS rn
       |  FROM fd) WHERE rn = 1)
       |SELECT a.pid AS point_id, CAST(a.k AS INT) AS cluster,
       |  CAST(c.cx AS BIGINT) AS cx, CAST(c.cy AS BIGINT) AS cy
       |FROM fa a JOIN c$KmRounds c ON c.k = a.k
       |ORDER BY point_id""".stripMargin
  }

  // ---- q134: CHI-SQUARED FEATURE RANKING — the filter-method feature
  // selection a pipeline runs BEFORE a model fit (the cheap screen over
  // the reference's 85 predictors; q33's CART importance is the
  // model-based twin). Per feature: bin the value, contingency-table it
  // against the training class, chi2 = sum over the DENSE bin x class
  // grid of (O*T - R*C)^2 / (R*C*T) — including O=0 cells, the textbook
  // definition. Scale shape: the only data-sized exchange is ONE
  // partial-aggregated count on (feature, bin, class) — the explode
  // multiplies rows x F but each task collapses to <= F*bins*classes
  // rows before the shuffle, and everything downstream (dense grid,
  // marginals, ranking) runs on that bounded frame, independent of the
  // input row count. Exactness: every chi2 term is floored to
  // CENTI-units with int64 `div` ((O*T-R*C)^2*100 div R*C*T, max ~2e12,
  // no overflow), so the per-feature SUM is an order-free integer sum
  // and ranks cannot drift cross-engine. Fixture: 10 features over the
  // training cells — f0 planted STRONG (class-disjoint value bands),
  // f1 planted WEAK (small per-class shift), f2-f9 pure noise;
  // Chi2Spec proves the ranking equals a scalar replica and the
  // planted features surface. ----------------------------------------------
  private val ChiF = 10

  private def chiFeat(b: Int): Column =
    if (b == 0) (col("cls") * 36 + hc(cellCol * 17) % 36) % 256
    else if (b == 1) (col("cls") * 32 + hc(cellCol * 17 + 1) % 224) % 256
    else hc(cellCol * 17 + b) % 256

  private def q134(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tr = spine(s).select(cellCol, World.trainingClassCol(cellCol).as("cls"))
      .filter(col("cls") > 0)
    val counts = tr
      .select(col("cls"),
        posexplode(array((0 until ChiF).map(chiFeat): _*)).as(Seq("f", "v")))
      .groupBy(col("f"), floor(col("v") / 32).cast("long").as("bin"),
        col("cls"))
      .agg(count(lit(1)).as("o"))
    val grid = counts.select("f", "bin").distinct()
      .join(counts.select("f", "cls").distinct(), "f")
    val dense = grid.join(counts, Seq("f", "bin", "cls"), "left")
      .select(col("f"), col("bin"), col("cls"),
        coalesce(col("o"), lit(0L)).as("o"))
    val m = dense.select(col("f"), col("o"),
      sum("o").over(Window.partitionBy("f", "bin")).as("r"),
      sum("o").over(Window.partitionBy("f", "cls")).as("c"),
      sum("o").over(Window.partitionBy("f")).as("t"))
    val chi = m
      .select(col("f"),
        ((col("o") * col("t") - col("r") * col("c")) *
          (col("o") * col("t") - col("r") * col("c")) * 100).as("num"),
        (col("r") * col("c") * col("t")).as("den"))
      .select(col("f"), expr("num DIV den").as("term"))
      .groupBy("f").agg(sum("term").as("chi2c"))
    chi.select(col("f").cast("int").as("feature"), col("chi2c"),
        row_number().over(
          Window.orderBy(col("chi2c").desc, col("f"))).as("rank"))
      .orderBy("rank")
  }

  private def q134Sql: String = {
    val fCase =
      s"""CASE f.f WHEN 0 THEN (cls * 36 + ${hSql("cell_id * 17")} % 36) % 256
         |      WHEN 1 THEN (cls * 32 + ${hSql("cell_id * 17 + 1")} % 224) % 256
         |      ELSE ${hSql("cell_id * 17 + f.f")} % 256 END""".stripMargin
    s"""$cellsCte,
       |tr AS (SELECT cell_id, ${trainSql("cell_id")} AS cls FROM cells
       |  WHERE ${trainSql("cell_id")} > 0),
       |fv AS (SELECT cls, f.f AS f, $fCase AS v
       |  FROM tr CROSS JOIN (SELECT r.range AS f FROM range($ChiF) r) f),
       |cnt AS (SELECT f, v // 32 AS bin, cls, COUNT(*) AS o
       |  FROM fv GROUP BY 1, 2, 3),
       |grid AS (SELECT b.f, b.bin, c.cls
       |  FROM (SELECT DISTINCT f, bin FROM cnt) b
       |  JOIN (SELECT DISTINCT f, cls FROM cnt) c USING (f)),
       |dense AS (SELECT g.f, g.bin, g.cls, COALESCE(cnt.o, 0) AS o
       |  FROM grid g LEFT JOIN cnt USING (f, bin, cls)),
       |m AS (SELECT f, o,
       |    SUM(o) OVER (PARTITION BY f, bin) AS r,
       |    SUM(o) OVER (PARTITION BY f, cls) AS c,
       |    SUM(o) OVER (PARTITION BY f) AS t
       |  FROM dense),
       |chi AS (SELECT f,
       |    SUM(((o * t - r * c) * (o * t - r * c) * 100) // (r * c * t))
       |      AS chi2c
       |  FROM m GROUP BY f)
       |SELECT CAST(f AS INT) AS feature, CAST(chi2c AS BIGINT) AS chi2c,
       |  CAST(ROW_NUMBER() OVER (ORDER BY chi2c DESC, f) AS INT) AS rank
       |FROM chi ORDER BY rank""".stripMargin
  }

  // ---- q135: LETTERBOX / BORDER DETECTION — the media-curation screen
  // that measures constant padding margins (encoder letterboxing,
  // scanner borders) per image so a crop or quality filter can act on
  // them. Engine: sql/BorderStats, a one-pass per-row codegen
  // expression over the REAL encoded payload — [top, bottom, left,
  // right] = runs of self-equal rows/columns from each edge, early
  // exit, value-agnostic (any pad color). ZERO shuffle beyond the
  // fixture's own encode aggregation and the output sort. The check is
  // end-to-end through the byte layout: the fixture ENCODES letterboxed
  // tiles (planted per-side pads 0-4, interior = nonlinear per-cell
  // values) via the q73-oracled Rasterize sink, the expression decodes
  // them, and the oracle re-derives the widths from the cell FORMULAS
  // by the same constant-line contract (MIN=MAX per row/col group) —
  // exact because the pixel values are dyadic k/1024 doubles that
  // survive the f32 round-trip with equality preserved both ways. NOTE
  // the interior uses nonlinear World.h2, not lossCol: the affine World
  // hash makes h(id)%16 = id mod 16, which zeroes entire global columns
  // and would fake borders (measured and documented, not guessed). ---------
  /** The letterboxed fixture tiles shared by q135 (detect) and q139
    * (crop): planted per-side pads 0-4, nonlinear-h2 interior, encoded
    * through the q73-oracled Rasterize sink. */
  private def letterboxTiles(s: SparkSession): DataFrame = {
    val tid = spec.tileOf(cellCol).cast("long")
    val r0 = spec.row0Of(cellCol) % T
    val c0 = spec.col0Of(cellCol) % T
    def pad(k: Int): Column = World.h2Col(tid * 43 + k) % 5
    val v = when(r0 < pad(1) || r0 >= lit(T) - pad(2) ||
        c0 < pad(3) || c0 >= lit(T) - pad(4), 0.0)
      .otherwise((World.h2Col(cellCol * 7 + 9) % 1024).cast("double") / 1024.0)
    graft.engine.Rasterize(spec, spine(s).select(cellCol, v.as("v")), "v")
  }

  private def q135(s: SparkSession, dir: String): DataFrame =
    letterboxTiles(s)
      .select(col("tile_id").cast("long").as("tile_id"),
        border_stats(col("bytes"), T, T).as("b"))
      .select(col("tile_id"),
        col("b")(0).as("pad_top"), col("b")(1).as("pad_bottom"),
        col("b")(2).as("pad_left"), col("b")(3).as("pad_right"))
      .orderBy("tile_id")

  private def q135Sql: String = {
    val r0 = s"((${rowSql("cell_id")} - 1) % $T)"
    val c0 = s"(((cell_id - 1) % $C) % $T)"
    val tid = tileSql("cell_id")
    def pad(k: Int) = s"(${h2Sql(s"$tid * 43 + $k")} % 5)"
    s"""$cellsCte,
       |px AS (SELECT $tid AS tile_id, $r0 AS r, $c0 AS c,
       |    CASE WHEN $r0 < ${pad(1)} OR $r0 >= $T - ${pad(2)}
       |      OR $c0 < ${pad(3)} OR $c0 >= $T - ${pad(4)} THEN 0.0
       |      ELSE (${h2Sql("cell_id * 7 + 9")} % 1024) / 1024.0 END AS v
       |  FROM cells),
       |rw AS (SELECT tile_id, r, (MIN(v) = MAX(v)) AS cst
       |  FROM px GROUP BY 1, 2),
       |cl AS (SELECT tile_id, c, (MIN(v) = MAX(v)) AS cst
       |  FROM px GROUP BY 1, 2),
       |tb AS (SELECT tile_id,
       |    COALESCE(MIN(CASE WHEN NOT cst THEN r END), $T) AS pad_top,
       |    COALESCE($T - 1 - MAX(CASE WHEN NOT cst THEN r END), $T)
       |      AS pad_bottom
       |  FROM rw GROUP BY 1),
       |lr AS (SELECT tile_id,
       |    COALESCE(MIN(CASE WHEN NOT cst THEN c END), $T) AS pad_left,
       |    COALESCE($T - 1 - MAX(CASE WHEN NOT cst THEN c END), $T)
       |      AS pad_right
       |  FROM cl GROUP BY 1)
       |SELECT tb.tile_id,
       |  CAST(pad_top AS INT) AS pad_top, CAST(pad_bottom AS INT) AS pad_bottom,
       |  CAST(pad_left AS INT) AS pad_left, CAST(pad_right AS INT) AS pad_right
       |FROM tb JOIN lr ON lr.tile_id = tb.tile_id
       |ORDER BY tb.tile_id""".stripMargin
  }

  // ---- q139: AUTOCROP — act on q135's detection (the flag/rewrite
  // pairing q70/q71 gave spans, applied to images): sql/AutoCrop strips
  // the detected constant border from band 0 and re-encodes the REAL
  // cropped payload — variable dims per image, decoded back via the
  // derived-length decode (nPixels = -1) so the check reads every
  // post-crop pixel. Crop bounds come from the SAME constant-line
  // detector as q135 (the two expressions share BorderStats.eval), so
  // the oracle can re-derive them from the planted-pad formulas —
  // q135's green row is the proof the detector equals the formulas on
  // this fixture — and emit the interior cells re-indexed to post-crop
  // row-major positions. Any off-by-one in crop bounds, re-indexing, or
  // the re-encode is a hash-red at some (tile, p). -------------------------
  private def q139(s: SparkSession, dir: String): DataFrame =
    letterboxTiles(s)
      .select(col("tile_id").cast("long").as("tile_id"),
        auto_crop(col("bytes"), T, T).as("cb"))
      .select(col("tile_id"),
        posexplode(decode_band(col("cb"), lit("f32"), -1, 0))
          .as(Seq("p", "v")))
      .select(col("tile_id"), col("p").cast("long").as("p"),
        col("v").cast("double").as("v"))
      .orderBy("tile_id", "p")

  private def q139Sql: String = {
    val r0 = s"((${rowSql("cell_id")} - 1) % $T)"
    val c0 = s"(((cell_id - 1) % $C) % $T)"
    val tid = tileSql("cell_id")
    def pad(k: Int) = s"(${h2Sql(s"$tid * 43 + $k")} % 5)"
    s"""$cellsCte,
       |px AS (SELECT $tid AS tile_id, $r0 AS r, $c0 AS c,
       |    ${pad(1)} AS pt, ${pad(2)} AS pb, ${pad(3)} AS pl, ${pad(4)} AS pr,
       |    (${h2Sql("cell_id * 7 + 9")} % 1024) / 1024.0 AS v
       |  FROM cells)
       |SELECT tile_id,
       |  CAST((r - pt) * ($T - pl - pr) + (c - pl) AS BIGINT) AS p, v
       |FROM px
       |WHERE r >= pt AND r < $T - pb AND c >= pl AND c < $T - pr
       |ORDER BY tile_id, p""".stripMargin
  }

  // ---- q140: PATCH CLUMP — connected components of 4-adjacent
  // same-class cells over a 3-class raster (the landscape-fragmentation
  // segmentation run downstream of a classified map: per-patch size
  // rows ARE the patch-size distribution). Engine side is the
  // hierarchical two-level clump (engine/Clump: per-tile union-find
  // inside one tile aggregation, then min-label propagation over the
  // perimeter-sized boundary-fragment graph — a raster's every cell has
  // same-class neighbors, so the flat Components loop would iterate the
  // full corpus; the two-level split is what survives 100 TB). The
  // class field is the q131 iso surface (terrain + cell-frequency
  // roughness) thresholded at its midpoint — hash-derived PER-CELL
  // bits are useless here: every World.h/h2 low-bit stream of a
  // sequential id is an affine walk mod 2^32, which degenerates to
  // stripes; thresholding smooth-plus-noise instead yields exactly the
  // mosaic a real classified map has (49 noise-flipped singletons, 53
  // single-tile patches, 14 border-crossers, 9 patches chaining across
  // 3+ tiles, largest patch 1621 cells — so local labeling, the
  // cross-tile merge, multi-round propagation, and the coalesce
  // re-attach are ALL exercised; ClumpSpec asserts each). The oracle
  // recomputes the SAME labels flat: a recursive min-label CTE over the
  // raw cell adjacency graph — the two-level and flat results are
  // provably identical (both label a patch with its min cell id). ---------
  private val PatchThr = IsoL + IsoAmp / 2 // 148000: ~49/43 class split
  private def patchClsCol(id: Column): Column =
    when(isoCol(id) > PatchThr, 1).otherwise(0).cast("int")
  private def patchClsSql(id: String): String =
    s"(CASE WHEN ${isoSql(id)} > $PatchThr THEN 1 ELSE 0 END)"

  private def q140(s: SparkSession, dir: String): DataFrame = {
    val cells = spine(s).select(cellCol, patchClsCol(cellCol).as("cls"))
    graft.engine.Clump.label(s, spec, cells, "q140_patch_clump")
      .groupBy("patch").agg(count(lit(1)).as("n_cells"))
      // a patch's class is its min cell's class — recomputable from the
      // patch id here because the class field is closed-form (with a
      // data-borne class the re-attach join would carry it instead)
      .select(col("patch"), patchClsCol(col("patch")).as("cls"),
        col("n_cells"))
      .orderBy("patch")
  }

  /** Shared flat-flood-fill label CTE (q140/q166 oracles): recursive
    * min-label over the raw same-class 4-adjacency graph, ending in
    * `lab(cell_id, patch)`. */
  private def clumpLabCte: String =
    s"""WITH RECURSIVE cells AS (SELECT r.range + 1 AS cell_id FROM range($N) r),
       |cl AS (SELECT cell_id, ${patchClsSql("cell_id")} AS cls FROM cells),
       |e0 AS (
       |  SELECT a.cell_id AS a, b.cell_id AS b FROM cl a JOIN cl b
       |    ON b.cell_id = a.cell_id + 1
       |    AND a.cell_id % $C <> 0 AND a.cls = b.cls
       |  UNION ALL
       |  SELECT a.cell_id, b.cell_id FROM cl a JOIN cl b
       |    ON b.cell_id = a.cell_id + $C AND a.cls = b.cls),
       |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |reach(cell_id, lbl) AS (
       |  SELECT cell_id, cell_id FROM cells
       |  UNION
       |  SELECT e.b, r.lbl FROM edges e JOIN reach r ON e.a = r.cell_id),
       |lab AS (SELECT cell_id, MIN(lbl) AS patch FROM reach GROUP BY 1)""".stripMargin

  private def q140Sql: String =
    s"""$clumpLabCte
       |SELECT patch, CAST(${patchClsSql("patch")} AS INT) AS cls,
       |  COUNT(*) AS n_cells
       |FROM lab GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q141: HILLSHADE — the standard 315-azimuth/45-altitude
  // illumination of the shared terrain DEM (ArcGIS Hillshade, the
  // visualization stage of the reference's elevation layers; rows
  // increase SOUTHWARD here, so q is the north-to-south gradient — the
  // stated operator convention). Central-difference gradients, one
  // codegen projection over the spine, ZERO data shuffle (the q126
  // shape; with a real DEM the projection reads the q93 halo patch).
  //
  // Exactness discipline — this is the corpus's one FLOAT-transcendental
  // oracle, and it is bit-exact BY IEEE SEMANTICS, not by luck:
  // elevations are integers, so p = (eE−eW)/2^14 and q = (eS−eN)/2^14
  // are EXACT dyadic doubles (18 significant bits); 0.5·p − 0.5·q is
  // exact, p·p and q·q are exact (36 bits), 1.0 + p² + q² is exact
  // (value range 2^8..2^-28 fits 53 bits); the ONLY rounded ops are
  // + cosZ, sqrt, the divide, and ×255.0 — each correctly rounded per
  // IEEE-754 in both the JVM and DuckDB, in identical expression order,
  // so the doubles match bit for bit. At azimuth 315°/altitude 45° the
  // light vector is (−1/2, 1/2, √2/2): the first two components are
  // exact dyadics, only cosZ is an irrational literal (both engines
  // parse decimal literals correctly rounded). ------------------------------
  private val CosZ45 = "0.7071067811865476"

  private def q141(s: SparkSession, dir: String): DataFrame = {
    val x = spec.col0Of(cellCol)
    val y = spec.row0Of(cellCol)
    val staged = spine(s)
      .filter(x >= 1 && x <= C - 2 && y >= 1 && y <= spec.rows - 2)
      .select(cellCol,
        ((elevCol(cellCol + 1) - elevCol(cellCol - 1)).cast("double") /
          16384.0).as("p"),
        ((elevCol(cellCol + C) - elevCol(cellCol - C)).cast("double") /
          16384.0).as("q"))
    val num = lit(0.5) * col("p") - lit(0.5) * col("q") +
      lit(CosZ45.toDouble)
    val hs = lit(255.0) * greatest(
      num / sqrt(lit(1.0) + col("p") * col("p") + col("q") * col("q")),
      lit(0.0))
    staged.select(cellCol, hs.as("hillshade")).orderBy("cell_id")
  }

  private def q141Sql: String = {
    val x = s"((cell_id - 1) % $C)"
    val y = s"((cell_id - 1) // $C)"
    s"""$cellsCte,
       |g AS (SELECT cell_id,
       |    CAST(${elevSql("cell_id + 1")} - ${elevSql("cell_id - 1")}
       |      AS DOUBLE) / 16384.0 AS p,
       |    CAST(${elevSql(s"cell_id + $C")} - ${elevSql(s"cell_id - $C")}
       |      AS DOUBLE) / 16384.0 AS q
       |  FROM cells
       |  WHERE $x BETWEEN 1 AND ${C - 2} AND $y BETWEEN 1 AND ${spec.rows - 2})
       |SELECT cell_id, 255.0 * GREATEST(
       |    (0.5 * p - 0.5 * q + $CosZ45) / SQRT(1.0 + p * p + q * q), 0.0)
       |  AS hillshade
       |FROM g ORDER BY cell_id""".stripMargin
  }

  // ---- q142: MORPHOLOGICAL OPENING — erode-then-dilate of the q140
  // class mask with the 4-neighbor cross (ArcGIS Boundary Clean /
  // despeckle family: the pass a classifier's output takes BEFORE patch
  // metrics, removing the noise-flipped singletons the q140 fixture is
  // full of while leaving patch bodies intact — opening(m) ⊆ m is the
  // defining property and ClumpSpec asserts it cell by cell). Erosion
  // treats out-of-grid as 0 (border cells erode away — the standard
  // shrink rule); dilation ORs only in-grid neighbors.
  //
  // Scale shape: the q126 staging pattern taken one ring further — the
  // mask at the 13-cell diamond is staged ONCE per row (13 inline iso
  // evaluations), erosion at self+4 neighbors reads those columns,
  // opening reads the 5 erosions: three stacked projections, ONE
  // codegen span, ZERO shuffle. With a data-borne mask the same three
  // projections read a radius-2 q93 halo patch instead. The oracle
  // can't stage columns across rows, so it mirrors the d8 shape: one
  // mask CTE, 4 guarded left self-joins for erosion, 4 more for
  // dilation — join-heavy but oracle-scale-only. --------------------------
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val x = spec.col0Of(cellCol)
    val y = spec.row0Of(cellCol)
    // the 13-cell diamond of mask values (radius-2 cross + diagonals)
    val diamond = Seq((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (2, 0),
      (-2, 0), (0, 2), (0, -2), (1, 1), (1, -1), (-1, 1), (-1, -1))
    def mc(dx: Int, dy: Int) = col(s"m_${dx + 2}_${dy + 2}")
    val staged = spine(s).select(cellCol +: x.as("x") +: y.as("y") +:
      diamond.map { case (dx, dy) =>
        patchClsCol(cellCol + dx + dy * C).as(s"m_${dx + 2}_${dy + 2}")
      }: _*)
    // erosion at offset (ox,oy): interior there, and its 5-cell cross
    // is all 1 (out-of-grid reads of the staged columns are row-wrapped
    // garbage, but the interior guard zeroes them before they matter)
    def er(ox: Int, oy: Int): Column =
      when(col("x") + ox >= 1 && col("x") + ox <= C - 2 &&
        col("y") + oy >= 1 && col("y") + oy <= spec.rows - 2 &&
        mc(ox, oy) === 1 && mc(ox + 1, oy) === 1 && mc(ox - 1, oy) === 1 &&
        mc(ox, oy + 1) === 1 && mc(ox, oy - 1) === 1, 1).otherwise(0)
    val eroded = staged.select(cellCol, col("x"), col("y"),
      mc(0, 0).as("m"), er(0, 0).as("e_c"), er(1, 0).as("e_e"),
      er(-1, 0).as("e_w"), er(0, 1).as("e_s"), er(0, -1).as("e_n"))
    eroded.select(cellCol, col("m").cast("int").as("m"),
        col("e_c").cast("int").as("er"),
        greatest(col("e_c"), col("e_e"), col("e_w"), col("e_s"),
          col("e_n")).cast("int").as("opened"))
      .orderBy("cell_id")
  }

  private def q142Sql: String = {
    val x = s"((c.cell_id - 1) % $C)"
    val y = s"((c.cell_id - 1) // $C)"
    def erJoin(a: String) = Seq(1 -> "e", -1 -> "w", C -> "s", -C -> "n")
      .map { case (d, t) =>
        s"LEFT JOIN $a $t ON $t.cell_id = c.cell_id + ${d.toString}" }
      .mkString("\n  ")
    s"""$cellsCte,
       |m AS (SELECT cell_id, ${patchClsSql("cell_id")} AS m FROM cells),
       |er AS (SELECT c.cell_id,
       |    CASE WHEN $x BETWEEN 1 AND ${C - 2}
       |      AND $y BETWEEN 1 AND ${spec.rows - 2}
       |      AND c.m = 1 AND e.m = 1 AND w.m = 1 AND s.m = 1 AND n.m = 1
       |      THEN 1 ELSE 0 END AS er
       |  FROM m c
       |  ${erJoin("m")}),
       |op AS (SELECT c.cell_id,
       |    GREATEST(c.er, COALESCE(e.er, 0), COALESCE(w.er, 0),
       |      COALESCE(s.er, 0), COALESCE(n.er, 0)) AS opened
       |  FROM er c
       |  ${erJoin("er")})
       |SELECT m.cell_id, CAST(m.m AS INT) AS m, CAST(er.er AS INT) AS er,
       |  CAST(op.opened AS INT) AS opened
       |FROM m JOIN er ON er.cell_id = m.cell_id
       |  JOIN op ON op.cell_id = m.cell_id
       |ORDER BY m.cell_id""".stripMargin
  }

  // ---- q144: BILINEAR 2x UPSAMPLE — the gather complement of q74's
  // box-average downscale (together they are an image pipeline's
  // rescale pair; this is also the raster-warp kernel at the simplest
  // affine). dst pixel (r,c) samples the source at (r/2, c/2) with
  // half-pixel bilinear weights, edge-clamped; the weights are exactly
  // {1, 1/2, 1/4} and band values are dyadic k/1024, so every output is
  // exact in f32 and the per-pixel oracle compares bit-for-bit. A REAL
  // payload flows out (Upsample2x re-encodes f32 bytes; the q74-verdict
  // lesson applied from the start: doGenCode, not a transform lambda) —
  // the decode round-trip in the query proves the bytes, like q73/q74.
  // Per-tile gather reads only that tile's payload: embarrassingly
  // parallel, zero shuffle before the presentation sort. -------------------
  private def q144(s: SparkSession, dir: String): DataFrame = {
    val n4 = 4 * T * T
    World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        upsample2x(col("bytes"), T, T).as("bytes"))
      .select(col("tile_id"),
        posexplode(decode_band(col("bytes"), lit("f32"), n4, 0))
          .as(Seq("p2", "v")))
      .select(col("tile_id"), col("p2").cast("long").as("p2"),
        col("v").cast("double").as("v"))
      .orderBy("tile_id", "p2")
  }

  private def q144Sql: String = {
    val T2 = 2 * T
    // src band-0 value at in-tile (y, x) of tile `tile`: the loss
    // formula at the global cell id (q74's source surface)
    def l(y: String, x: String) =
      lossSql(s"((tile // $TX) * $T + ($y)) * $C + (tile % $TX) * $T + ($x) + 1")
    s"""WITH t AS (SELECT range AS tile FROM range(${spec.nTiles})),
       |p AS (SELECT range AS p2 FROM range(${T2 * T2})),
       |d AS (SELECT tile, p2, p2 // $T2 AS r, p2 % $T2 AS c FROM t, p),
       |g AS (SELECT tile, p2, r // 2 AS y0, c // 2 AS x0,
       |    LEAST(r // 2 + 1, ${T - 1}) AS yc,
       |    LEAST(c // 2 + 1, ${T - 1}) AS xc, r % 2 AS fy, c % 2 AS fx
       |  FROM d)
       |SELECT tile AS tile_id, p2,
       |  CASE
       |    WHEN fy = 0 AND fx = 0 THEN ${l("y0", "x0")}
       |    WHEN fy = 0 THEN (${l("y0", "x0")} + ${l("y0", "xc")}) / 2
       |    WHEN fx = 0 THEN (${l("y0", "x0")} + ${l("yc", "x0")}) / 2
       |    ELSE (${l("y0", "x0")} + ${l("y0", "xc")} + ${l("yc", "x0")}
       |      + ${l("yc", "xc")}) / 4
       |  END AS v
       |FROM g ORDER BY tile_id, p2""".stripMargin
  }

  // ---- q145: GLCM TEXTURE — per-tile gray-level co-occurrence features
  // (Haralick contrast and energy over the horizontal-neighbor pair
  // histogram), the classic texture descriptor an image
  // quality/stratification pipeline computes per patch. The gray field
  // is the q131 iso surface quantized to 10 levels by a 2^15 shift —
  // the affine band hash is useless here (its value mod 256 is a
  // fixed-increment cycle, so every tile's pair histogram is a phase
  // shift of the same cycle and the features collapse to constants;
  // FocalSpec asserts cross-tile variation), while the terrain surface
  // gives each tile genuinely different texture. All-integer: contrast
  // = sum n_ij (i-j)^2 and energy = sum n_ij^2 — bit-exact oracle.
  //
  // Scale shape: the q36 two-level pyramid — level one groups by
  // (tile, la, lb), a fine-grained key whose partial aggregation
  // collapses each task to <= 64 rows per tile BEFORE the exchange;
  // level two reduces 64 histogram rows to one feature row per tile.
  // Both engine levels shuffle only histogram-sized frames (never
  // pixels); the pair frame itself is map-side (neighbor level is
  // closed-form here; with payload tiles the same projection reads the
  // q93 halo patch, horizontal pairs never crossing the tile). --------------
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val x = spec.col0Of(cellCol)
    val lvl = shiftright(isoCol(cellCol), 15)
    val lvlR = shiftright(isoCol(cellCol + 1), 15)
    spine(s)
      .filter(x % T < T - 1) // horizontal pair stays inside the tile
      .select(spec.tileOf(cellCol).cast("long").as("tile_id"), lvl.as("la"),
        lvlR.as("lb"))
      .groupBy("tile_id", "la", "lb").agg(count(lit(1)).as("n"))
      .groupBy("tile_id")
      .agg(sum(col("n") * (col("la") - col("lb")) * (col("la") - col("lb")))
          .as("contrast"),
        sum(col("n") * col("n")).as("energy"))
      .orderBy("tile_id")
  }

  private def q145Sql: String = {
    def lvl(id: String) = s"(${isoSql(id)} // 32768)"
    s"""$cellsCte,
       |pairs AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    ${lvl("cell_id")} AS la, ${lvl("cell_id + 1")} AS lb
       |  FROM cells WHERE ((cell_id - 1) % $C) % $T < ${T - 1}),
       |hist AS (SELECT tile_id, la, lb, COUNT(*) AS n
       |  FROM pairs GROUP BY 1, 2, 3)
       |SELECT tile_id,
       |  CAST(SUM(n * (la - lb) * (la - lb)) AS BIGINT) AS contrast,
       |  CAST(SUM(n * n) AS BIGINT) AS energy
       |FROM hist GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q146: GEOHASH — the remaining classic spatial index family
  // beside H3-lite (q20/q27), S2 (q67-q69) and the Z-order layout key
  // (q87): base-32 geohash-8 of each cell centroid (equirectangular
  // lat/lng, the q67 mapping) plus its 4-char prefix — the
  // prefix-partition key geo pipelines bucket by. INTEGER throughout:
  // the 20-bit lat/lng bisection fractions are closed-form integer
  // floor-divisions of the cell's row/col (no float ever — latb =
  // (2r+1)·2^13 exactly, lngb = (2c+1)·2^19 // 96), the 40-bit code is
  // one codegen z_interleave (lng at odd bits = geohash's
  // longitude-first MSB order), and the 8 characters are substr picks
  // off the base-32 alphabet. The oracle interleaves with a flat
  // 40-term shift/mask expression instead — independent arithmetic for
  // the same bits — and ClumpSpec anchors both against a textbook
  // BISECTION geohash (a third, loop-based algorithm). Per-row
  // projection, zero shuffle. -----------------------------------------------
  private val GhAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  /** Latitude bisection step: floor(2^20 / (2·rows)) — EXACT only when
    * 2·rows divides 2^20 (rows a power of two ≤ 2^19; true for tiny's
    * 64 and bench's 1024). Guarded loudly: on any other spec the
    * truncated constant would silently stop being a geohash while the
    * oracle (same constant) still matched. */
  private lazy val GhLatStep = {
    require((1L << 20) % (2L * spec.rows) == 0,
      s"q146 geohash needs 2*rows to divide 2^20, got rows=${spec.rows}")
    1048576L / (2 * spec.rows)
  }

  private def q146(s: SparkSession, dir: String): DataFrame = {
    val row0 = spec.row0Of(cellCol)
    val col0 = spec.col0Of(cellCol)
    // 20-bit bisection fractions: floor(frac * 2^20) with
    // frac_lat = (row0 + 0.5) / rows, frac_lng = (col0 + 0.5) / cols
    val latb = (row0 * 2 + 1) * GhLatStep
    // (2c+1)·2^19 ≈ 1e8 is exact in double and its /96 quotient's
    // fractional part is 0 or k/3 — never within an ulp of an integer
    // boundary — so floor of the correctly-rounded division equals the
    // integer floor-division the oracle uses
    val lngb = floor(((col0 * 2 + 1) * lit(524288L)).cast("double") / C)
      .cast("long")
    val z = z_interleave(latb, lngb) // lat even bits, lng odd
    val gh8 = concat((0 until 8).map { k =>
      lit(GhAlphabet).substr(
        (shiftright(z, 35 - 5 * k).bitwiseAND(lit(31L)) + 1).cast("int"),
        lit(1))
    }: _*)
    spine(s).select(cellCol, gh8.as("gh8"))
      .select(cellCol, col("gh8"), substring(col("gh8"), 1, 4).as("gh4"))
      .orderBy("cell_id")
  }

  private def q146Sql: String = {
    val latb = s"(((cell_id - 1) // $C * 2 + 1) * $GhLatStep)"
    val lngb = s"((((cell_id - 1) % $C) * 2 + 1) * 524288 // $C)"
    val z = (0 until 20).map { i =>
      s"(((latb >> $i) & 1) << ${2 * i}) + (((lngb >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    val chars = (0 until 8).map { k =>
      s"substr('$GhAlphabet', CAST(((z >> ${35 - 5 * k}) & 31) + 1 AS INT), 1)"
    }.mkString(" || ")
    s"""$cellsCte,
       |b AS (SELECT cell_id, $latb AS latb, $lngb AS lngb FROM cells),
       |g AS (SELECT cell_id, $z AS z FROM b),
       |h AS (SELECT cell_id, $chars AS gh8 FROM g)
       |SELECT cell_id, gh8, substr(gh8, 1, 4) AS gh4
       |FROM h ORDER BY cell_id""".stripMargin
  }

  // ---- q147: INTEGRAL IMAGE — per-tile summed-area table of band 0
  // (the box-filter primitive: any axis-aligned box sum over the tile
  // becomes 4 SAT lookups; the building block under blur, local mean
  // normalization, Haar-like features). Engine: ONE tile-keyed
  // aggregation (the Rasterize shape), then the Sat expression's 2-D
  // recurrence once per tile and a codegen unpack back to per-pixel
  // rows — the only Exchange is the groupBy, identical to the q93
  // family's economics. The oracle computes the SAME table by a
  // DIFFERENT algorithm: two chained window cumsums (row-wise, then
  // column-wise over the row sums) — recurrence vs prefix-sum
  // decomposition cross-check, all integer (band 0..255, SAT ≤
  // tile²·255), bit-exact. -------------------------------------------------
  private def q147(s: SparkSession, dir: String): DataFrame = {
    spine(s)
      .select(spec.tileOf(cellCol).as("tile_id"),
        spec.pixOf(cellCol).as("pix"), bandCol(cellCol, 0).as("v"))
      .groupBy("tile_id")
      .agg(sort_array(collect_list(struct(col("pix"), col("v")))).as("pv"))
      .select(col("tile_id"),
        posexplode(graft.sql.GraftFunctions
          .sat(col("pv.pix"), col("pv.v"), T)).as(Seq("p", "s")))
      .select(spec.cellOf(col("tile_id"), col("p"))
          .as("cell_id"),
        col("s").as("sat"))
      .orderBy("cell_id")
  }

  private def q147Sql: String = {
    val r = s"((${rowSql("cell_id")} - 1) % $T)"
    val c = s"(((cell_id - 1) % $C) % $T)"
    s"""$cellsCte,
       |px AS (SELECT cell_id, ${tileSql("cell_id")} AS tile_id,
       |    $r AS r, $c AS c, CAST(${bandSql("cell_id", 0)} AS BIGINT) AS v
       |  FROM cells),
       |rowcum AS (SELECT cell_id, tile_id, r, c,
       |    SUM(v) OVER (PARTITION BY tile_id, r ORDER BY c) AS rs
       |  FROM px)
       |SELECT cell_id,
       |  CAST(SUM(rs) OVER (PARTITION BY tile_id, c ORDER BY r) AS BIGINT)
       |    AS sat
       |FROM rowcum ORDER BY cell_id""".stripMargin
  }

  // ---- q148: GREEDY BOX NMS — non-max suppression over per-image box
  // proposals (the object-detection postprocess a multimodal training
  // pipeline runs before cropping regions): rank boxes by score, keep a
  // box iff its IoU with every higher-ranked KEPT box is under 0.3.
  // IoU never touches a float: the test is the cross-multiplied integer
  // inequality 10·inter >= 3·union on half-open integer boxes.
  //
  // Scale shape: NMS is inherently sequential PER IMAGE but
  // embarrassingly parallel ACROSS images — exactly the ClumpLocal
  // economics: one tile-keyed aggregation, one GreedyNms expression
  // call per image over its (rank-sorted in the agg) proposal list, a
  // codegen unzip back to rows. Proposal counts are hundreds per image,
  // never corpus-sized, so the O(kept·n) loop is a constant per image.
  // The oracle unrolls the SAME greedy over the fixture's fixed 6 boxes
  // as a cascade of chained CTEs (k2 sees k1, k3 sees k1/k2, ...) — a
  // different formulation of the same recurrence, bit-exact. The
  // fixture yields 13 suppressions across 9 of the 24 images
  // (spec-asserted), with rank ties broken by box index in both
  // engines. ------------------------------------------------------------------
  private val NmsBoxes = 6

  private def q148(s: SparkSession, dir: String): DataFrame = {
    val t = floor(col("id") / NmsBoxes).cast("long")
    val b = col("id") % NmsBoxes
    def f(o: Int) = World.h2Col(t * 101 + b * 7 + o)
    val boxes = s.range(0, spec.nTiles.toLong * NmsBoxes).select(
      t.as("tile_id"), b.as("b"),
      (f(1) % 48).as("x1"), (f(2) % 48).as("y1"),
      (f(3) % 12 + 4).as("w"), (f(4) % 12 + 4).as("h"),
      (f(5) % 1000).as("score"))
    val packed = col("x1") * 16777216L + col("y1") * 65536L +
      col("w") * 256L + col("h")
    boxes
      .select(col("tile_id"), struct((lit(999) - col("score")).as("inv"),
        col("b"), packed.as("pk"), col("score")).as("bx"))
      .groupBy("tile_id")
      .agg(sort_array(collect_list(col("bx"))).as("sa")) // score desc, b asc
      .select(col("tile_id"), col("sa"),
        greedy_nms(col("sa.pk"), 3, 10).as("k"))
      .select(col("tile_id"), explode(arrays_zip(col("sa"), col("k"))).as("z"))
      .select(col("tile_id"), col("z.sa.b").cast("int").as("b"),
        col("z.sa.score").as("score"), col("z.k").cast("int").as("kept"))
      .orderBy("tile_id", "b")
  }

  private def q148Sql: String = {
    val n = NmsBoxes
    def f(o: Int) = h2Sql(s"t.range * 101 + b.range * 7 + $o")
    // per-rank pivot columns: coords, area, identity
    val pivot = (1 to n).flatMap { k =>
      Seq(s"MAX(CASE WHEN rn = $k THEN x1 END) AS x1_$k",
        s"MAX(CASE WHEN rn = $k THEN y1 END) AS y1_$k",
        s"MAX(CASE WHEN rn = $k THEN x1 + w END) AS x2_$k",
        s"MAX(CASE WHEN rn = $k THEN y1 + h END) AS y2_$k",
        s"MAX(CASE WHEN rn = $k THEN w * h END) AS ar_$k",
        s"MAX(CASE WHEN rn = $k THEN b END) AS b_$k",
        s"MAX(CASE WHEN rn = $k THEN score END) AS score_$k")
    }.mkString(",\n    ")
    def inter(i: Int, j: Int) =
      s"(GREATEST(0, LEAST(x2_$i, x2_$j) - GREATEST(x1_$i, x1_$j)) * " +
        s"GREATEST(0, LEAST(y2_$i, y2_$j) - GREATEST(y1_$i, y1_$j)))"
    def sup(i: Int, j: Int) =
      s"(10 * ${inter(i, j)} >= 3 * (ar_$i + ar_$j - ${inter(i, j)}))"
    val cascade = (2 to n).map { i =>
      val cond = (1 until i).map(j => s"(NOT k$j OR NOT ${sup(i, j)})")
        .mkString(" AND ")
      s"k$i AS (SELECT *, ($cond) AS k$i FROM k${i - 1})"
    }.mkString(",\n")
    val unpivot = (1 to n).map { k =>
      s"SELECT tile_id, CAST(b_$k AS INT) AS b, score_$k AS score, " +
        s"CAST(k$k AS INT) AS kept FROM k$n"
    }.mkString("\nUNION ALL\n")
    s"""WITH b0 AS (SELECT t.range AS tile_id, b.range AS b,
       |    ${f(1)} % 48 AS x1, ${f(2)} % 48 AS y1,
       |    ${f(3)} % 12 + 4 AS w, ${f(4)} % 12 + 4 AS h,
       |    ${f(5)} % 1000 AS score
       |  FROM range(${spec.nTiles}) t, range($n) b),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tile_id
       |    ORDER BY score DESC, b) AS rn FROM b0),
       |w AS (SELECT tile_id,
       |    $pivot
       |  FROM r GROUP BY 1),
       |k1 AS (SELECT *, TRUE AS k1 FROM w),
       |$cascade
       |$unpivot
       |ORDER BY tile_id, b""".stripMargin
  }

  // ---- q149: GEOJSON POLYGON SCAN — the q65 fixture (lake + two-island
  // archipelago + overlapping rectangle) carried through the THIRD
  // vector boundary format (sources/GeoJson: RFC 7946 FeatureCollection,
  // recursive-descent parser, closed rings, region_id property). Rows
  // must equal q65's exactly — if the parser mangled a ring, dropped
  // the closing-vertex rule, or lost a hole, the PIP counts change and
  // the driver goes red; the oracle is the SAME edge-list CTE as q65's
  // because the layer SEMANTICS are identical and only the transport
  // differs (that is the point of a source-format test). ------------------
  private lazy val geojsonFixture: String = {
    val dir = graft.util.TempDirs.create("graft_geojson_q149")
    java.nio.file.Files.writeString(dir.resolve("regions.geojson"),
      graft.sources.GeoJson.encode(holedPolys))
    s"$dir/regions.geojson"
  }

  private def q149(s: SparkSession, dir: String): DataFrame = {
    val polys = graft.sources.Ingest.geojsonPolygons(s, geojsonFixture)
    regionSpine(s, polys)
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_cells"), min("cell_id").as("min_cell"),
        max("cell_id").as("max_cell"))
      .orderBy("region_id")
  }

  private def q149Sql =
    s"""$cellsCte,
       |${pipCteFor(edgesValuesOf(holedPolys))}
       |SELECT region_id, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       |  MAX(cell_id) AS max_cell
       |FROM region_of GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q150: GLOBAL MORAN'S I — the classic spatial-autocorrelation
  // statistic (the first question an analyst asks of a loss/driver map:
  // is the pattern clustered or random?) over band 1 with queen
  // contiguity, i.e. exactly the 8-neighbor weights the q93 stencil
  // already materializes. Fourth rider on the haloPatches exchange:
  //   I = n/S0 · Σᵢ(vᵢ−m)(Sᵢ−nᵢm) / Σᵢ(vᵢ−m)²
  // needs only per-cell (v, neighbor-sum Sᵢ, neighbor-count nᵢ) — the
  // focal pass — and the cross terms EXPAND INTO 7 GLOBAL INTEGER
  // MOMENTS (n, Σv, Σv², ΣS, ΣvS, Σn, Σvn), so the whole statistic is
  // two Exchanges total (the halo scatter + a scalar aggregate) and
  // never materializes a deviation column or a second pass for the
  // mean. The center value v is re-derived from the id by the same
  // decode formula (one codegen hash, no data motion; Focal3x3's packed
  // word carries sum+count but not the center alone). Everything stays
  // BIGINT until the final division: the output pins the exact
  // n²-scaled numerator and denominator (≤ ~2e17, inside BIGINT; DuckDB
  // sums in HUGEINT and casts back) so the driver compare is integer-
  // exact, with the double ratio beside them computed by the identical
  // (a·b)/(c·d) IEEE sequence in both engines. On hash-random band
  // values I ≈ −1/(n−1): the magnitude is not interesting, the pinned
  // arithmetic is. ---------------------------------------------------------
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val focal = haloPatches(s, spec)
      .select(col("dest_tile"),
        posexplode(focal3x3(col("pv.pos"), col("pv.v"), T)).as(Seq("p", "f")))
      .filter(col("f") >= 0)
      .select(spec.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        shiftright(col("f"), 5).as("fsum"),
        (shiftright(col("f"), 1).bitwiseAND(lit(15L)) - 1).as("nn"))
      .select(col("nn"),
        bandCol(col("cell_id"), 1).cast("long").as("v"),
        col("fsum"))
      .select(col("v"), col("nn"), (col("fsum") - col("v")).as("sn"))
    focal
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("svv"), sum("sn").as("ssn"),
        sum(col("v") * col("sn")).as("svsn"), sum("nn").as("s0"),
        sum(col("v") * col("nn")).as("svnn"))
      .select(col("n"), col("s0"),
        (col("n") * col("n") * col("svsn")
          - col("n") * col("sv") * col("ssn")
          - col("n") * col("sv") * col("svnn")
          + col("sv") * col("sv") * col("s0")).as("num_scaled"),
        (col("n") * col("n") * col("svv")
          - col("n") * col("sv") * col("sv")).as("den_scaled"))
      .select(col("n"), col("s0"), col("num_scaled"), col("den_scaled"),
        (col("n").cast("double") * col("num_scaled").cast("double") /
          (col("s0").cast("double") * col("den_scaled").cast("double")))
          .as("moran_i"))
  }

  /** Oracle: the focal terms straight from the band formula (q93's
    * in-grid guards), then the same 7-moment expansion. DuckDB's
    * BIGINT sums widen to HUGEINT, so the scaled products are exact
    * there too; both sides cast to BIGINT/DOUBLE at the very end. */
  private def q150Sql: String = {
    val (sn, nn) = queenSumCntSql
    val bandTerm = (dy: Int, dx: Int) => nbrBandSql(dy, dx)
    val num = "n*n*svsn - n*sv*ssn - n*sv*svnn + sv*sv*s0"
    val den = "n*n*svv - n*sv*sv"
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |f AS (SELECT ${bandTerm(0, 0)} AS v, $sn AS sn,
       |    CAST($nn AS BIGINT) AS nn FROM pts),
       |mom AS (SELECT COUNT(*) AS n, SUM(v) AS sv, SUM(v*v) AS svv,
       |    SUM(sn) AS ssn, SUM(v*sn) AS svsn, SUM(nn) AS s0,
       |    SUM(v*nn) AS svnn FROM f)
       |SELECT CAST(n AS BIGINT) AS n, CAST(s0 AS BIGINT) AS s0,
       |  CAST($num AS BIGINT) AS num_scaled,
       |  CAST($den AS BIGINT) AS den_scaled,
       |  (CAST(n AS DOUBLE) * CAST($num AS DOUBLE)) /
       |  (CAST(s0 AS DOUBLE) * CAST($den AS DOUBLE)) AS moran_i
       |FROM mom""".stripMargin
  }

  // ---- q151: TEMPLATE MATCHING — the cross-correlation primitive under
  // registration, chip search, and cloud-mask alignment: slide a fixed
  // 4×4 zero-mean template over every tile of band 0 and report the
  // best-scoring position per tile (first-max on ties, W1's rule). The
  // template is integer (16·t − Σt keeps zero-mean WITHOUT a float
  // mean), so scores are exact BIGINTs.
  //
  // Scale shape: NOT the patch-assembly route — correlation is a
  // SCATTER: each pixel contributes to the ≤16 positions whose window
  // covers it, so explode(16 kernel offsets) → groupBy (tile, pos)
  // partial-aggregates map-side and the only Exchange carries ~169
  // score rows per tile, independent of template size beyond the
  // fan-out factor. A second tiny agg takes the per-tile argmax via one
  // lexicographic struct max (score, −pos). The oracle regenerates the
  // template from the same hash chain (no shared literal) and takes the
  // argmax by a window rank — different algorithm, same integers. ----------
  private val TmplN = 4
  private val TmplS = T - TmplN + 1 // 13 valid positions per axis
  private val tmplVals: Seq[Long] =
    (0 until TmplN * TmplN).map(k => World.h2(k * 29 + 11) % 16)

  private def q151(s: SparkSession, dir: String): DataFrame = {
    val tsum = tmplVals.sum
    val ws = tmplVals.map(t => 16 * t - tsum)
    val k = col("k")
    val px = spine(s).select(
      spec.tileOf(cellCol).cast("long").as("tile_id"),
      (spec.row0Of(cellCol) % T).cast("int").as("rr"),
      (spec.col0Of(cellCol) % T).cast("int").as("cc"),
      bandCol(cellCol, 0).cast("long").as("v"))
    px
      .select(col("tile_id"), col("rr"), col("cc"), col("v"),
        explode(array((0 until TmplN * TmplN).map(i => lit(i)): _*)).as("k"))
      .select(col("tile_id"),
        (col("rr") - floor(k / TmplN).cast("int")).as("pr"),
        (col("cc") - k % TmplN).as("pc"),
        (element_at(array(ws.map(lit): _*), k + 1) * col("v")).as("c"))
      .filter(col("pr") >= 0 && col("pr") < TmplS &&
        col("pc") >= 0 && col("pc") < TmplS)
      .groupBy(col("tile_id"),
        (col("pr") * TmplS + col("pc")).as("pos"))
      .agg(sum("c").as("score"))
      .groupBy("tile_id")
      .agg(max(struct(col("score"), (-col("pos")).as("npos"))).as("b"))
      .select(col("tile_id"), col("b.score").as("best_score"),
        floor((-col("b.npos")) / TmplS).cast("long").as("best_y"),
        (-col("b.npos") % TmplS).cast("long").as("best_x"))
      .orderBy("tile_id")
  }

  private def q151Sql: String = {
    val n2 = TmplN * TmplN
    s"""$cellsCte,
       |tmpl AS (SELECT k.range AS k,
       |    ${h2Sql("k.range * 29 + 11")} % 16 AS t FROM range($n2) k),
       |tw AS (SELECT k // $TmplN AS di, k % $TmplN AS dj,
       |    16 * t - (SELECT SUM(t) FROM tmpl) AS w FROM tmpl),
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    ((cell_id - 1) // $C) % $T AS rr,
       |    ((cell_id - 1) % $C) % $T AS cc,
       |    CAST(${bandSql("cell_id", 0)} AS BIGINT) AS v FROM cells),
       |sc AS (SELECT tile_id, (rr - di) * $TmplS + (cc - dj) AS pos,
       |    SUM(w * v) AS score
       |  FROM px, tw
       |  WHERE rr - di BETWEEN 0 AND ${TmplS - 1}
       |    AND cc - dj BETWEEN 0 AND ${TmplS - 1}
       |  GROUP BY 1, 2),
       |r AS (SELECT tile_id, score, pos, ROW_NUMBER() OVER (
       |    PARTITION BY tile_id ORDER BY score DESC, pos) AS rn FROM sc)
       |SELECT tile_id, CAST(score AS BIGINT) AS best_score,
       |  CAST(pos // $TmplS AS BIGINT) AS best_y,
       |  CAST(pos % $TmplS AS BIGINT) AS best_x
       |FROM r WHERE rn = 1 ORDER BY tile_id""".stripMargin
  }

  // ---- q152: LOCAL MORAN (LISA) — q150's global statistic broken out
  // per cell, the map an analyst actually draws: which cells sit in
  // high-high / low-low clusters vs high-low outliers (Anselin's LISA
  // quadrants). Same queen weights, same halo exchange; the per-cell
  // statistic lᵢ ∝ (vᵢ−m)·Σⱼwᵢⱼ(vⱼ−m) is pinned EXACTLY by scaling both
  // deviation factors by n: f1 = n·vᵢ−Σv, f2 = n·Sᵢ−nᵢ·Σv (≤ ~1.6e6 and
  // ~1.3e7 here; f1·f2 ≤ 2e13, inside BIGINT). The global (n, Σv) is a
  // zero-shuffle scalar aggregate over the spine, broadcast into the
  // focal frame — at 100 TB that is one scan reduced to 16 bytes, and
  // the per-cell pass stays the one halo Exchange. Quadrant labels are
  // sign tests on the exact integers, so the driver compare never
  // touches a float. --------------------------------------------------------
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val glob = spine(s).agg(
      count(lit(1)).as("n"),
      sum(bandCol(cellCol, 1).cast("long")).as("sv"))
    val focal = haloPatches(s, spec)
      .select(col("dest_tile"),
        posexplode(focal3x3(col("pv.pos"), col("pv.v"), T)).as(Seq("p", "f")))
      .filter(col("f") >= 0)
      .select(spec.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        shiftright(col("f"), 5).as("fsum"),
        (shiftright(col("f"), 1).bitwiseAND(lit(15L)) - 1).as("nn"))
      .select(col("cell_id"),
        bandCol(col("cell_id"), 1).cast("long").as("v"),
        (col("fsum") - bandCol(col("cell_id"), 1).cast("long")).as("sn"),
        col("nn"))
    focal.crossJoin(broadcast(glob))
      .select(col("cell_id"),
        (col("n") * col("v") - col("sv")).as("f1"),
        (col("n") * col("sn") - col("nn") * col("sv")).as("f2"))
      .select(col("cell_id"),
        (col("f1") * col("f2")).as("local_scaled"),
        when(col("f1") > 0 && col("f2") > 0, "HH")
          .when(col("f1") < 0 && col("f2") < 0, "LL")
          .when(col("f1") > 0 && col("f2") < 0, "HL")
          .when(col("f1") < 0 && col("f2") > 0, "LH")
          .otherwise("NS").as("quad"))
      .orderBy("cell_id")
  }

  /** Oracle: q150's focal CTE kept per-cell, the scalar moments joined
    * back, the same sign CASE. DuckDB's HUGEINT sums cast back to
    * BIGINT at the end. */
  private def q152Sql: String = {
    val (sn, nn) = queenSumCntSql
    val bandTerm = (dy: Int, dx: Int) => nbrBandSql(dy, dx)
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |f AS (SELECT cell_id, ${bandTerm(0, 0)} AS v, $sn AS sn,
       |    CAST($nn AS BIGINT) AS nn FROM pts),
       |g AS (SELECT COUNT(*) AS n, SUM(v) AS sv FROM f),
       |d AS (SELECT cell_id, n * v - sv AS f1, n * sn - nn * sv AS f2
       |  FROM f, g)
       |SELECT cell_id, CAST(f1 * f2 AS BIGINT) AS local_scaled,
       |  CASE WHEN f1 > 0 AND f2 > 0 THEN 'HH'
       |       WHEN f1 < 0 AND f2 < 0 THEN 'LL'
       |       WHEN f1 > 0 AND f2 < 0 THEN 'HL'
       |       WHEN f1 < 0 AND f2 > 0 THEN 'LH'
       |       ELSE 'NS' END AS quad
       |FROM d ORDER BY cell_id""".stripMargin
  }

  // ---- q153: OTSU THRESHOLD per tile — the standard automatic
  // binarization (cloud/water/shadow masking on decoded imagery):
  // the level t maximizing between-class variance of the tile's
  // histogram. Per tile with totals (n, S) and cumulatives (c(t),
  // s(t)), σ²_B(t) ∝ a²/(c·(n−c)) with a = S·c − n·s — all integers
  // (a ≤ 1.7e7, a² ≤ 2.8e14 here), so both engines compute the score by
  // the identical CAST(a·a)/CAST(c·(n−c)) IEEE divide and the argmax
  // (ties → SMALLER level, W1's first-max rule) is deterministic; the
  // winner's exact a² and c·(n−c) are pinned beside it. Only levels
  // PRESENT in the tile appear as candidates — σ²_B is constant across
  // a gap and first-max picks the gap's lower edge, so the restriction
  // is exact, not an approximation. Scale shape: decode → groupBy
  // (tile, level) partial-aggregates map-side to ≤256 rows per tile,
  // the cumulative window repartitions by tile only (~256 rows each),
  // and the argmax is one struct max — nothing downstream of the
  // histogram is proportional to pixels. ------------------------------------
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val px = World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        posexplode(decode_band(col("bytes"), col("fmt"), spec.pixPerTile, 1))
          .as(Seq("p", "v")))
      .filter(spec.inGridAt(col("tile_id"), col("p")))
      .select(col("tile_id"), col("v").cast("long").as("lvl"))
    val w = Window.partitionBy("tile_id").orderBy("lvl")
    val wAll = Window.partitionBy("tile_id")
    px.groupBy("tile_id", "lvl").agg(count(lit(1)).as("cnt"))
      .withColumn("c", sum("cnt").over(w))
      .withColumn("s", sum(col("lvl") * col("cnt")).over(w))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("tot", sum(col("lvl") * col("cnt")).over(wAll))
      .filter(col("c") < col("n")) // both classes non-empty
      .select(col("tile_id"), col("lvl"),
        ((col("tot") * col("c") - col("n") * col("s")) *
          (col("tot") * col("c") - col("n") * col("s"))).as("num"),
        (col("c") * (col("n") - col("c"))).as("den"))
      .select(col("tile_id"), col("lvl"), col("num"), col("den"),
        (col("num").cast("double") / col("den").cast("double")).as("score"))
      .groupBy("tile_id")
      .agg(max(struct(col("score"), (-col("lvl")).as("nl"),
        col("num"), col("den"))).as("b"))
      .select(col("tile_id"), (-col("b.nl")).as("otsu_t"),
        col("b.num").as("num_scaled"), col("b.den").as("den_scaled"),
        col("b.score").as("score"))
      .orderBy("tile_id")
  }

  /** Oracle: the same histogram/cumulative/score pipeline in window
    * SQL, argmax by a window rank — different argmax algorithm, same
    * integers and the same IEEE divide. */
  private def q153Sql: String =
    s"""$cellsCte,
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    CAST(${bandSql("cell_id", 1)} AS BIGINT) AS lvl FROM cells),
       |hist AS (SELECT tile_id, lvl, COUNT(*) AS cnt FROM px GROUP BY 1, 2),
       |cum AS (SELECT tile_id, lvl,
       |    SUM(cnt) OVER (PARTITION BY tile_id ORDER BY lvl) AS c,
       |    SUM(lvl * cnt) OVER (PARTITION BY tile_id ORDER BY lvl) AS s,
       |    SUM(cnt) OVER (PARTITION BY tile_id) AS n,
       |    SUM(lvl * cnt) OVER (PARTITION BY tile_id) AS tot
       |  FROM hist),
       |sc AS (SELECT tile_id, lvl,
       |    (tot * c - n * s) * (tot * c - n * s) AS num, c * (n - c) AS den,
       |    CAST((tot * c - n * s) * (tot * c - n * s) AS DOUBLE) /
       |      CAST(c * (n - c) AS DOUBLE) AS score
       |  FROM cum WHERE c < n),
       |r AS (SELECT tile_id, lvl, num, den, score, ROW_NUMBER() OVER (
       |    PARTITION BY tile_id ORDER BY score DESC, lvl) AS rn FROM sc)
       |SELECT tile_id, CAST(lvl AS BIGINT) AS otsu_t,
       |  CAST(num AS BIGINT) AS num_scaled, CAST(den AS BIGINT) AS den_scaled,
       |  score
       |FROM r WHERE rn = 1 ORDER BY tile_id""".stripMargin

  // ---- q154: DIRECTIONAL SEMIVARIOGRAM — the geostatistics primitive
  // under kriging and spatial-scale diagnosis: γ(h) = Σ(vᵢ−vⱼ)²/(2N(h))
  // over cell pairs at lag h along each grid axis, h = 1..4. Scale
  // shape: one Exchange per axis — repartition by row (resp. column)
  // and take the four lags with `lead` over the ordered line, so every
  // pair is formed exactly once inside a partition and the aggregate is
  // map-side partial. On a real raster the line count (millions of
  // rows/columns) dwarfs the executor count, so the window partitioning
  // is not a skew risk; no stage materializes the O(n·h) pair frame
  // beyond the projection feeding the aggregate. Numerator stays BIGINT
  // (Σd² ≤ n·255² ≈ 4e8 here); γ is the one IEEE divide at the end. ---------
  private def q154(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val H = 4
    val px = spine(s).select(
      spec.row0Of(cellCol).as("r0"), spec.col0Of(cellCol).as("c0"),
      bandCol(cellCol, 1).cast("long").as("v"))
    def lags(w: WindowSpec, axis: String): DataFrame =
      px.select(col("v") +:
          (1 to H).map(h => lead("v", h).over(w).as(s"v$h")): _*)
        .select(explode(array((1 to H).map { h =>
          struct(lit(axis).as("axis"), lit(h.toLong).as("h"),
            when(col(s"v$h").isNotNull,
              (col("v") - col(s"v$h")) * (col("v") - col(s"v$h")))
              .as("d2"))
        }: _*)).as("e"))
        .select(col("e.axis").as("axis"), col("e.h").as("h"),
          col("e.d2").as("d2"))
        .filter(col("d2").isNotNull)
    lags(Window.partitionBy("r0").orderBy("c0"), "x")
      .unionAll(lags(Window.partitionBy("c0").orderBy("r0"), "y"))
      .groupBy("axis", "h")
      .agg(count(lit(1)).as("npairs"), sum("d2").as("sse"))
      .withColumn("gamma",
        col("sse").cast("double") / (lit(2.0) * col("npairs").cast("double")))
      .orderBy("axis", "h")
  }

  /** Oracle: pairs formed closed-form from the band formula (neighbor
    * id = cell_id + h along x, + h·C along y), guarded in-grid — a
    * different pairing algorithm than the engine's windowed lead, same
    * exact integers. */
  private def q154Sql: String =
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0,
       |    CAST(${bandSql("cell_id", 1)} AS BIGINT) AS v FROM cells),
       |lagset AS (SELECT h.range + 1 AS h FROM range(4) h),
       |pairs AS (
       |  SELECT 'x' AS axis, l.h AS h,
       |    (p.v - CAST(${bandSql("p.cell_id + l.h", 1)} AS BIGINT)) AS d
       |  FROM pts p, lagset l WHERE p.c0 + l.h < $C
       |  UNION ALL
       |  SELECT 'y', l.h,
       |    (p.v - CAST(${bandSql(s"p.cell_id + l.h * $C", 1)} AS BIGINT))
       |  FROM pts p, lagset l WHERE p.r0 + l.h < ${spec.rows})
       |SELECT axis, CAST(h AS BIGINT) AS h,
       |  CAST(COUNT(*) AS BIGINT) AS npairs,
       |  CAST(SUM(d * d) AS BIGINT) AS sse,
       |  CAST(SUM(d * d) AS DOUBLE) / (2.0 * CAST(COUNT(*) AS DOUBLE))
       |    AS gamma
       |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q156: HARRIS CORNERS — the interest-point detector under chip
  // registration and keypoint extraction: Sobel gradients, the 3x3
  // structure tensor (Sxx, Syy, Sxy), response R = det − 0.05·tr²,
  // best response per tile (ties → first position, W1). Two stencil
  // radii compose into a 5x5 support, so this is the first PAD-2 rider
  // on the generalized halo exchange: still ONE shuffle keyed by
  // destination tile, volume pixels × ~(1+4/T)², and the whole
  // gradient→tensor→response chain runs inside one codegen expression
  // (Harris5x5) over the assembled patch — gradients at tile borders
  // use the halo, never a second exchange. R is kept as the EXACT
  // scaled integer R20 = 20·det − tr² (k = 0.05), |R20| ≤ ~2.1e15, so
  // the argmax and the driver compare never touch a float. Pixels
  // whose 5x5 world support is incomplete are excluded (the standard
  // interior rule, q98's edge discipline squared). --------------------------
  private def q156(s: SparkSession, dir: String): DataFrame =
    harrisHalo(s, spec)

  private[graft] def harrisHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp, 2)
      .select(col("dest_tile"),
        posexplode(harris5x5(col("pv.pos"), col("pv.v"), sp.tile))
          .as(Seq("p", "r20")))
      .filter(col("r20") =!= Long.MinValue) // incomplete 5x5 support
      .groupBy(col("dest_tile").as("tile_id"))
      .agg(max(struct(col("r20"), (-col("p")).as("np"))).as("b"))
      .select(col("tile_id"), col("b.r20").as("best_r20"),
        floor((-col("b.np")) / sp.tile).cast("long").as("best_y"),
        (-col("b.np") % sp.tile).cast("long").as("best_x"))
      .orderBy("tile_id")

  /** Oracle: gradients per cell straight from the band formula on the
    * pad-1 interior, the tensor via a 3x3 range self-join (m = 9 keeps
    * exactly the cells with full 5x5 world support), argmax by window
    * rank — different assembly than the engine's patch walk, same
    * exact integers. */
  private def q156Sql: String = {
    val (gx, gy) = sobelGxGySql
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |grad AS (SELECT r0, c0, $gx AS gx, $gy AS gy FROM pts
       |  WHERE r0 BETWEEN 1 AND ${spec.rows - 2}
       |    AND c0 BETWEEN 1 AND ${C - 2}),
       |win AS (SELECT p.r0 AS r0, p.c0 AS c0,
       |    SUM(g.gx * g.gx) AS sxx, SUM(g.gy * g.gy) AS syy,
       |    SUM(g.gx * g.gy) AS sxy, COUNT(*) AS m
       |  FROM grad p JOIN grad g
       |    ON g.r0 BETWEEN p.r0 - 1 AND p.r0 + 1
       |    AND g.c0 BETWEEN p.c0 - 1 AND p.c0 + 1
       |  GROUP BY 1, 2),
       |har AS (SELECT r0, c0,
       |    20 * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy) AS r20
       |  FROM win WHERE m = 9),
       |pos AS (SELECT CAST(FLOOR(r0 / $T) * $TX + FLOOR(c0 / $T) AS BIGINT)
       |    AS tile_id, (r0 % $T) * $T + (c0 % $T) AS p, r20 FROM har),
       |r AS (SELECT tile_id, r20, p, ROW_NUMBER() OVER (
       |    PARTITION BY tile_id ORDER BY r20 DESC, p) AS rn FROM pos)
       |SELECT tile_id, CAST(r20 AS BIGINT) AS best_r20,
       |  CAST(p // $T AS BIGINT) AS best_y, CAST(p % $T AS BIGINT) AS best_x
       |FROM r WHERE rn = 1 ORDER BY tile_id""".stripMargin
  }

  // ---- q157: GEARY'S C — the contiguity-based companion to q150's
  // Moran (sensitive to local differences where Moran is to covariance):
  // C = (n−1)·Σᵢⱼwᵢⱼ(vᵢ−vⱼ)² / (2·S0·Σᵢ(vᵢ−m)²), queen weights. The
  // numerator needs each adjacent pair's squared DIFFERENCE, which the
  // focal sum cannot carry — so the pair frame is built the q154 way,
  // one `lead` window pass per adjacency direction: rows (x), columns
  // (y), diagonals (partition r0−c0) and anti-diagonals (partition
  // r0+c0) — each unordered queen pair formed exactly once, four
  // line-keyed Exchanges, map-side partial aggregation to a scalar.
  // The denominator moment n·Σv²−(Σv)² is a zero-shuffle scalar over
  // the spine. Everything stays BIGINT ((n−1)·ssd ≤ ~1e13); the single
  // IEEE expression (a·n)/(s0·d) at the end is identical in both
  // engines. On hash-random values C ≈ 1 (no autocorrelation) — the
  // pinned arithmetic is the point, as in q150. ----------------------------
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val px = spine(s).select(
      spec.row0Of(cellCol).as("r0"), spec.col0Of(cellCol).as("c0"),
      bandCol(cellCol, 1).cast("long").as("v"))
    def pass(w: WindowSpec): DataFrame =
      px.select((col("v") - lead("v", 1).over(w)).as("d"))
        .filter(col("d").isNotNull)
        .select((col("d") * col("d")).as("d2"))
    val pairs = pass(Window.partitionBy("r0").orderBy("c0"))
      .unionAll(pass(Window.partitionBy("c0").orderBy("r0")))
      .unionAll(pass(Window.partitionBy(col("r0") - col("c0")).orderBy("r0")))
      .unionAll(pass(Window.partitionBy(col("r0") + col("c0")).orderBy("r0")))
      .agg(count(lit(1)).as("npairs"), sum("d2").as("ssd"))
    val glob = spine(s).agg(count(lit(1)).as("n"),
      sum(bandCol(cellCol, 1).cast("long")).as("sv"),
      sum(bandCol(cellCol, 1).cast("long") *
        bandCol(cellCol, 1).cast("long")).as("svv"))
    pairs.crossJoin(broadcast(glob))
      .select(col("n"), (col("npairs") * 2).as("s0"), col("ssd"),
        (col("n") * col("svv") - col("sv") * col("sv")).as("den_n"))
      .select(col("n"), col("s0"), col("ssd"), col("den_n"),
        (((col("n") - 1) * col("ssd")).cast("double") *
          col("n").cast("double") /
          (col("s0").cast("double") * col("den_n").cast("double")))
          .as("geary_c"))
  }

  /** Oracle: the four unordered adjacency directions formed closed-form
    * from the band formula (neighbor ids +1, +C, +C+1, +C−1, guarded
    * in-grid), then the same moment algebra. */
  private def q157Sql: String = {
    def vS(id: String) = s"CAST(${bandSql(id, 1)} AS BIGINT)"
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0,
       |    ${vS("cell_id")} AS v FROM cells),
       |pairs AS (
       |  SELECT v - ${vS("cell_id + 1")} AS d FROM pts WHERE c0 + 1 < $C
       |  UNION ALL
       |  SELECT v - ${vS(s"cell_id + $C")} FROM pts
       |    WHERE r0 + 1 < ${spec.rows}
       |  UNION ALL
       |  SELECT v - ${vS(s"cell_id + $C + 1")} FROM pts
       |    WHERE r0 + 1 < ${spec.rows} AND c0 + 1 < $C
       |  UNION ALL
       |  SELECT v - ${vS(s"cell_id + $C - 1")} FROM pts
       |    WHERE r0 + 1 < ${spec.rows} AND c0 - 1 >= 0),
       |pa AS (SELECT COUNT(*) AS npairs, SUM(d * d) AS ssd FROM pairs),
       |g AS (SELECT COUNT(*) AS n, SUM(v) AS sv, SUM(v * v) AS svv FROM pts)
       |SELECT CAST(n AS BIGINT) AS n, CAST(npairs * 2 AS BIGINT) AS s0,
       |  CAST(ssd AS BIGINT) AS ssd,
       |  CAST(n * svv - sv * sv AS BIGINT) AS den_n,
       |  CAST((n - 1) * ssd AS DOUBLE) * CAST(n AS DOUBLE) /
       |    (CAST(npairs * 2 AS DOUBLE) * CAST(n * svv - sv * sv AS DOUBLE))
       |    AS geary_c
       |FROM pa, g""".stripMargin
  }

  // ---- q158: 5x5 GAUSSIAN BLUR — the smoothing pass under denoise /
  // pre-detection pipelines, as the second rider on the PAD-2 halo
  // exchange: the binomial (1,4,6,4,1)² kernel runs inside one codegen
  // expression over the assembled patch and the output is a REAL
  // per-pixel smoothed raster (exact 256-scaled integers, interior
  // rule), not a statistic — the same one-shuffle shape as q93/q156
  // regardless of stencil radius. ------------------------------------------
  private def q158(s: SparkSession, dir: String): DataFrame =
    gaussHalo(s, spec)

  private[graft] def gaussHalo(s: SparkSession, sp: WorldSpec): DataFrame =
    haloPatches(s, sp, 2)
      .select(col("dest_tile"),
        posexplode(gauss5x5(col("pv.pos"), col("pv.v"), sp.tile))
          .as(Seq("p", "g")))
      .filter(col("g") =!= Long.MinValue) // incomplete 5x5 support
      .select(sp.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        col("g").as("blur_scaled"))
      .orderBy("cell_id")

  /** Oracle: the 25 weighted band terms written directly, interior
    * cells only. */
  private def q158Sql: String = {
    val k = Array(1, 4, 6, 4, 1)
    val terms = (for { dy <- -2 to 2; dx <- -2 to 2 } yield
      s"${k(dy + 2) * k(dx + 2)} * CAST(${bandSql(
        s"(r0 + ($dy)) * $C + c0 + ($dx) + 1", 1)} AS BIGINT)")
      .mkString("(", " + ", ")")
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells
       |  WHERE (cell_id - 1) % $C BETWEEN 2 AND ${C - 3}
       |    AND FLOOR((cell_id - 1) / $C) BETWEEN 2 AND ${spec.rows - 3})
       |SELECT cell_id, CAST($terms AS BIGINT) AS blur_scaled
       |FROM pts ORDER BY 1""".stripMargin
  }

  // ---- q159: BOX-COUNTING OCCUPANCY — the input to the fractal
  // (box-counting) dimension of the loss pattern, a standard
  // fragmentation descriptor in the deforestation literature: at each
  // scale 2^k the number of grid boxes containing ANY lossy cell.
  // Scale shape: one pass — every cell fans out to its 5 box ids
  // (constant factor, no data growth with scale count beyond it), the
  // (k, box) aggregate partial-aggregates map-side to O(boxes) rows,
  // then a per-k count. The exact integer N(k) ladder is the output;
  // the log-log slope is the caller's 5-point regression (ln is
  // libm-dependent, so the engine pins the integers, not the slope). -------
  private def q159(s: SparkSession, dir: String): DataFrame = {
    val scales = (0 to 4).map(k =>
      struct(lit(k.toLong).as("k"), lit(1L << k).as("bs")))
    spine(s).select(
        spec.row0Of(cellCol).as("r0"), spec.col0Of(cellCol).as("c0"),
        (lossCol(cellCol) > 0).cast("int").as("occ"))
      .select(col("r0"), col("c0"), col("occ"),
        explode(array(scales: _*)).as("s"))
      .groupBy(col("s.k").as("k"), col("s.bs").as("box"),
        floor(col("r0") / col("s.bs")).as("br"),
        floor(col("c0") / col("s.bs")).as("bc"))
      .agg(max("occ").as("occ"))
      .filter(col("occ") === 1)
      .groupBy("k", "box")
      .agg(count(lit(1)).as("n_boxes"))
      .orderBy("k")
  }

  private def q159Sql: String =
    s"""$cellsCte,
       |ks AS (SELECT CAST(k.range AS BIGINT) AS k,
       |    CAST(1 AS BIGINT) << k.range AS bs FROM range(5) k),
       |occ AS (SELECT CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0,
       |    CASE WHEN ${lossSql("cell_id")} > 0 THEN 1 ELSE 0 END AS occ
       |  FROM cells),
       |bx AS (SELECT k, bs, FLOOR(r0 / bs) AS br, FLOOR(c0 / bs) AS bc,
       |    MAX(occ) AS occ
       |  FROM occ, ks GROUP BY 1, 2, 3, 4)
       |SELECT k, CAST(bs AS BIGINT) AS box,
       |  CAST(COUNT(*) AS BIGINT) AS n_boxes
       |FROM bx WHERE occ = 1 GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q160: PER-TILE EDGE DENSITY — the fragmentation metric
  // (landscape-ecology edge density, FRAGSTATS' ED) over the band
  // binarized at 128: the fraction of 4-adjacent pixel pairs whose
  // classes differ. Each pair is owned by its left/top pixel's tile,
  // so cross-tile edges count exactly once and the pad-1 halo supplies
  // the off-tile neighbor — the whole count is ONE fused stencil +
  // reduction (EdgeStats, the LapStats shape): O(tiles) output rows,
  // one halo Exchange, exact integer numerators and denominators with
  // the single IEEE divide for display. ------------------------------------
  private[graft] val EdgeThr = 128

  private def q160(s: SparkSession, dir: String): DataFrame =
    haloPatches(s, spec)
      .select(col("dest_tile").as("tile_id"),
        edge_stats(col("pv.pos"), col("pv.v"), T, EdgeThr).as("e"))
      .select(col("tile_id"), col("e.nx").as("nx"), col("e.ex").as("ex"),
        col("e.ny").as("ny"), col("e.ey").as("ey"))
      .withColumn("edge_density",
        (col("ex") + col("ey")).cast("double") /
          (col("nx") + col("ny")).cast("double"))
      .orderBy("tile_id")

  /** Oracle: right/down pair classes straight from the band formula,
    * pairs grouped by the left/top cell's tile. */
  private def q160Sql: String = {
    def cls(id: String) =
      s"(CASE WHEN ${bandSql(id, 1)} >= $EdgeThr THEN 1 ELSE 0 END)"
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |pr AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    CASE WHEN c0 + 1 < $C THEN 1 ELSE 0 END AS vx,
       |    CASE WHEN c0 + 1 < $C
       |      AND ${cls("cell_id")} <> ${cls("cell_id + 1")}
       |      THEN 1 ELSE 0 END AS dx,
       |    CASE WHEN r0 + 1 < ${spec.rows} THEN 1 ELSE 0 END AS vy,
       |    CASE WHEN r0 + 1 < ${spec.rows}
       |      AND ${cls("cell_id")} <> ${cls(s"cell_id + $C")}
       |      THEN 1 ELSE 0 END AS dy
       |  FROM pts)
       |SELECT tile_id, CAST(SUM(vx) AS INT) AS nx, CAST(SUM(dx) AS INT) AS ex,
       |  CAST(SUM(vy) AS INT) AS ny, CAST(SUM(dy) AS INT) AS ey,
       |  CAST(SUM(dx) + SUM(dy) AS DOUBLE) / CAST(SUM(vx) + SUM(vy) AS DOUBLE)
       |    AS edge_density
       |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q161: PER-PIXEL TEMPORAL TREND — the raster-stack regression
  // every EO time-series product ships (NDVI/loss trend per pixel):
  // OLS slope of the 5 predictor bands read as a time axis x = 0..4.
  // With a FIXED design (Σx = 10, Σx² = 30, n = 5) the slope is
  // slope_num/50 with slope_num = 5·Σxy − 10·Σy — per-pixel closed
  // form, all integers, ZERO data shuffle (the presentation sort is the
  // only Exchange): at 100 TB this is the map-only pass that rides
  // whatever scan produced the pixels. The exact integer numerator is
  // the compare target; the /50.0 display divide is the same IEEE op in
  // both engines. ------------------------------------------------------------
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val ys = (1 to 5).map(b => bandCol(cellCol, b).cast("long"))
    val sy = ys.reduce(_ + _)
    val sxy = ys.zipWithIndex.map { case (y, i) => y * i }.reduce(_ + _)
    spine(s).select(cellCol.as("cell_id"), sy.as("sum_y"), sxy.as("sxy"))
      .select(col("cell_id"), col("sum_y"), col("sxy"),
        (col("sxy") * 5 - col("sum_y") * 10).as("slope_num"))
      .withColumn("slope", col("slope_num").cast("double") / lit(50.0))
      .orderBy("cell_id")
  }

  private def q161Sql: String = {
    val ys = (1 to 5).map(b => s"CAST(${bandSql("cell_id", b)} AS BIGINT)")
    val sy = ys.mkString("(", " + ", ")")
    val sxy = ys.zipWithIndex.map { case (y, i) => s"$i * $y" }
      .mkString("(", " + ", ")")
    s"""$cellsCte,
       |f AS (SELECT cell_id, $sy AS sum_y, $sxy AS sxy FROM cells)
       |SELECT cell_id, sum_y, sxy, sxy * 5 - sum_y * 10 AS slope_num,
       |  CAST(sxy * 5 - sum_y * 10 AS DOUBLE) / 50.0 AS slope
       |FROM f ORDER BY 1""".stripMargin
  }

  // ---- q162: GRADIENT-ORIENTATION HISTOGRAM (HOG-lite) — the per-tile
  // descriptor under texture/feature pipelines: q98's Sobel gradients
  // binned into 8 sectors (plus bin 0 for flat), with INTEGER sector
  // tests only — signs and |gx| vs |gy| comparisons — so no atan2 and
  // no float anywhere; per bin the count and the L1-magnitude sum.
  // Rider on the same pad-1 halo exchange as q98, then one partial-
  // aggregated (tile, bin) Exchange carrying ≤ 9 rows per tile. Octant
  // id = 1 + 4·[gy<0] + 2·[gx<0] + [|gx|>|gy|] — three total
  // predicates, so every boundary gradient (zero component, exact
  // diagonal) folds deterministically by the non-strict side, with
  // bin 0 reserved for flat (gx = gy = 0). -----------------------------------
  /** Octant id of a gradient: 0 = flat, else 1 + 4·[gy<0] + 2·[gx<0] +
    * [|gx|>|gy|]. Total predicates — zero components and exact
    * diagonals fold deterministically by the non-strict sides.
    * (The affine World hash makes band-1 gradients structurally
    * correlated, so only four of the eight octants occur in the
    * synthetic world — FocalSpec drives the other four through this
    * helper directly on crafted gradients.) */
  private[graft] def octantBin(gx: Column, gy: Column): Column =
    when(gx === 0 && gy === 0, 0)
      .otherwise(lit(1) +
        when(gy < 0, 4).otherwise(0) +
        when(gx < 0, 2).otherwise(0) +
        when(abs(gx) > abs(gy), 1).otherwise(0))

  private def q162(s: SparkSession, dir: String): DataFrame = {
    sobelHalo(s, spec)
      .select(spec.tileOf(col("cell_id")).cast("long").as("tile_id"),
        octantBin(col("gx"), col("gy")).as("bin"),
        (abs(col("gx")) + abs(col("gy"))).as("w"))
      .groupBy("tile_id", "bin")
      .agg(count(lit(1)).as("cnt"), sum("w").as("wsum"))
      .orderBy("tile_id", "bin")
  }

  /** Oracle: q98's gradient terms, the same CASE ladder. */
  private def q162Sql: String = {
    val (gx, gy) = sobelGxGySql
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells
       |  WHERE (cell_id - 1) % $C BETWEEN 1 AND ${C - 2}
       |    AND FLOOR((cell_id - 1) / $C) BETWEEN 1 AND ${spec.rows - 2}),
       |g AS (SELECT ${tileSql("cell_id")} AS tile_id, $gx AS gx, $gy AS gy
       |  FROM pts),
       |b AS (SELECT tile_id,
       |    CASE WHEN gx = 0 AND gy = 0 THEN 0
       |         ELSE 1 + (CASE WHEN gy < 0 THEN 4 ELSE 0 END)
       |            + (CASE WHEN gx < 0 THEN 2 ELSE 0 END)
       |            + (CASE WHEN ABS(gx) > ABS(gy) THEN 1 ELSE 0 END)
       |    END AS bin,
       |    ABS(gx) + ABS(gy) AS w FROM g)
       |SELECT tile_id, CAST(bin AS INT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(w) AS BIGINT) AS wsum
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- q163: 3x3 MEDIAN FILTER — the salt-and-pepper denoiser (the
  // rank-order cousin of q99's mode): LOWER median of the in-grid
  // window (deterministic for the even window sizes at world edges),
  // fourth stencil rider on the pad-1 halo exchange, the ≤9-sample
  // insertion sort fused inside one codegen expression. ---------------------
  private def q163(s: SparkSession, dir: String): DataFrame =
    haloPatches(s, spec)
      .select(col("dest_tile"),
        posexplode(median3x3(col("pv.pos"), col("pv.v"), T))
          .as(Seq("p", "g")))
      .filter(col("g") >= 0) // edge-tile padding positions
      .select(spec.cellOf(col("dest_tile"), col("p")).as("cell_id"),
        shiftright(col("g"), 4).as("med"),
        col("g").bitwiseAND(lit(15L)).cast("int").as("ncnt"))
      .orderBy("cell_id")

  /** Oracle: the 9 guarded window values unnested per cell, the lower
    * median selected by window rank — a different selection algorithm
    * than the engine's insertion sort, same integers. */
  private def q163Sql: String = {
    val offs = for { dy <- -1 to 1; dx <- -1 to 1 } yield (dy, dx)
    val guarded = offs.map { case (dy, dx) =>
      s"""CASE WHEN r0 + ($dy) >= 0 AND r0 + ($dy) < ${spec.rows}
         | AND c0 + ($dx) >= 0 AND c0 + ($dx) < $C
         | THEN CAST(${bandSql(s"(r0 + ($dy)) * $C + c0 + ($dx) + 1", 1)}
         |   AS BIGINT) ELSE -1 END""".stripMargin.replaceAll("\n", "")
    }.mkString("[", ",\n|    ", "]")
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |vals AS (SELECT cell_id, UNNEST($guarded) AS v FROM pts),
       |ok AS (SELECT cell_id, v,
       |    ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY cell_id) AS cnt
       |  FROM vals WHERE v >= 0)
       |SELECT cell_id, v AS med, CAST(cnt AS INT) AS ncnt
       |FROM ok WHERE rn = (cnt + 1) // 2 ORDER BY cell_id""".stripMargin
  }

  // ---- q164: HISTOGRAM MATCHING to the GLOBAL distribution — the
  // mosaic-normalization pass (each tile remapped through the whole
  // scene's CDF so seams vanish), the two-level cousin of q111's
  // per-tile equalization: e(v) = (255·gcdf(v)) div N with gcdf from
  // the global histogram. Scale shape: the global histogram is one
  // partial-aggregated Exchange collapsing pixels to ≤256 rows, the
  // CDF window runs on those 256 rows (single partition BY DESIGN —
  // the frame is value-domain-sized, never data-sized), and the remap
  // is a broadcast join back onto the decode, so pixel rows are never
  // shuffled. Exact integer outputs: per tile n, Σe, and the
  // position-weighted Σ(p+1)·e that pins every pixel's remapped value
  // and its in-tile position under the driver's sorted-hash compare
  // (the q73 trick). The matched level is the SQUARE-LAW skewed
  // lvl = v² div 256 — the world's raw band is uniform by construction,
  // so matching it would be the identity map and prove nothing; the
  // square-law skew (density ~ 1/√lvl) stands in for a real sensor's
  // radiometric distribution and forces a genuinely non-identity CDF
  // remap. --------------------------------------------------------------------
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val px = World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        posexplode(decode_band(col("bytes"), col("fmt"), spec.pixPerTile, 1))
          .as(Seq("p", "v")))
      .filter(spec.inGridAt(col("tile_id"), col("p")))
      .select(col("tile_id"), col("p"),
        expr("CAST(v AS BIGINT) * CAST(v AS BIGINT) DIV 256").as("lvl"))
    val cdf = px.groupBy("lvl").agg(count(lit(1)).as("cnt"))
      .withColumn("c", sum("cnt").over(
        Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("lvl"), expr("255 * c DIV n").as("e"))
    px.join(broadcast(cdf), "lvl")
      .groupBy("tile_id")
      .agg(count(lit(1)).as("n_px"), sum("e").as("esum"),
        sum((col("p") + 1) * col("e")).as("ewsum"))
      .orderBy("tile_id")
  }

  private def q164Sql: String =
    s"""$cellsCte,
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    (CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) % $T) * $T
       |      + ((cell_id - 1) % $C % $T) AS p,
       |    (CAST(${bandSql("cell_id", 1)} AS BIGINT)
       |      * CAST(${bandSql("cell_id", 1)} AS BIGINT)) // 256 AS lvl
       |  FROM cells),
       |hist AS (SELECT lvl, COUNT(*) AS cnt FROM px GROUP BY 1),
       |cdf AS (SELECT lvl,
       |    (255 * SUM(cnt) OVER (ORDER BY lvl)) //
       |      SUM(cnt) OVER () AS e
       |  FROM hist)
       |SELECT tile_id, CAST(COUNT(*) AS BIGINT) AS n_px,
       |  CAST(SUM(e) AS BIGINT) AS esum,
       |  CAST(SUM((p + 1) * e) AS BIGINT) AS ewsum
       |FROM px JOIN cdf USING (lvl)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q165: PER-TILE VIEWSHED — the classic terrain visibility
  // operator (observer at the chip center, band 1 as the DEM): which
  // pixels' lines of sight clear every intermediate sample. The whole
  // ray walk + exact angle logic lives in ONE codegen expression over
  // the tile payload — ZERO shuffle beyond the presentation sort, the
  // per-tile analog of q126's D8 pick: at 100 TB this is a map-only
  // pass over tiles (a whole-SCENE viewshed is a different algorithm
  // class — R2/R3 sweeps with cross-tile ray dependencies — out of
  // per-tile scope by design, stated here). Rays use the rounded
  // parametric walk with floor division so DuckDB reproduces the exact
  // same sample grid; angles compare via sign cases + squared
  // cross-multiplication (no sqrt, no float). -------------------------------
  private def q165(s: SparkSession, dir: String): DataFrame =
    viewshedTiles(s, spec)

  private[graft] def viewshedTiles(s: SparkSession, sp: WorldSpec): DataFrame =
    World.tilesDF(s, sp)
      .select(col("tile_id").cast("long").as("tile_id"),
        posexplode(viewshed(col("bytes"), col("fmt"), sp.pixPerTile, 1,
          sp.tile)).as(Seq("p", "vis")))
      .filter(col("vis") >= 0) // padding / NaN-poisoned rays
      .select(sp.cellOf(col("tile_id"), col("p")).as("cell_id"),
        col("vis").cast("int").as("vis"))
      .orderBy("cell_id")

  /** Oracle: the same rounded ray walk per (cell, k) pair — the
    * intermediate sample coordinates re-derived by the identical
    * floor-div formula, elevations from the band formula, the blocked
    * test aggregated with BOOL_OR; cells at steps <= 1 have no
    * intermediate samples and are visible by definition. DuckDB's `//`
    * TRUNCATES toward zero on integers (it is not Math.floorDiv), so
    * the numerator is shifted by +2·steps² (then −steps outside) to
    * keep it provably non-negative (min 3·steps), where truncation and
    * floor agree. */
  private def q165Sql: String = {
    val half = T / 2
    def z(idExpr: String) = s"CAST(${bandSql(idExpr, 1)} AS BIGINT)"
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |geo AS (SELECT cell_id, r0, c0,
       |    (r0 // $T) * $T + $half AS cy, (c0 // $T) * $T + $half AS cx
       |  FROM pts),
       |tgt AS (SELECT cell_id, r0, c0, cy, cx,
       |    r0 - cy AS dy, c0 - cx AS dx,
       |    GREATEST(ABS(r0 - cy), ABS(c0 - cx)) AS steps,
       |    ${z("cell_id")} - ${z(s"cy * $C + cx + 1")} AS dzt,
       |    (r0 - cy) * (r0 - cy) + (c0 - cx) * (c0 - cx) AS d2t
       |  FROM geo),
       |rng AS (SELECT k.range + 1 AS k FROM range(${half - 1}) k),
       |samp AS (SELECT t.cell_id,
       |    t.cy + (2 * r.k * t.dy + t.steps + 2 * t.steps * t.steps)
       |      // (2 * t.steps) - t.steps AS sy,
       |    t.cx + (2 * r.k * t.dx + t.steps + 2 * t.steps * t.steps)
       |      // (2 * t.steps) - t.steps AS sx,
       |    t.cy AS cy, t.cx AS cx, t.dzt AS dzt, t.d2t AS d2t
       |  FROM tgt t JOIN rng r ON r.k < t.steps),
       |blk AS (SELECT cell_id, BOOL_OR(NOT (
       |    CASE WHEN dzs < 0 AND dzt >= 0 THEN TRUE
       |         WHEN dzs >= 0 AND dzt < 0 THEN FALSE
       |         WHEN dzs >= 0 THEN dzs * dzs * d2t < dzt * dzt * d2s
       |         ELSE dzs * dzs * d2t > dzt * dzt * d2s END)) AS blocked
       |  FROM (SELECT cell_id, dzt, d2t,
       |      ${z(s"sy * $C + sx + 1")} - ${z(s"cy * $C + cx + 1")} AS dzs,
       |      (sy - cy) * (sy - cy) + (sx - cx) * (sx - cx) AS d2s
       |    FROM samp)
       |  GROUP BY 1)
       |SELECT p.cell_id,
       |  CAST(CASE WHEN COALESCE(b.blocked, FALSE) THEN 0 ELSE 1 END AS INT)
       |    AS vis
       |FROM pts p LEFT JOIN blk b ON p.cell_id = b.cell_id
       |ORDER BY 1""".stripMargin
  }

  // ---- q166: PATCH REGION PROPERTIES — the object-level geometry step
  // after clump labeling (GIS "zonal geometry": per-patch area, bbox,
  // centroid, border contact — the inputs to FRAGSTATS shape indices
  // and to any "drop patches touching the study-area edge" screen):
  // q140's hierarchical clump labels re-aggregated per patch with pure
  // integer geometry (centroid kept as exact coordinate SUMS — the
  // consumer divides; emitting the float quotient would be the only
  // non-integer in the row).
  //
  // Scale shape: Clump.label's economics unchanged (per-tile
  // union-find, perimeter-sized merge graph); the props pass adds ONE
  // patch-keyed Exchange whose width is cells, but every aggregate here
  // is algebraic (min/max/sum/count), so partial aggregation compacts
  // each upstream partition to ~its distinct-patch count before the
  // shuffle — at the production tile size that is the per-tile patch
  // count, ~1% of cells. The oracle recomputes the same labels flat
  // (q140's recursive min-label CTE, shared via clumpLabCte) and
  // aggregates the same integers. ------------------------------------------
  private def q166(s: SparkSession, dir: String): DataFrame = {
    val cells = spine(s).select(cellCol, patchClsCol(cellCol).as("cls"))
    val r0 = spec.row0Of(cellCol)
    val c0 = spec.col0Of(cellCol)
    graft.engine.Clump.label(s, spec, cells, "q166_patch_props")
      .select(col("patch"), r0.as("r0"), c0.as("c0"))
      .groupBy("patch")
      .agg(count(lit(1)).as("n_cells"),
        min("r0").as("min_r"), max("r0").as("max_r"),
        min("c0").as("min_c"), max("c0").as("max_c"),
        sum("r0").as("sum_r"), sum("c0").as("sum_c"),
        max(when(col("r0") === 0 || col("r0") === spec.rows - 1 ||
          col("c0") === 0 || col("c0") === C - 1, 1).otherwise(0))
          .cast("int").as("touches_border"))
      // patch id = the patch's min cell id, so its class is closed-form
      // recomputable (the q140 rule)
      .select(col("patch"), patchClsCol(col("patch")).as("cls"),
        col("n_cells"), col("min_r"), col("max_r"), col("min_c"),
        col("max_c"), col("sum_r"), col("sum_c"), col("touches_border"))
      .orderBy("patch")
  }

  private def q166Sql: String =
    s"""$clumpLabCte
       |SELECT l.patch, CAST(${patchClsSql("l.patch")} AS INT) AS cls,
       |  COUNT(*) AS n_cells,
       |  MIN((l.cell_id - 1) // $C) AS min_r,
       |  MAX((l.cell_id - 1) // $C) AS max_r,
       |  MIN((l.cell_id - 1) % $C) AS min_c,
       |  MAX((l.cell_id - 1) % $C) AS max_c,
       |  CAST(SUM((l.cell_id - 1) // $C) AS BIGINT) AS sum_r,
       |  CAST(SUM((l.cell_id - 1) % $C) AS BIGINT) AS sum_c,
       |  CAST(MAX(CASE WHEN (l.cell_id - 1) // $C IN (0, ${spec.rows - 1})
       |    OR (l.cell_id - 1) % $C IN (0, ${C - 1}) THEN 1 ELSE 0 END)
       |    AS INT) AS touches_border
       |FROM lab l GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q167: PER-TILE RUN-LENGTH STATS — the compression-cost /
  // fragmentation triple over the classified mosaic (RLE is how
  // classified rasters are actually stored — GRASS, Arc GRID — and the
  // run count per row is FRAGSTATS' edge-density numerator in disguise):
  // horizontal run count, longest run, vertical run count per tile of
  // the q140 class field. The counting loop is fused in ONE expression
  // call per tile (RunStats) inside the same sorted-aggregation shape
  // as ClumpLocal — one Exchange on tile_id, all counting map-side
  // after it. The class field is data-borne in the real pipeline, so
  // the exchange is genuine (with a closed-form class this could fold
  // to zero shuffles, stated for honesty). The oracle recomputes runs
  // by gaps-and-islands windows — a different algorithm, the same
  // integers. ----------------------------------------------------------------
  private def q167(s: SparkSession, dir: String): DataFrame = {
    spine(s).select(cellCol, patchClsCol(cellCol).as("cls"))
      .select(spec.tileOf(cellCol).as("tile_id"),
        spec.pixOf(cellCol).as("pix"), col("cls"))
      .groupBy("tile_id")
      .agg(sort_array(collect_list(struct(col("pix"), col("cls"))))
        .as("pc"))
      .select(col("tile_id").cast("long").as("tile_id"),
        run_stats(col("pc.pix"), col("pc.cls"), T).as("rs"))
      .select(col("tile_id"), col("rs.n_runs").as("n_runs"),
        col("rs.max_run").as("max_run"), col("rs.n_vruns").as("n_vruns"))
      .orderBy("tile_id")
  }

  private def q167Sql: String =
    s"""$cellsCte,
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    ((cell_id - 1) // $C) % $T AS rr,
       |    ((cell_id - 1) % $C) % $T AS cc,
       |    ${patchClsSql("cell_id")} AS cls FROM cells),
       |h AS (SELECT tile_id, rr, cls,
       |    cc - ROW_NUMBER() OVER (PARTITION BY tile_id, rr, cls
       |      ORDER BY cc) AS isl FROM px),
       |hr AS (SELECT tile_id, COUNT(*) AS len
       |  FROM h GROUP BY tile_id, rr, cls, isl),
       |hs AS (SELECT tile_id, COUNT(*) AS n_runs, MAX(len) AS max_run
       |  FROM hr GROUP BY 1),
       |v AS (SELECT tile_id, cc, cls,
       |    rr - ROW_NUMBER() OVER (PARTITION BY tile_id, cc, cls
       |      ORDER BY rr) AS isl FROM px),
       |vs AS (SELECT tile_id, COUNT(*) AS n_vruns FROM (
       |    SELECT DISTINCT tile_id, cc, cls, isl FROM v) GROUP BY 1)
       |SELECT hs.tile_id, CAST(n_runs AS INT) AS n_runs,
       |  CAST(max_run AS INT) AS max_run, CAST(n_vruns AS INT) AS n_vruns
       |FROM hs JOIN vs ON hs.tile_id = vs.tile_id
       |ORDER BY 1""".stripMargin

  // ---- q168: HAAR WAVELET ENERGY — the level-1 integer wavelet
  // decomposition per tile (JPEG2000's opening lifting step; the
  // LH/HL/HH detail energies are the standard blur/detail/compressibility
  // screen a media-curation pipeline runs beside q104's sharpness):
  // unnormalized 2x2 Haar coefficients are exact integers on 0..255
  // bands, summed per subband in ONE expression fused with the payload
  // decode — a map-only pass over tiles, zero data shuffle, the q165
  // scale shape. Blocks touching NaN padding are skipped and counted
  // out via n_blocks. The oracle rebuilds each block from the band
  // formula with parity-sign sums and keeps only complete (4-cell)
  // blocks — the same skip rule. -------------------------------------------
  private def q168(s: SparkSession, dir: String): DataFrame =
    World.tilesDF(s, spec)
      .select(col("tile_id").cast("long").as("tile_id"),
        haar_stats(col("bytes"), col("fmt"), spec.pixPerTile, 1, T).as("h"))
      .select(col("tile_id"), col("h.ll_sum").as("ll_sum"),
        col("h.lh_abs").as("lh_abs"), col("h.hl_abs").as("hl_abs"),
        col("h.hh_abs").as("hh_abs"), col("h.n_blocks").as("n_blocks"))
      .orderBy("tile_id")

  // ---- q169: VECTOR OVERLAY AREA — exact polygon INTERSECT tile-rect
  // area per (tile, region): the clip-and-measure primitive GIS calls
  // Intersect/Tabulate Area (area-weighted zonal statistics, coverage
  // fractions, "which tiles does this layer touch" pruning — the
  // operator family SURVEY's U5 row marks n/a-in-reference, built here
  // as a first-class overlay). Sutherland-Hodgman against the tile's
  // four half-planes then the shoelace sum, ALL inside one codegen
  // RectClipArea call per (tile, region) pair — work is O(edges) per
  // pair, never per-pixel (the covering-vs-raycast lesson applied to
  // vector measures). Scale shape: the frame is tiles x regions with
  // polygons riding the expression as a broadcast reference — zero
  // data shuffle beyond the presentation sort; at 100 TB the pair
  // frame is pruned first by a bbox join (q102's shape) so only
  // touching pairs clip.
  //
  // Exactness: the world's edges have power-of-two extents, so every
  // clip intersection (s + (e-s)*((bound-s)/(e-s)) in both engines,
  // identical op order) and every shoelace term is an EXACT dyadic
  // double — sums are order-independent and the DuckDB oracle (the
  // same four passes as chained window CTEs: per edge, the boundary
  // intersection sorts at 2i and the kept endpoint at 2i+1) matches
  // bit for bit. GeomSpec pins the partition property (per-region tile
  // areas sum to the polygon's own shoelace area, exactly). ----------------
  /** The (tile, region, area, nv) coverage frame shared by q169/q170:
    * the q21 single-eval Generate shape — each pair's clip runs ONCE
    * inside the exploded array (a filter on a plain projection would
    * be pushed below it and evaluate the clip twice). */
  private def coverageDF(s: SparkSession): DataFrame = {
    val polys = World.polygons(spec)
    s.range(0, spec.nTiles).select(col("id").as("tile_id"))
      .select(col("tile_id"), explode(array(polys.map(p =>
        struct(lit(p.regionId).as("region_id"),
          rect_clip_area(col("tile_id"), lit(p.regionId), polys, T, TX)
            .as("ca"))): _*)).as("rc"))
      .filter(col("rc.ca.area") > 0)
      .select(col("tile_id"), col("rc.region_id").as("region_id"),
        col("rc.ca.area").as("area"), col("rc.ca.nv").as("nv"))
  }

  private def q169(s: SparkSession, dir: String): DataFrame =
    coverageDF(s).orderBy("tile_id", "region_id")

  /** Ring vertices as a VALUES literal: (region, ring, i, x, y, n). */
  private def ringVertsValues: String =
    World.polygons(spec).flatMap { p =>
      (0 until p.nRings).flatMap { r =>
        val (s0, e0) = p.ringRange(r)
        (s0 until e0).map { k =>
          s"(${p.regionId}, $r, ${k - s0}, CAST(${p.xs(k)} AS DOUBLE), " +
            s"CAST(${p.ys(k)} AS DOUBLE), ${e0 - s0})"
        }
      }
    }.mkString(", ")

  /** One Sutherland-Hodgman half-plane pass as SQL CTEs: `src` is the
    * prior vertex CTE (tile_id, region, ring, i, x, y, n), `axis` "x"
    * or "y", `bound` an expression over tile_id, `ge` the keep side.
    * Emits c/e/dst CTE bodies; intersection arithmetic mirrors
    * Geom.clipHalf's expression order exactly. */
  private def clipPassSql(src: String, dst: String, axis: String,
      bound: String, ge: Boolean, carry: Seq[String] = Nil): String = {
    val op = if (ge) ">=" else "<="
    val cA = carry.map(c => s", a.$c").mkString
    val cP = carry.map(c => s", $c").mkString
    // slope form, mirroring Geom.clipHalf exactly (see its comment)
    val (ix, iy) =
      if (axis == "x")
        (s"($bound)",
          s"(sy + ((ey - sy) / (ex - sx)) * (($bound) - sx))")
      else
        (s"(sx + ((ex - sx) / (ey - sy)) * (($bound) - sy))",
          s"($bound)")
    val (sIn, eIn) =
      if (axis == "x") (s"sx $op ($bound)", s"ex $op ($bound)")
      else (s"sy $op ($bound)", s"ey $op ($bound)")
    s"""c_$dst AS (SELECT a.tile_id, a.region, a.ring, a.i$cA,
       |    b.x AS sx, b.y AS sy, a.x AS ex, a.y AS ey
       |  FROM $src a JOIN $src b
       |    ON b.tile_id = a.tile_id AND b.region = a.region
       |   AND b.ring = a.ring AND b.i = (a.i + a.n - 1) % a.n),
       |e_$dst AS (
       |  SELECT tile_id, region, ring, 2 * i + 1 AS k, ex AS x, ey AS y$cP
       |  FROM c_$dst WHERE $eIn
       |  UNION ALL
       |  SELECT tile_id, region, ring, 2 * i AS k, $ix AS x, $iy AS y$cP
       |  FROM c_$dst WHERE ($eIn) <> ($sIn)),
       |$dst AS (SELECT tile_id, region, ring,
       |    ROW_NUMBER() OVER (PARTITION BY tile_id, region, ring
       |      ORDER BY k) - 1 AS i, x, y,
       |    COUNT(*) OVER (PARTITION BY tile_id, region, ring) AS n$cP
       |  FROM e_$dst)""".stripMargin
  }

  /** Clip chain (verts .. v4) + `cov(tile_id, region_id, area, nv)` —
    * the CTE prefix shared by q169/q170. */
  private def clipCovCte: String = {
    val x0 = s"CAST((tile_id % $TX) * $T AS DOUBLE)"
    val y0 = s"CAST((tile_id // $TX) * $T AS DOUBLE)"
    val x1 = s"CAST((tile_id % $TX) * $T + $T AS DOUBLE)"
    val y1 = s"CAST((tile_id // $TX) * $T + $T AS DOUBLE)"
    s"""WITH verts(region, ring, i, x, y, n) AS (VALUES $ringVertsValues),
       |v0 AS (SELECT t.range AS tile_id, v.region, v.ring, v.i, v.x, v.y,
       |    v.n FROM range(${spec.nTiles}) t, verts v),
       |${clipPassSql("v0", "v1", "x", x0, ge = true)},
       |${clipPassSql("v1", "v2", "x", x1, ge = false)},
       |${clipPassSql("v2", "v3", "y", y0, ge = true)},
       |${clipPassSql("v3", "v4", "y", y1, ge = false)},
       |cov AS (SELECT CAST(a.tile_id AS BIGINT) AS tile_id,
       |    CAST(a.region AS INT) AS region_id,
       |    ABS(SUM(b.x * a.y - a.x * b.y)) / 2.0 AS area,
       |    CAST(COUNT(*) AS INT) AS nv
       |  FROM v4 a JOIN v4 b
       |    ON b.tile_id = a.tile_id AND b.region = a.region
       |   AND b.ring = a.ring AND b.i = (a.i + a.n - 1) % a.n
       |  GROUP BY 1, 2 HAVING ABS(SUM(b.x * a.y - a.x * b.y)) > 0)""".stripMargin
  }

  private def q169Sql: String =
    s"""$clipCovCte
       |SELECT tile_id, region_id, area, nv FROM cov
       |ORDER BY 1, 2""".stripMargin

  // ---- q170: AREA-WEIGHTED ZONAL STATS — the overlay frame put to its
  // real use (ArcGIS Tabulate Area / exactextractr's coverage_fraction
  // path): per region, the coverage-weighted aggregate of a tiled
  // raster — each tile's band SUM weighted by the fraction of the tile
  // the region covers. This is the standard tile-granularity
  // approximation that avoids per-pixel PIP entirely: the raster side
  // reduces per tile (A6's map-side partial aggregation, one row per
  // tile per partition into the Exchange), the vector side is q169's
  // O(edges)-per-pair clip, and they meet in a join where the coverage
  // frame is the SMALL side — broadcast, no raster reshuffle.
  // Exactness: area/T² is a dyadic shift of an exact dyadic, the tile
  // sum is a small integer, every product and partial sum stays exact
  // in doubles — so the oracle compare is bit-for-bit despite three
  // float columns. ----------------------------------------------------------
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val sums = spine(s)
      .select(spec.tileOf(cellCol).cast("long").as("tile_id"),
        bandCol(cellCol, 1).cast("long").as("v"))
      .groupBy("tile_id")
      .agg(sum("v").as("s"), count(lit(1)).as("npx"))
    sums.join(broadcast(coverageDF(s)), Seq("tile_id"))
      .groupBy("region_id")
      .agg(count(lit(1)).as("n_tiles"),
        sum(col("area")).as("total_area"),
        sum(col("area") / (T * T) * col("s")).as("w_sum"))
      .orderBy("region_id")
  }

  // ---- q171: TWO-LAYER TABULATE INTERSECTION — q169's clip between
  // two VECTOR layers (GIS Intersect proper: protected-area rectangles
  // x region polygons, the "how much of each PA falls in each
  // jurisdiction" table every conservation analysis starts with). The
  // PA layer is synthetic with integer bounds deliberately NOT aligned
  // to tile edges (World.paRect), so the clip lines exercise the
  // slope-form exactness argument at arbitrary integer bounds — y
  // coordinates stay integers, x coordinates gain at most 3 fractional
  // bits (slopes are 0, +-8, inf), every shoelace term stays an exact
  // dyadic, and the oracle (the same chained passes, rect bounds
  // CARRIED as columns through each CTE) compares bit for bit.
  // Scale shape: pairs frame = PAs x regions with the polygons riding
  // the expression broadcast — at production cardinalities the pair
  // list is bbox-pruned first (q102), clip work stays O(edges)/pair. ------
  private val PaN = 8

  private def q171(s: SparkSession, dir: String): DataFrame = {
    val polys = World.polygons(spec)
    s.range(0, PaN).select(col("id").as("pa_id"))
      .select(col("pa_id"), explode(array(polys.map(p =>
        struct(lit(p.regionId).as("region_id"),
          pa_clip_area(col("pa_id"), lit(p.regionId), polys, C, spec.rows)
            .as("ca"))): _*)).as("rc"))
      .filter(col("rc.ca.area") > 0)
      .select(col("pa_id"), col("rc.region_id").as("region_id"),
        col("rc.ca.area").as("area"), col("rc.ca.nv").as("nv"))
      .orderBy("pa_id", "region_id")
  }

  private def q171Sql: String = {
    val carry = Seq("bx0", "bx1", "by0", "by1")
    s"""WITH verts(region, ring, i, x, y, n) AS (VALUES $ringVertsValues),
       |pa AS (SELECT r.range AS pa_id,
       |    ${h2Sql("r.range * 31 + 7")} % ${C - 32} AS px0,
       |    ${h2Sql("r.range * 41 + 13")} % ${spec.rows - 24} AS py0,
       |    8 + ${h2Sql("r.range * 37 + 11")} % 25 AS pw,
       |    8 + ${h2Sql("r.range * 43 + 17")} % 17 AS ph
       |  FROM range($PaN) r),
       |v0 AS (SELECT p.pa_id AS tile_id, v.region, v.ring, v.i, v.x, v.y,
       |    v.n,
       |    CAST(p.px0 AS DOUBLE) AS bx0, CAST(p.px0 + p.pw AS DOUBLE) AS bx1,
       |    CAST(p.py0 AS DOUBLE) AS by0, CAST(p.py0 + p.ph AS DOUBLE) AS by1
       |  FROM pa p, verts v),
       |${clipPassSql("v0", "v1", "x", "bx0", ge = true, carry)},
       |${clipPassSql("v1", "v2", "x", "bx1", ge = false, carry)},
       |${clipPassSql("v2", "v3", "y", "by0", ge = true, carry)},
       |${clipPassSql("v3", "v4", "y", "by1", ge = false, carry)}
       |SELECT CAST(a.tile_id AS BIGINT) AS pa_id,
       |  CAST(a.region AS INT) AS region_id,
       |  ABS(SUM(b.x * a.y - a.x * b.y)) / 2.0 AS area,
       |  CAST(COUNT(*) AS INT) AS nv
       |FROM v4 a JOIN v4 b
       |  ON b.tile_id = a.tile_id AND b.region = a.region
       | AND b.ring = a.ring AND b.i = (a.i + a.n - 1) % a.n
       |GROUP BY 1, 2 HAVING ABS(SUM(b.x * a.y - a.x * b.y)) > 0
       |ORDER BY 1, 2""".stripMargin
  }

  private def q170Sql: String =
    s"""$clipCovCte,
       |ts AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    CAST(SUM(CAST(${bandSql("cell_id", 1)} AS BIGINT)) AS BIGINT)
       |      AS s
       |  FROM (SELECT r.range + 1 AS cell_id FROM range($N) r)
       |  GROUP BY 1)
       |SELECT c.region_id, COUNT(*) AS n_tiles,
       |  SUM(c.area) AS total_area,
       |  SUM(c.area / ${T * T} * t.s) AS w_sum
       |FROM cov c JOIN ts t ON c.tile_id = t.tile_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q172: DISTRIBUTED CONVEX HULL — per-group hull of a point
  // layer (the footprint/extent primitive: AOI outlines, minimum
  // bounding geometry, cluster envelopes). The distributed shape is
  // the two-level reduction convexity licenses: each (group, salt)
  // slice hulls its own points FIRST (one Exchange whose payload the
  // partial hull has already shrunk from O(points) to O(hull)), then
  // the group hull runs over the tiny union of partial hulls —
  // hull(union of hulls) = hull(points), the same algebra Clump's
  // two-level labeling leans on. Both levels are the SAME ConvexHull
  // expression (monotone chain, strict turns, canonical lex-min-start
  // positive-shoelace order). Integer coords, exact integer cross
  // products and shoelace — no float anywhere. The oracle recomputes
  // the hull by GIFT WRAPPING (a different algorithm: per-vertex
  // NOT-EXISTS next-point selection + a recursive walk), so the
  // canonical vertex sequence, count, and area2 are pinned from an
  // independent direction. ---------------------------------------------------
  private val HullG = 5
  private val HullPN = 120
  private val HullSalts = 4

  private def q172(s: SparkSession, dir: String): DataFrame = {
    val pts = s.range(0, HullG.toLong * HullPN).select(
      floor(col("id") / HullPN).cast("int").as("g"),
      (World.h2Col(col("id") * 13 + 1) % C).cast("long").as("x"),
      (World.h2Col(col("id") * 17 + 3) % spec.rows).cast("long").as("y"))
    val packed = pts.select(col("g"),
      (col("x") * 65536L + col("y")).as("p"),
      ((col("x") + col("y") * 7) % HullSalts).as("salt"))
    val partial = packed.groupBy("g", "salt")
      .agg(collect_set(col("p")).as("ps"))
      .select(col("g"),
        explode(convex_hull(col("ps")).getField("verts")).as("p"))
    partial.groupBy("g").agg(collect_set(col("p")).as("ps"))
      .select(col("g"), convex_hull(col("ps")).as("h"))
      .select(col("g"), col("h.area2").as("area2"),
        size(col("h.verts")).as("n_hull"),
        posexplode(col("h.verts")).as(Seq("seq", "p")))
      .select(col("g"), col("seq"),
        shiftrightunsigned(col("p"), 16).as("x"),
        col("p").bitwiseAND(lit(65535L)).as("y"),
        col("n_hull"), col("area2"))
      .orderBy("g", "seq")
  }

  /** The gift-wrapping hull oracle's shared middle: given a CTE
    * `d(g, x, y)` of distinct per-group points, appends the NOT-EXISTS
    * extreme-point table, the recursive boundary walk, and the vertex
    * count + exact shoelace CTEs (`walk`, `hh`, `ar`). MATERIALIZED on
    * every non-recursive CTE — the recursion would otherwise re-run
    * the O(n²) next-point join at every step. Shared by q172/q185. */
  private def giftWrapCtes: String = {
    val crossQ = "(c.px - c.vx) * (q.y - c.vy) - (c.py - c.vy) * (q.x - c.vx)"
    s"""nxt AS MATERIALIZED (SELECT c.g, c.vx, c.vy, c.px, c.py FROM
       |  (SELECT v.g, v.x AS vx, v.y AS vy, p.x AS px, p.y AS py
       |     FROM d v JOIN d p ON p.g = v.g
       |      AND (p.x <> v.x OR p.y <> v.y)) c
       |  WHERE NOT EXISTS (SELECT 1 FROM d q WHERE q.g = c.g
       |     AND (q.x <> c.vx OR q.y <> c.vy)
       |     AND (q.x <> c.px OR q.y <> c.py)
       |     AND ($crossQ < 0 OR ($crossQ = 0
       |       AND (q.x - c.vx) * (q.x - c.vx) + (q.y - c.vy) * (q.y - c.vy)
       |         > (c.px - c.vx) * (c.px - c.vx)
       |           + (c.py - c.vy) * (c.py - c.vy))))),
       |st AS MATERIALIZED (SELECT g, MIN(x * 65536 + y) AS sp FROM d GROUP BY g),
       |walk(g, seq, x, y) AS (
       |  SELECT g, 0, sp // 65536, sp % 65536 FROM st
       |  UNION ALL
       |  SELECT w.g, w.seq + 1, n.px, n.py
       |  FROM walk w JOIN nxt n ON n.g = w.g AND n.vx = w.x AND n.vy = w.y
       |  JOIN st s ON s.g = w.g
       |  WHERE n.px * 65536 + n.py <> s.sp),
       |hh AS (SELECT g, COUNT(*) AS nh FROM walk GROUP BY g),
       |ar AS (SELECT a.g, SUM(b.x * a.y - a.x * b.y) AS t2
       |  FROM walk a JOIN hh h ON h.g = a.g
       |  JOIN walk b ON b.g = a.g AND b.seq = (a.seq + h.nh - 1) % h.nh
       |  GROUP BY 1)""".stripMargin
  }

  private def q172Sql: String =
    s"""WITH RECURSIVE pts AS (SELECT
       |    CAST(r.range // $HullPN AS INT) AS g,
       |    ${h2Sql("r.range * 13 + 1")} % $C AS x,
       |    ${h2Sql("r.range * 17 + 3")} % ${spec.rows} AS y
       |  FROM range(${HullG.toLong * HullPN}) r),
       |d AS MATERIALIZED (SELECT DISTINCT g, x, y FROM pts),
       |$giftWrapCtes
       |SELECT w.g, CAST(w.seq AS INT) AS seq, CAST(w.x AS BIGINT) AS x,
       |  CAST(w.y AS BIGINT) AS y, CAST(h.nh AS INT) AS n_hull,
       |  CAST(ABS(a.t2) AS BIGINT) AS area2
       |FROM walk w JOIN hh h ON h.g = w.g JOIN ar a ON a.g = w.g
       |ORDER BY w.g, w.seq""".stripMargin

  // ---- q173: FARTHEST PAIR (diameter) of each group's point set —
  // the extent/spread primitive (bounding diameter, cluster spread,
  // antipodal footprint). The distributed shape piggybacks on q172's
  // two-level hull reduction: every pair achieving the max pairwise
  // distance has BOTH endpoints at strict hull vertices (squared
  // distance is strictly convex along any segment, so an edge-interior
  // point is strictly dominated by an edge endpoint for every probe),
  // so after the partial-hull shuffle the exact diameter is a pair
  // scan over the ~O(log n)-sized hull vertex frame — the O(n²) never
  // happens. Everything is exact integer (dx²+dy² in long); ties
  // canonicalized to the smallest (lo, hi) packed pair via the
  // min(struct(-d2, lo, hi)) trick in BOTH engines. The oracle brutes
  // ALL point pairs (not just hull vertices) — it independently
  // validates the hull-vertex reduction claim, not just the arithmetic.
  private val FpG = 5
  private val FpPN = 150
  private val FpSalts = 4

  /** Two-level hull vertex frame shared by q173: (g, p) rows holding
    * each group's strict hull vertices as packed x*65536+y longs. */
  private def hullVerts(s: SparkSession, seedA: Int, seedB: Int,
      grp: Int, perG: Int, range: Int): DataFrame = {
    val pts = s.range(0, grp.toLong * perG).select(
      floor(col("id") / perG).cast("int").as("g"),
      (World.h2Col(col("id") * 19 + seedA) % range).cast("long").as("x"),
      (World.h2Col(col("id") * 23 + seedB) % range).cast("long").as("y"))
    pts.select(col("g"), (col("x") * 65536L + col("y")).as("p"),
        ((col("x") + col("y") * 5) % FpSalts).as("salt"))
      .groupBy("g", "salt").agg(collect_set(col("p")).as("ps"))
      .select(col("g"),
        explode(convex_hull(col("ps")).getField("verts")).as("p"))
      .groupBy("g").agg(collect_set(col("p")).as("ps"))
      .select(col("g"),
        explode(convex_hull(col("ps")).getField("verts")).as("p"))
  }

  private def pairD2(lo: Column, hi: Column): Column = {
    val ax = shiftrightunsigned(lo, 16); val ay = lo.bitwiseAND(lit(65535L))
    val bx = shiftrightunsigned(hi, 16); val by = hi.bitwiseAND(lit(65535L))
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
  }

  /** Canonical extreme pair per group: min(struct(sign*d2, lo, hi)) —
    * sign = -1 picks the max distance, +1 the min; ties fall through to
    * the smallest packed (lo, hi). Shared by q173/q174. */
  private def extremePair(pairs: DataFrame, sign: Int): DataFrame =
    pairs
      .select(col("g"), struct((pairD2(col("lo"), col("hi")) * sign).as("sd2"),
        col("lo").as("lo"), col("hi").as("hi")).as("c"))
      .groupBy("g").agg(min(col("c")).as("c"))
      .select(col("g"), (col("c.sd2") * sign).as("d2"),
        shiftrightunsigned(col("c.lo"), 16).as("x1"),
        col("c.lo").bitwiseAND(lit(65535L)).as("y1"),
        shiftrightunsigned(col("c.hi"), 16).as("x2"),
        col("c.hi").bitwiseAND(lit(65535L)).as("y2"))
      .orderBy("g")

  private def q173(s: SparkSession, dir: String): DataFrame = {
    val v = hullVerts(s, 5, 9, FpG, FpPN, 4096)
    val pairs = v.as("a").join(v.as("b"),
        col("a.g") === col("b.g") && col("a.p") < col("b.p"))
      .select(col("a.g").as("g"), col("a.p").as("lo"), col("b.p").as("hi"))
    extremePair(pairs, -1)
  }

  /** Brute all-pairs oracle core shared by q173/q174: distinct points,
    * every lo<hi pair with its exact integer d2, then the canonical
    * extreme row per group via ROW_NUMBER. `desc` flips max/min. */
  private def pairOracle(seedA: Int, seedB: Int, grp: Int, perG: Int,
      range: Int, desc: Boolean): String = {
    val ord = if (desc) "d2 DESC" else "d2 ASC"
    s"""WITH pts AS (SELECT
       |    CAST(r.range // $perG AS INT) AS g,
       |    ${h2Sql(s"r.range * 19 + $seedA")} % $range AS x,
       |    ${h2Sql(s"r.range * 23 + $seedB")} % $range AS y
       |  FROM range(${grp.toLong * perG}) r),
       |d AS (SELECT DISTINCT g, x, y FROM pts),
       |pr AS (SELECT a.g, a.x * 65536 + a.y AS lo, b.x * 65536 + b.y AS hi,
       |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
       |  FROM d a JOIN d b ON b.g = a.g
       |    AND a.x * 65536 + a.y < b.x * 65536 + b.y),
       |r AS (SELECT g, d2, lo, hi, ROW_NUMBER() OVER
       |    (PARTITION BY g ORDER BY $ord, lo, hi) AS rn FROM pr)
       |SELECT g, CAST(d2 AS BIGINT) AS d2,
       |  CAST(lo // 65536 AS BIGINT) AS x1, CAST(lo % 65536 AS BIGINT) AS y1,
       |  CAST(hi // 65536 AS BIGINT) AS x2, CAST(hi % 65536 AS BIGINT) AS y2
       |FROM r WHERE rn = 1 ORDER BY g""".stripMargin
  }

  private def q173Sql: String = pairOracle(5, 9, FpG, FpPN, 4096, desc = true)

  // ---- q174: CLOSEST PAIR via grid-bucketed candidate join — the
  // proximity primitive (duplicate-station detection, merge-radius
  // checks, spacing QA). The at-scale shape: bucket points into
  // CpCell-sized grid cells, explode each point to its 3x3 cell
  // neighborhood, and shuffle-join on (g, cell) so only
  // near-neighborhood pairs are ever materialized — candidates scale
  // with local density, never O(n²). Exactness license: any pair at
  // distance < CpCell sits in the same or adjacent cells, so as long
  // as each group's true min distance is under CpCell (the fixture
  // gives ~sqrt(range²/n²) ≈ 14 << 256; CpSpec brute-verifies) every
  // min-achieving pair survives the pruning, including all ties. The
  // oracle brutes ALL pairs — validating the neighborhood-pruning
  // claim itself. -----------------------------------------------------------
  private val CpG = 5
  private val CpPN = 300
  private val CpCellShift = 8 // 256-unit cells; 4096-range => 16x16 grid

  private def q174(s: SparkSession, dir: String): DataFrame = {
    val pts = s.range(0, CpG.toLong * CpPN).select(
      floor(col("id") / CpPN).cast("int").as("g"),
      (World.h2Col(col("id") * 19 + 21) % 4096).cast("long").as("x"),
      (World.h2Col(col("id") * 23 + 27) % 4096).cast("long").as("y"))
    val d = pts.select(col("g"), (col("x") * 65536L + col("y")).as("p"),
        shiftright(col("x"), CpCellShift).as("cx"),
        shiftright(col("y"), CpCellShift).as("cy"))
      .dropDuplicates("g", "p")
    val offs = Seq(-1L, 0L, 1L)
    val probe = d.select(col("g"), col("p"),
        explode(array(offs.flatMap(dx => offs.map(dy =>
          struct((col("cx") + dx).as("nx"), (col("cy") + dy).as("ny"))
        )): _*)).as("nc"))
      .filter(col("nc.nx") >= 0 && col("nc.nx") < 16 &&
        col("nc.ny") >= 0 && col("nc.ny") < 16)
      .select(col("g"), col("p"),
        (col("nc.nx") * 16 + col("nc.ny")).as("cell"))
    val build = d.select(col("g"), col("p").as("q"),
      (col("cx") * 16 + col("cy")).as("cell"))
    val pairs = probe.join(build, Seq("g", "cell"))
      .filter(col("p") < col("q"))
      .select(col("g"), col("p").as("lo"), col("q").as("hi"))
    extremePair(pairs, 1)
  }

  private def q174Sql: String = pairOracle(21, 27, CpG, CpPN, 4096, desc = false)

  // ---- q175: PER-TILE EXACT DISTANCE TRANSFORM — squared Euclidean
  // distance from every pixel to its tile's nearest feature pixel
  // (band 0 >= 254: ~2 features/tile, a few tiles legitimately empty →
  // the -1 sentinel path runs). The proximity-raster primitive under
  // buffer rings, distance-to-road covariates, edge-distance masks.
  // Engine: the q147 economics — ONE tile-keyed Exchange, then the Edt
  // expression runs Felzenszwalb's separable two-phase parabola-
  // envelope dt once per tile (O(tile²), exact long cross-multiplied
  // envelope comparisons) and a codegen unpack back to pixel rows. The
  // oracle brutes O(pixels × features) per tile via a LEFT JOIN —
  // different algorithm entirely, bit-exact on every pixel including
  // the empty-tile sentinel. ------------------------------------------------
  private val EdtThresh = 254

  private def q175(s: SparkSession, dir: String): DataFrame = {
    spine(s)
      .select(spec.tileOf(cellCol).as("tile_id"),
        spec.pixOf(cellCol).as("pix"), bandCol(cellCol, 0).as("v"))
      .groupBy("tile_id")
      .agg(sort_array(collect_list(struct(col("pix"), col("v")))).as("pv"))
      .select(col("tile_id"),
        posexplode(graft.sql.GraftFunctions
          .edt(col("pv.pix"), col("pv.v"), T, EdtThresh)).as(Seq("p", "d2")))
      .select(spec.cellOf(col("tile_id"), col("p"))
          .as("cell_id"),
        col("d2"))
      .orderBy("cell_id")
  }

  private def q175Sql: String = {
    val r = s"((${rowSql("cell_id")} - 1) % $T)"
    val c = s"(((cell_id - 1) % $C) % $T)"
    s"""$cellsCte,
       |px AS (SELECT cell_id, ${tileSql("cell_id")} AS tile_id,
       |    $r AS r, $c AS c, ${bandSql("cell_id", 0)} AS v
       |  FROM cells),
       |ft AS (SELECT tile_id, r, c FROM px WHERE v >= $EdtThresh)
       |SELECT p.cell_id,
       |  CAST(COALESCE(MIN((p.r - f.r) * (p.r - f.r)
       |    + (p.c - f.c) * (p.c - f.c)), -1) AS BIGINT) AS d2
       |FROM px p LEFT JOIN ft f ON f.tile_id = p.tile_id
       |GROUP BY p.cell_id ORDER BY p.cell_id""".stripMargin
  }

  // ---- q176: DISSOLVE / UNION AREA — exact area of the union of each
  // class's protected-area rectangles (GIS Dissolve: merge overlapping
  // footprints, report merged area; the raw-vs-union gap is exactly the
  // double-counted overlap). Engine: classic SLAB DECOMPOSITION made
  // distributed — class-local x boundaries become slabs via one lead()
  // window, rects range-join onto the slabs they span, and each
  // (class, slab)'s y intervals are merged by a single fold (aggregate
  // HOF over the sort_array'd intervals — sorted-merge sweep, all
  // integer). Area = Σ slab_width × merged_y_length. The slab frame
  // scales with distinct x bounds per class, never with area; the
  // interval fold is the only per-slab work. The oracle computes union
  // area by a DIFFERENT definition entirely — counting the distinct
  // unit cells covered by ≥1 rectangle (union area of integer rects ==
  // covered-cell count) — so sweep bookkeeping is pinned against
  // point-set coverage, not re-derived. ------------------------------------
  private val RuN = 40

  private def q176(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s.range(0, RuN).select(
      (col("id") % 3).cast("int").as("cls"),
      (World.h2Col(col("id") * 31 + 7) % (C - 32)).as("x0"),
      (World.h2Col(col("id") * 41 + 13) % (spec.rows - 24)).as("y0"),
      (lit(8) + World.h2Col(col("id") * 37 + 11) % 25).as("w"),
      (lit(8) + World.h2Col(col("id") * 43 + 17) % 17).as("h"))
      .select(col("cls"), col("x0"), col("y0"),
        (col("x0") + col("w")).as("x1"), (col("y0") + col("h")).as("y1"))
    val slabs = base.select(col("cls"),
        explode(array(col("x0"), col("x1"))).as("xs"))
      .distinct()
      .withColumn("xe", lead("xs", 1).over(
        Window.partitionBy("cls").orderBy("xs")))
      .filter(col("xe").isNotNull)
    val frag = slabs.join(base, Seq("cls"))
      .filter(col("x0") <= col("xs") && col("x1") >= col("xe"))
    val zero = struct(lit(0L).as("tot"), lit(-1L).as("cs"), lit(-1L).as("ce"))
    val merged = frag.groupBy("cls", "xs", "xe")
      .agg(sort_array(collect_list(struct(col("y0"), col("y1")))).as("iv"))
      .select(col("cls"), (col("xe") - col("xs")).as("wd"),
        aggregate(col("iv"), zero,
          (acc, e) => struct(
            when(acc("ce") < 0, lit(0L))
              .when(e("y0") > acc("ce"),
                acc("tot") + acc("ce") - acc("cs"))
              .otherwise(acc("tot")).as("tot"),
            when(acc("ce") < 0, e("y0"))
              .when(e("y0") > acc("ce"), e("y0"))
              .otherwise(acc("cs")).as("cs"),
            when(acc("ce") < 0, e("y1"))
              .when(e("y0") > acc("ce"), e("y1"))
              .otherwise(greatest(acc("ce"), e("y1"))).as("ce")),
          acc => when(acc("ce") < 0, lit(0L))
            .otherwise(acc("tot") + acc("ce") - acc("cs"))).as("ylen"))
    val union = merged.groupBy("cls")
      .agg(sum(col("wd") * col("ylen")).as("union_area"))
    val raw = base.groupBy("cls")
      .agg(sum((col("x1") - col("x0")) * (col("y1") - col("y0")))
        .as("raw_area"))
    union.join(raw, Seq("cls")).orderBy("cls")
  }

  private def q176Sql: String =
    s"""WITH rects AS (SELECT CAST(r.range % 3 AS INT) AS cls,
       |    ${h2Sql("r.range * 31 + 7")} % ${C - 32} AS x0,
       |    ${h2Sql("r.range * 41 + 13")} % ${spec.rows - 24} AS y0,
       |    8 + ${h2Sql("r.range * 37 + 11")} % 25 AS w,
       |    8 + ${h2Sql("r.range * 43 + 17")} % 17 AS h
       |  FROM range($RuN) r),
       |rr AS (SELECT cls, x0, y0, x0 + w AS x1, y0 + h AS y1 FROM rects),
       |cx AS (SELECT c.range % $C AS x, c.range // $C AS y
       |  FROM range(${C * spec.rows}) c),
       |cov AS (SELECT DISTINCT r.cls, c.x, c.y FROM cx c JOIN rr r
       |  ON c.x >= r.x0 AND c.x < r.x1 AND c.y >= r.y0 AND c.y < r.y1)
       |SELECT v.cls, CAST(COUNT(*) AS BIGINT) AS union_area,
       |  CAST(MIN(ra.s) AS BIGINT) AS raw_area
       |FROM cov v JOIN (SELECT cls, SUM((x1 - x0) * (y1 - y0)) AS s
       |  FROM rr GROUP BY 1) ra ON ra.cls = v.cls
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q177: SEGMENT-INTERSECTION JOIN — which road segments cross
  // which boundary segments (the line×line spatial join under network
  // conflation, crossing detection, topology validation). Exact
  // integer predicate: the full orientation test (strict straddle OR a
  // zero cross product with an on-segment bbox check, so endpoint
  // touches and collinear overlaps count) composed from plain Column
  // arithmetic — no UDF, no custom Expression, the whole predicate
  // stays in codegen. Scale shape: each segment explodes to the
  // 256-unit grid cells its bbox covers (≤ 3×3 here), the layers
  // shuffle-join on the cell, and each qualifying pair is counted
  // EXACTLY ONCE via canonical-cell ownership — the pair is kept only
  // in cell (max of the two min-cell xs, max of the two min-cell ys),
  // which is always inside both bbox cell ranges when the bboxes
  // overlap. The oracle brutes ALL layer-A × layer-B pairs with the
  // same predicate and NO cells — validating the bucketing + ownership
  // dedup drops nothing and duplicates nothing. -----------------------------
  private val SxN = 60
  private val SxField = 1024
  private val SxCellShift = 8

  /** One segment layer: integer endpoints in [0, SxField)², length
    * components in [-300, 300], clamped in-bounds. */
  private def segLayer(s: SparkSession, m1: Int, m2: Int, m3: Int,
      m4: Int, n: Long = SxN): DataFrame = {
    val ax = World.h2Col(col("id") * m1 + 1) % SxField
    val ay = World.h2Col(col("id") * m2 + 2) % SxField
    val bx = greatest(lit(0L),
      least(lit(SxField - 1L), ax + World.h2Col(col("id") * m3 + 3) % 601 - 300))
    val by = greatest(lit(0L),
      least(lit(SxField - 1L), ay + World.h2Col(col("id") * m4 + 4) % 601 - 300))
    s.range(0, n).select(col("id").as("sid"),
      ax.as("ax"), ay.as("ay"), bx.as("bx"), by.as("by"))
  }

  /** Exact segment-intersection predicate over column arithmetic:
    * strict straddle on both segments, or any zero orientation with the
    * collinear-endpoint-in-bbox check. */
  private def segIntersects(
      ax: Column, ay: Column, bx: Column, by: Column,
      cx: Column, cy: Column, dx: Column, dy: Column): Column = {
    def orient(px: Column, py: Column, qx: Column, qy: Column,
        rx: Column, ry: Column): Column =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    def onSeg(px: Column, py: Column, qx: Column, qy: Column,
        rx: Column, ry: Column): Column =
      rx >= least(px, qx) && rx <= greatest(px, qx) &&
        ry >= least(py, qy) && ry <= greatest(py, qy)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    (((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
      ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))) ||
      (o1 === 0 && onSeg(ax, ay, bx, by, cx, cy)) ||
      (o2 === 0 && onSeg(ax, ay, bx, by, dx, dy)) ||
      (o3 === 0 && onSeg(cx, cy, dx, dy, ax, ay)) ||
      (o4 === 0 && onSeg(cx, cy, dx, dy, bx, by))
  }

  /** Explode a segment layer to the grid cells its bbox covers,
    * carrying the bbox min cell for ownership dedup. */
  private def segCells(layer: DataFrame, p: String): DataFrame = {
    val minCx = shiftright(least(col("ax"), col("bx")), SxCellShift)
    val maxCx = shiftright(greatest(col("ax"), col("bx")), SxCellShift)
    val minCy = shiftright(least(col("ay"), col("by")), SxCellShift)
    val maxCy = shiftright(greatest(col("ay"), col("by")), SxCellShift)
    layer
      .withColumn("mcx", minCx).withColumn("mcy", minCy)
      .withColumn("cx", explode(sequence(minCx, maxCx)))
      .withColumn("cy", explode(sequence(col("mcy"), maxCy)))
      .select(col("cx"), col("cy"), col("mcx"), col("mcy"),
        col("sid").as(s"${p}id"), col("ax").as(s"${p}ax"),
        col("ay").as(s"${p}ay"), col("bx").as(s"${p}bx"),
        col("by").as(s"${p}by"))
  }

  private def q177(s: SparkSession, dir: String): DataFrame = {
    val a = segCells(segLayer(s, 53, 59, 61, 67), "a")
      .withColumnRenamed("mcx", "amcx").withColumnRenamed("mcy", "amcy")
    val b = segCells(segLayer(s, 71, 73, 79, 83), "b")
      .withColumnRenamed("mcx", "bmcx").withColumnRenamed("mcy", "bmcy")
    a.join(b, Seq("cx", "cy"))
      .filter(col("cx") === greatest(col("amcx"), col("bmcx")) &&
        col("cy") === greatest(col("amcy"), col("bmcy")))
      .filter(segIntersects(
        col("aax"), col("aay"), col("abx"), col("aby"),
        col("bax"), col("bay"), col("bbx"), col("bby")))
      .select(col("aid").as("a_id"), col("bid").as("b_id"))
      .orderBy("a_id", "b_id")
  }

  private def q177Sql: String = {
    def layerSql(m1: Int, m2: Int, m3: Int, m4: Int) =
      s"""SELECT r.range AS sid,
         |    ${h2Sql(s"r.range * $m1 + 1")} % $SxField AS ax,
         |    ${h2Sql(s"r.range * $m2 + 2")} % $SxField AS ay,
         |    GREATEST(0, LEAST(${SxField - 1},
         |      ${h2Sql(s"r.range * $m1 + 1")} % $SxField
         |        + ${h2Sql(s"r.range * $m3 + 3")} % 601 - 300)) AS bx,
         |    GREATEST(0, LEAST(${SxField - 1},
         |      ${h2Sql(s"r.range * $m2 + 2")} % $SxField
         |        + ${h2Sql(s"r.range * $m4 + 4")} % 601 - 300)) AS by
         |  FROM range($SxN) r""".stripMargin
    val o = Seq(
      ("o1", "a.ax", "a.ay", "a.bx", "a.by", "b.ax", "b.ay"),
      ("o2", "a.ax", "a.ay", "a.bx", "a.by", "b.bx", "b.by"),
      ("o3", "b.ax", "b.ay", "b.bx", "b.by", "a.ax", "a.ay"),
      ("o4", "b.ax", "b.ay", "b.bx", "b.by", "a.bx", "a.by"))
      .map { case (n, px, py, qx, qy, rx, ry) =>
        s"($qx - $px) * ($ry - $py) - ($qy - $py) * ($rx - $px) AS $n"
      }.mkString(",\n|    ")
    def onSeg(px: String, py: String, qx: String, qy: String,
        rx: String, ry: String) =
      s"($rx >= LEAST($px, $qx) AND $rx <= GREATEST($px, $qx) " +
        s"AND $ry >= LEAST($py, $qy) AND $ry <= GREATEST($py, $qy))"
    s"""WITH la AS (${layerSql(53, 59, 61, 67)}),
       |lb AS (${layerSql(71, 73, 79, 83)}),
       |pr AS (SELECT a.sid AS a_id, b.sid AS b_id,
       |    a.ax AS aax, a.ay AS aay, a.bx AS abx, a.by AS aby,
       |    b.ax AS bax, b.ay AS bay, b.bx AS bbx, b.by AS bby,
       |    $o
       |  FROM la a, lb b)
       |SELECT a_id, b_id FROM pr
       |WHERE (((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
       |    AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0)))
       |  OR (o1 = 0 AND ${onSeg("aax", "aay", "abx", "aby", "bax", "bay")})
       |  OR (o2 = 0 AND ${onSeg("aax", "aay", "abx", "aby", "bbx", "bby")})
       |  OR (o3 = 0 AND ${onSeg("bax", "bay", "bbx", "bby", "aax", "aay")})
       |  OR (o4 = 0 AND ${onSeg("bax", "bay", "bbx", "bby", "abx", "aby")})
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- q178: SNAP TO NEAREST SEGMENT — linear referencing / map
  // matching: each GPS-like point snaps to its nearest road segment,
  // reporting the EXACT squared distance and the exact measure along
  // the segment, both as integer rationals (num/den with den = |w|²,
  // or den = 1 for endpoint/degenerate snaps) — no float enters the
  // argmin. Selection is an aggregate-HOF fold over the candidate list
  // with cross-multiplied comparisons (products ≤ 2^57; the 2^44
  // sentinel keeps the first compare overflow-free), ties to the
  // smallest segment id. Scale shape: q174's economics — points probe
  // their 3×3 256-unit cell neighborhood, segments post their bbox
  // cells, candidates join on the cell; pruning is licensed by every
  // point's true min distance being < one cell (spec brute-verifies —
  // then the nearest segment's closest point shares a neighborhood
  // cell by the ∞-norm bound). The oracle brutes ALL point×segment
  // pairs and picks the argmin by a NOT-EXISTS rational compare —
  // no cells, no fold. ---------------------------------------------------------
  private val SnapPts = 200
  private val SnapSegs = 80

  private def q178(s: SparkSession, dir: String): DataFrame = {
    val pts = s.range(0, SnapPts).select(col("id").as("pid"),
      (World.h2Col(col("id") * 107 + 5) % SxField).as("px"),
      (World.h2Col(col("id") * 109 + 6) % SxField).as("py"))
    val probe = pts
      .withColumn("pcx", shiftright(col("px"), SxCellShift))
      .withColumn("pcy", shiftright(col("py"), SxCellShift))
      .withColumn("cx", explode(sequence(
        greatest(col("pcx") - 1, lit(0L)),
        least(col("pcx") + 1, lit((SxField >> SxCellShift) - 1L)))))
      .withColumn("cy", explode(sequence(
        greatest(col("pcy") - 1, lit(0L)),
        least(col("pcy") + 1, lit((SxField >> SxCellShift) - 1L)))))
      .select("pid", "px", "py", "cx", "cy")
    val post = segCells(segLayer(s, 89, 97, 101, 103, SnapSegs), "s")
      .select("cx", "cy", "sid", "sax", "say", "sbx", "sby")
    val vx = col("px") - col("sax"); val vy = col("py") - col("say")
    val wx = col("sbx") - col("sax"); val wy = col("sby") - col("say")
    val ww = wx * wx + wy * wy
    val dot = vx * wx + vy * wy
    val vv = vx * vx + vy * vy
    val pb2 = (col("px") - col("sbx")) * (col("px") - col("sbx")) +
      (col("py") - col("sby")) * (col("py") - col("sby"))
    val endish = ww === 0 || dot <= 0 || dot >= ww
    val cand = probe.join(post, Seq("cx", "cy"))
      .dropDuplicates("pid", "sid")
      .select(col("pid"), col("sid"),
        when(ww === 0 || dot <= 0, vv)
          .when(dot >= ww, pb2)
          .otherwise(vv * ww - dot * dot).as("num"),
        when(endish, lit(1L)).otherwise(ww).as("den"),
        when(ww === 0 || dot <= 0, lit(0L))
          .when(dot >= ww, ww)
          .otherwise(dot).as("m"))
    val sent = struct(lit(1L << 44).as("num"), lit(1L).as("den"),
      lit(0L).as("m"), lit(Long.MaxValue).as("sid"))
    cand.groupBy("pid")
      .agg(collect_list(struct(col("num"), col("den"), col("m"),
        col("sid"))).as("cs"))
      .select(col("pid"), aggregate(col("cs"), sent, (acc, e) => {
        val better = e("num") * acc("den") < acc("num") * e("den") ||
          (e("num") * acc("den") === acc("num") * e("den") &&
            e("sid") < acc("sid"))
        struct(when(better, e("num")).otherwise(acc("num")).as("num"),
          when(better, e("den")).otherwise(acc("den")).as("den"),
          when(better, e("m")).otherwise(acc("m")).as("m"),
          when(better, e("sid")).otherwise(acc("sid")).as("sid"))
      }).as("b"))
      .select(col("pid"), col("b.sid").as("sid"), col("b.num").as("num"),
        col("b.den").as("den"), col("b.m").as("m"))
      .orderBy("pid")
  }

  private def q178Sql: String = {
    def seg(m1: Int, m2: Int, m3: Int, m4: Int) =
      s"""SELECT r.range AS sid,
         |    ${h2Sql(s"r.range * $m1 + 1")} % $SxField AS ax,
         |    ${h2Sql(s"r.range * $m2 + 2")} % $SxField AS ay,
         |    GREATEST(0, LEAST(${SxField - 1},
         |      ${h2Sql(s"r.range * $m1 + 1")} % $SxField
         |        + ${h2Sql(s"r.range * $m3 + 3")} % 601 - 300)) AS bx,
         |    GREATEST(0, LEAST(${SxField - 1},
         |      ${h2Sql(s"r.range * $m2 + 2")} % $SxField
         |        + ${h2Sql(s"r.range * $m4 + 4")} % 601 - 300)) AS by
         |  FROM range($SnapSegs) r"""
    s"""WITH pts AS (SELECT r.range AS pid,
       |    ${h2Sql("r.range * 107 + 5")} % $SxField AS px,
       |    ${h2Sql("r.range * 109 + 6")} % $SxField AS py
       |  FROM range($SnapPts) r),
       |segs AS (${seg(89, 97, 101, 103)}),
       |cand AS (SELECT p.pid, s.sid,
       |    (px - ax) * (px - ax) + (py - ay) * (py - ay) AS vv,
       |    (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS ww,
       |    (px - ax) * (bx - ax) + (py - ay) * (by - ay) AS dt,
       |    (px - bx) * (px - bx) + (py - by) * (py - by) AS pb2
       |  FROM pts p, segs s),
       |rt AS (SELECT pid, sid,
       |    CASE WHEN ww = 0 OR dt <= 0 THEN vv
       |         WHEN dt >= ww THEN pb2
       |         ELSE vv * ww - dt * dt END AS num,
       |    CASE WHEN ww = 0 OR dt <= 0 OR dt >= ww THEN 1
       |         ELSE ww END AS den,
       |    CASE WHEN ww = 0 OR dt <= 0 THEN 0
       |         WHEN dt >= ww THEN ww
       |         ELSE dt END AS m
       |  FROM cand)
       |SELECT c.pid, CAST(c.sid AS BIGINT) AS sid,
       |  CAST(c.num AS BIGINT) AS num, CAST(c.den AS BIGINT) AS den,
       |  CAST(c.m AS BIGINT) AS m
       |FROM rt c
       |WHERE NOT EXISTS (SELECT 1 FROM rt c2 WHERE c2.pid = c.pid
       |  AND (c2.num * c.den < c.num * c2.den
       |    OR (c2.num * c.den = c.num * c2.den AND c2.sid < c.sid)))
       |ORDER BY c.pid""".stripMargin
  }

  // ---- q179: LOCAL BINARY PATTERN texture codes — the classic
  // rotation-sensitive 8-bit texture descriptor (census transform
  // family) under texture classification and training-image filtering:
  // bit k set iff queen neighbor k (clockwise from top-left) >= the
  // center pixel, out-of-grid neighbors contribute 0. Plus the
  // uniformity measure u = circular 0<->1 transition count, derived
  // from the code by plain bit arithmetic in BOTH engines (a uniform
  // pattern has u <= 2 — the standard LBP histogram bucketing rule).
  // Engine: the q93 halo-exchange frame (ONE shuffle), one Lbp
  // expression call per tile patch, codegen bit ops for u. Oracle: the
  // shared guarded-stencil fragments compute the same 8 comparisons
  // straight from the band formulas. ---------------------------------------
  private def q179(s: SparkSession, dir: String): DataFrame = {
    def bit(i: Int): Column =
      shiftright(col("lbp"), i).bitwiseAND(lit(1L))
    val u = (0 until 8).map(i => abs(bit(i) - bit((i + 1) % 8)))
      .reduce(_ + _).cast("int")
    haloPatches(s, spec)
      .select(col("dest_tile"),
        posexplode(graft.sql.GraftFunctions
          .lbp(col("pv.pos"), col("pv.v"), T)).as(Seq("p", "lbp")))
      .filter(col("lbp") >= 0)
      .select(spec.cellOf(col("dest_tile"), col("p")).as("cell_id"), col("lbp"))
      .withColumn("u", u)
      .orderBy("cell_id")
  }

  private def q179Sql: String = {
    val order = Seq((-1, -1), (-1, 0), (-1, 1), (0, 1),
      (1, 1), (1, 0), (1, -1), (0, -1))
    val code = order.zipWithIndex.map { case ((dy, dx), k) =>
      s"(CASE WHEN ${nbrValidSql(dy, dx)} AND ${nbrBandSql(dy, dx)} >= ctr" +
        s" THEN ${1 << k} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val u = (0 until 8).map { i =>
      s"(CASE WHEN ((lbp >> $i) & 1) <> ((lbp >> ${(i + 1) % 8}) & 1)" +
        " THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""$cellsCte,
       |pts AS (SELECT cell_id,
       |    CAST(FLOOR((cell_id - 1) / $C) AS BIGINT) AS r0,
       |    (cell_id - 1) % $C AS c0 FROM cells),
       |ctr AS (SELECT cell_id, r0, c0,
       |    CAST(${bandSql("cell_id", 1)} AS BIGINT) AS ctr FROM pts),
       |l AS (SELECT cell_id, $code AS lbp FROM ctr)
       |SELECT cell_id, CAST(lbp AS BIGINT) AS lbp, CAST($u AS INT) AS u
       |FROM l ORDER BY cell_id""".stripMargin
  }

  // ---- q180: ADAPTIVE QUADTREE AGGREGATION — multi-resolution raster
  // summarization (the tiling decision under pyramid serving, variable-
  // rate compression, adaptive sampling): a tile splits into quadrants
  // wherever the exact integer variance test n·Σv² − (Σv)² > τ·n²
  // fires, recursively 16→8→4→2, and each LEAF emits (level, coords,
  // n, sum, D). The fixture field mixes four regimes in a 16-px
  // checker (constant, slope-10 ramp, slope-20 ramp, hash noise) whose
  // exact block variances land leaves at every level by construction
  // (4250/1050 and 17000/4200/1000 against τ=4000 — all integer, no
  // boundary flakiness). Scale shape: ONE pixel Exchange builds the
  // 2×2 base blocks; every coarser level and every split decision
  // rolls up from frames 4× smaller each step — the classic reduction
  // pyramid, never a second pass over pixels. Oracle: the identical
  // level CTEs + split joins in SQL. ----------------------------------------
  private val QtTau = 4000L

  private def q180(s: SparkSession, dir: String): DataFrame = {
    val x = spec.col0Of(cellCol)
    val y = spec.row0Of(cellCol)
    val regime = (shiftright(x, 4) + shiftright(y, 4)) % 4
    val v = when(regime === 0, lit(7L))
      .when(regime === 1, (x + y) * 10L)
      .when(regime === 2, (x + y) * 20L)
      .otherwise(World.h2Col(cellCol * 3 + 11) % 256)
    val pix = spec.pixOf(cellCol)
    val px = spine(s).select(spec.tileOf(cellCol).as("tile_id"),
      shiftright(pix, 4).as("r"), (pix % T).as("c"), v.as("v"))
    def roll(child: DataFrame): DataFrame = child
      .groupBy(col("tile_id"), shiftright(col("br"), 1).as("nbr"),
        shiftright(col("bc"), 1).as("nbc"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("q")).as("q"))
      .withColumnRenamed("nbr", "br").withColumnRenamed("nbc", "bc")
    // ONE pass over pixels: the 2x2 base frame is lineage-truncated
    // (materialized once), the whole pyramid of split flags rolls up
    // from it through frames 4x smaller each level, and every base
    // block is then classified by the deepest non-split ancestor and
    // re-aggregated to its leaf — no branch ever rescans pixels (the
    // earlier union-of-branches draft recomputed the pyramid 4x; this
    // is the shape the comment above promises).
    val b2 = graft.engine.Checkpoint.truncateOnce(s,
      px.groupBy(col("tile_id"), shiftright(col("r"), 1).as("br"),
          shiftright(col("c"), 1).as("bc"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(col("v") * col("v")).as("q")))
    val b4 = roll(b2)
    val b8 = roll(b4)
    val b16 = roll(b8)
    def split: Column =
      (col("n") * col("q") - col("s") * col("s")) >
        lit(QtTau) * col("n") * col("n")
    // tiny per-level split-flag frames, every key renamed (shared
    // lineage would otherwise collapse both join sides to one
    // attribute — the "trivially true equals" trap)
    val k16 = b16.select(col("tile_id").as("t16"), split.as("sp16"))
    val k8 = b8.select(col("tile_id").as("t8"), col("br").as("r8"),
      col("bc").as("c8"), split.as("sp8"))
    val k4 = b4.select(col("tile_id").as("t4"), col("br").as("r4"),
      col("bc").as("c4"), split.as("sp4"))
    val lvl = when(!col("sp16"), 16).when(!col("sp8"), 8)
      .when(!col("sp4"), 4).otherwise(2)
    def atLeaf(c: Column): Column =
      when(col("level") === 16, shiftright(c, 3))
        .when(col("level") === 8, shiftright(c, 2))
        .when(col("level") === 4, shiftright(c, 1))
        .otherwise(c)
    b2
      .join(broadcast(k16), col("tile_id") === col("t16"))
      .join(broadcast(k8), col("tile_id") === col("t8") &&
        shiftright(col("br"), 2) === col("r8") &&
        shiftright(col("bc"), 2) === col("c8"))
      .join(broadcast(k4), col("tile_id") === col("t4") &&
        shiftright(col("br"), 1) === col("r4") &&
        shiftright(col("bc"), 1) === col("c4"))
      .withColumn("level", lvl)
      .groupBy(col("tile_id"), col("level"),
        atLeaf(col("br")).as("br"), atLeaf(col("bc")).as("bc"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("q")).as("q"))
      .select(col("tile_id"), col("level"), col("br"), col("bc"),
        col("n"), col("s"),
        (col("n") * col("q") - col("s") * col("s")).as("d"))
      .orderBy("tile_id", "level", "br", "bc")
  }

  private def q180Sql: String = {
    val x = s"((cell_id - 1) % $C)"
    val y = s"((cell_id - 1) // $C)"
    s"""$cellsCte,
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    ((${rowSql("cell_id")} - 1) % $T) AS r,
       |    ((cell_id - 1) % $C) % $T AS c,
       |    CASE ((($x) // 16) + (($y) // 16)) % 4
       |      WHEN 0 THEN 7
       |      WHEN 1 THEN (($x) + ($y)) * 10
       |      WHEN 2 THEN (($x) + ($y)) * 20
       |      ELSE ${h2Sql("cell_id * 3 + 11")} % 256 END AS v
       |  FROM cells),
       |b2 AS (SELECT tile_id, r // 2 AS br, c // 2 AS bc,
       |    COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q
       |  FROM px GROUP BY 1, 2, 3),
       |b4 AS (SELECT tile_id, br // 2 AS br, bc // 2 AS bc,
       |    SUM(n) AS n, SUM(s) AS s, SUM(q) AS q FROM b2 GROUP BY 1, 2, 3),
       |b8 AS (SELECT tile_id, br // 2 AS br, bc // 2 AS bc,
       |    SUM(n) AS n, SUM(s) AS s, SUM(q) AS q FROM b4 GROUP BY 1, 2, 3),
       |b16 AS (SELECT tile_id, br // 2 AS br, bc // 2 AS bc,
       |    SUM(n) AS n, SUM(s) AS s, SUM(q) AS q FROM b8 GROUP BY 1, 2, 3),
       |t2 AS (SELECT *, n * q - s * s AS d, n * q - s * s > $QtTau * n * n
       |    AS sp FROM b2),
       |t4 AS (SELECT *, n * q - s * s AS d, n * q - s * s > $QtTau * n * n
       |    AS sp FROM b4),
       |t8 AS (SELECT *, n * q - s * s AS d, n * q - s * s > $QtTau * n * n
       |    AS sp FROM b8),
       |t16 AS (SELECT *, n * q - s * s AS d, n * q - s * s > $QtTau * n * n
       |    AS sp FROM b16),
       |l16 AS (SELECT tile_id, 16 AS level, br, bc, n, s, d FROM t16
       |  WHERE NOT sp),
       |l8 AS (SELECT t.tile_id, 8 AS level, t.br, t.bc, t.n, t.s, t.d
       |  FROM t8 t JOIN t16 p ON p.tile_id = t.tile_id WHERE p.sp
       |    AND NOT t.sp),
       |k8 AS (SELECT t.tile_id, t.br, t.bc, t.sp FROM t8 t
       |  JOIN t16 p ON p.tile_id = t.tile_id WHERE p.sp),
       |l4 AS (SELECT t.tile_id, 4 AS level, t.br, t.bc, t.n, t.s, t.d
       |  FROM t4 t JOIN k8 p ON p.tile_id = t.tile_id
       |    AND p.br = t.br // 2 AND p.bc = t.bc // 2
       |  WHERE p.sp AND NOT t.sp),
       |k4 AS (SELECT t.tile_id, t.br, t.bc, t.sp FROM t4 t
       |  JOIN k8 p ON p.tile_id = t.tile_id
       |    AND p.br = t.br // 2 AND p.bc = t.bc // 2 WHERE p.sp),
       |l2 AS (SELECT t.tile_id, 2 AS level, t.br, t.bc, t.n, t.s, t.d
       |  FROM t2 t JOIN k4 p ON p.tile_id = t.tile_id
       |    AND p.br = t.br // 2 AND p.bc = t.bc // 2 WHERE p.sp),
       |u AS (SELECT * FROM l16 UNION ALL SELECT * FROM l8
       |  UNION ALL SELECT * FROM l4 UNION ALL SELECT * FROM l2)
       |SELECT tile_id, CAST(level AS INT) AS level, CAST(br AS BIGINT) AS br,
       |  CAST(bc AS BIGINT) AS bc, CAST(n AS BIGINT) AS n,
       |  CAST(s AS BIGINT) AS s, CAST(d AS BIGINT) AS d
       |FROM u ORDER BY tile_id, level, br, bc""".stripMargin
  }

  // ---- q181: TRAJECTORY STAY-POINT DETECTION — the trajectory-mining
  // primitive (home/work discovery, POI visits, dwell analytics): a
  // ping run stays in one segment while each step's squared
  // displacement is <= R² (18: normal walk steps are |d| <= 3 per
  // axis), and breaks where a jump exceeds it; maximal segments with
  // >= 5 pings emit as stays with exact centroid numerators (Σx, Σy,
  // n) and the visit span. Deterministic random-walk fixture: per-ping
  // integer steps from the h2 chain with sparse ±40-magnitude jumps —
  // positions are windowed prefix sums, all integer. Scale shape: ONE
  // Exchange on entity for the two cumulative windows (position +
  // segment id); the segment aggregation reuses the same partitioning
  // (entity ⊆ grouping key), so no second shuffle. The oracle mirrors
  // the windows in DuckDB SQL verbatim. --------------------------------------
  private val SpE = 20
  private val SpP = 100

  /** The shared random-walk ping frame: (e, t, dx, dy, x, y, seg) with
    * positions as windowed prefix sums from per-entity starts — ONE
    * Exchange on entity. Engine twin of walkStepSql. */
  private def walkPings(s: SparkSession, x0: Column, y0: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = s.range(0, SpE.toLong * SpP).select(
      (col("id") / SpP).cast("long").as("e"),
      (col("id") % SpP).as("t"),
      when(col("id") % SpP === 0, 0L).otherwise(
        World.h2Col(col("id") * 13 + 1) % 7 - 3 +
          when(World.h2Col(col("id") * 19 + 2) % 17 === 0,
            World.h2Col(col("id") * 23 + 3) % 81 - 40).otherwise(0L))
        .as("dx"),
      when(col("id") % SpP === 0, 0L).otherwise(
        World.h2Col(col("id") * 29 + 4) % 7 - 3 +
          when(World.h2Col(col("id") * 19 + 2) % 17 === 0,
            World.h2Col(col("id") * 31 + 5) % 81 - 40).otherwise(0L))
        .as("dy"))
    val w = Window.partitionBy("e").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.select(col("e"), col("t"),
      (x0 + sum(col("dx")).over(w)).as("x"),
      (y0 + sum(col("dy")).over(w)).as("y"),
      sum(when(col("dx") * col("dx") + col("dy") * col("dy") > 18, 1L)
        .otherwise(0L)).over(w).as("seg"))
  }

  /** The q181 stay frame (>= 5-ping segments of the start-500 walk),
    * shared with q189's revisit rollup. */
  private def staysFrame(s: SparkSession): DataFrame =
    walkPings(s, lit(500L), lit(500L)).groupBy("e", "seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), min(col("t")).as("t0"),
        max(col("t")).as("t1"))
      .filter(col("n") >= 5)

  private def q181(s: SparkSession, dir: String): DataFrame =
    staysFrame(s).orderBy("e", "seg")

  /** The q181/q182 walk-step formula in SQL (kept beside the engine's
    * column twin in q181/q182). */
  private def walkStepSql(m1: Int, a1: Int, m2: Int, a2: Int): String =
    s"""CASE WHEN r.range % $SpP = 0 THEN 0
       |      ELSE ${h2Sql(s"r.range * $m1 + $a1")} % 7 - 3
       |        + CASE WHEN ${h2Sql("r.range * 19 + 2")} % 17 = 0
       |          THEN ${h2Sql(s"r.range * $m2 + $a2")} % 81 - 40
       |          ELSE 0 END END"""

  private def q181Sql: String = {
    def step(m1: Int, a1: Int, m2: Int, a2: Int) =
      walkStepSql(m1, a1, m2, a2)
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${step(13, 1, 23, 3)} AS dx,
       |    ${step(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |walked AS (SELECT e, t,
       |    500 + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
       |    500 + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y,
       |    SUM(CASE WHEN dx * dx + dy * dy > 18 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY e ORDER BY t) AS seg
       |  FROM pings)
       |SELECT e, CAST(seg AS BIGINT) AS seg, COUNT(*) AS n,
       |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |  CAST(MIN(t) AS BIGINT) AS t0, CAST(MAX(t) AS BIGINT) AS t1
       |FROM walked GROUP BY 1, 2 HAVING COUNT(*) >= 5
       |ORDER BY e, seg""".stripMargin
  }

  // ---- q182: CO-LOCATION (RENDEZVOUS) JOIN — which entity pairs from
  // two fleets were ever within distance R AND within W ticks of each
  // other (contact tracing, convoy detection, rendezvous mining).
  // Predicate is exact integer: d² <= 100 and |Δt| <= 2 on the shared
  // random-walk frame, with per-entity scattered starts so contacts
  // come from genuine trajectory crossings. Scale shape: both fleets
  // bucket on (16-unit spatial cell, 4-tick time bucket); fleet A
  // explodes to its 3×3×3 neighborhood and joins fleet B's home
  // bucket — every qualifying ping pair matches via exactly ONE offset
  // (B's home bucket is unique), so no dedup pass is needed; bucket
  // sizes bound both the shuffle key cardinality and the candidate
  // volume. Contacts aggregate per (a, b) with an exact Σd² checksum.
  // The oracle brutes the full A×B ping cross product with the same
  // predicate and no buckets. ------------------------------------------------
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val x0 = lit(1500L) + World.h2Col(col("e") * 1009 + 7) % 128
    val y0 = lit(1500L) + World.h2Col(col("e") * 1013 + 8) % 128
    val pings = walkPings(s, x0, y0).select("e", "t", "x", "y")
    val a = pings.filter(col("e") < SpE / 2)
      .withColumn("ocx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("ocy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("otb", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("e").as("a_e"), col("t").as("a_t"),
        col("x").as("ax"), col("y").as("ay"),
        (shiftright(col("x"), 4) + col("ocx")).as("cx"),
        (shiftright(col("y"), 4) + col("ocy")).as("cy"),
        (shiftright(col("t"), 2) + col("otb")).as("tb"))
    val b = pings.filter(col("e") >= SpE / 2)
      .select(col("e").as("b_e"), col("t").as("b_t"),
        col("x").as("bx"), col("y").as("by"),
        shiftright(col("x"), 4).as("cx"), shiftright(col("y"), 4).as("cy"),
        shiftright(col("t"), 2).as("tb"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    a.join(b, Seq("cx", "cy", "tb"))
      .filter(d2 <= 100 && abs(col("a_t") - col("b_t")) <= 2)
      .groupBy("a_e", "b_e")
      .agg(count(lit(1)).as("n"), min(col("a_t")).as("first_t"),
        sum(d2).as("sum_d2"))
      .orderBy("a_e", "b_e")
  }

  private def q182Sql: String = {
    def walked(tbl: String, lo: Int, hi: Int) =
      s"""SELECT e, t,
         |    1500 + ${h2Sql("e * 1009 + 7")} % 128
         |      + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
         |    1500 + ${h2Sql("e * 1013 + 8")} % 128
         |      + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y
         |  FROM $tbl WHERE e >= $lo AND e < $hi"""
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |wa AS (${walked("pings", 0, SpE / 2)}),
       |wb AS (${walked("pings", SpE / 2, SpE)})
       |SELECT a.e AS a_e, b.e AS b_e, COUNT(*) AS n,
       |  CAST(MIN(a.t) AS BIGINT) AS first_t,
       |  CAST(SUM((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
       |    AS BIGINT) AS sum_d2
       |FROM wa a JOIN wb b
       |  ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 100
       | AND ABS(a.t - b.t) <= 2
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- q183: DBSCAN — density-based point clustering with noise (the
  // unsupervised geospatial classic: settlement detection, POI
  // densification, anomaly isolation). Deterministic semantics, all
  // integer: a point is CORE iff >= 5 points (self included) sit
  // within eps (d² <= 144); clusters are connected components of
  // core-core eps-adjacency labeled by the shared min-label engine
  // (the q56/q78/q119 machinery); a BORDER point joins the smallest
  // label among its in-eps cores (the deterministic replacement for
  // classic DBSCAN's scan-order border assignment); everything else is
  // NOISE. Fixture: 8 box clusters of 40 points + 80 uniform noise
  // points. Scale shape: neighbor counting and edge generation both
  // ride ONE 3×3 cell-bucket join (eps < cell size licenses it — same
  // argument as q174, here by construction: offsets are ±20); only
  // core-core edges enter the CC loop. Oracle: brute pairs, recursive-
  // CTE closure (the q119 pattern), min-label border CASE. -----------------
  private val DbEps2 = 144L

  private def q183(s: SparkSession, dir: String): DataFrame = {
    val k = floor(col("id") / 40).cast("long")
    val pts = s.range(0, 400).select(col("id").as("pid"),
      when(col("id") < 320,
        World.h2Col(k * 211 + 9) % 1024 +
          World.h2Col(col("id") * 227 + 11) % 41 - 20)
        .otherwise(World.h2Col(col("id") * 233 + 13) % 1024).as("x"),
      when(col("id") < 320,
        World.h2Col(k * 223 + 10) % 1024 +
          World.h2Col(col("id") * 229 + 12) % 41 - 20)
        .otherwise(World.h2Col(col("id") * 239 + 14) % 1024).as("y"))
    val probe = pts
      .withColumn("ox", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("oy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("pid"), col("x"), col("y"),
        (shiftright(col("x"), 4) + col("ox")).as("cx"),
        (shiftright(col("y"), 4) + col("oy")).as("cy"))
    val build = pts.select(col("pid").as("qid"), col("x").as("qx"),
      col("y").as("qy"), shiftright(col("x"), 4).as("cx"),
      shiftright(col("y"), 4).as("cy"))
    val d2 = (col("x") - col("qx")) * (col("x") - col("qx")) +
      (col("y") - col("qy")) * (col("y") - col("qy"))
    // materialized ONCE: the eps-neighborhood pair frame feeds three
    // consumers (core counting, core-core edge generation, border
    // assignment) — un-truncated, each consumer re-evaluates the 3×3
    // bucket join and its broadcast builds
    val cand = graft.engine.Checkpoint.truncate(s,
      probe.join(build, Seq("cx", "cy"))
        .filter(d2 <= DbEps2)
        .select(col("pid"), col("qid")))
    val coreSet = cand.groupBy("pid").agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= 5).select(col("pid").as("cpid"))
    val edges = cand
      .join(broadcast(coreSet), col("pid") === col("cpid")).drop("cpid")
      .join(broadcast(coreSet.withColumnRenamed("cpid", "cqid")),
        col("qid") === col("cqid")).drop("cqid")
      .filter(col("pid") < col("qid"))
    val labels = graft.engine.Components
      .minLabel(s, edges, "q183_dbscan")
    val coreLbl = coreSet.join(labels,
        col("cpid") === col("node_id"), "left")
      .select(col("cpid"), coalesce(col("lbl"), col("cpid")).as("cl"))
    val borderLbl = cand
      .join(broadcast(coreLbl), col("qid") === col("cpid"))
      .groupBy(col("pid")).agg(min(col("cl")).as("bcl"))
    pts.select(col("pid"))
      .join(broadcast(coreLbl.withColumnRenamed("cpid", "pid")
        .withColumnRenamed("cl", "ccl")), Seq("pid"), "left")
      .join(broadcast(borderLbl), Seq("pid"), "left")
      .select(col("pid"),
        when(col("ccl").isNotNull, 0)
          .when(col("bcl").isNotNull, 1).otherwise(2).as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster"))
      .orderBy("pid")
  }

  private def q183Sql: String =
    s"""WITH RECURSIVE pts AS (SELECT r.range AS pid,
       |    CASE WHEN r.range < 320
       |      THEN ${h2Sql("(r.range // 40) * 211 + 9")} % 1024
       |        + ${h2Sql("r.range * 227 + 11")} % 41 - 20
       |      ELSE ${h2Sql("r.range * 233 + 13")} % 1024 END AS x,
       |    CASE WHEN r.range < 320
       |      THEN ${h2Sql("(r.range // 40) * 223 + 10")} % 1024
       |        + ${h2Sql("r.range * 229 + 12")} % 41 - 20
       |      ELSE ${h2Sql("r.range * 239 + 14")} % 1024 END AS y
       |  FROM range(400) r),
       |pr AS (SELECT a.pid, b.pid AS qid FROM pts a JOIN pts b
       |  ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |    <= $DbEps2),
       |core AS (SELECT pid FROM pr GROUP BY pid HAVING COUNT(*) >= 5),
       |e0 AS (SELECT p.pid AS ca, p.qid AS cb FROM pr p
       |  JOIN core c1 ON c1.pid = p.pid JOIN core c2 ON c2.pid = p.qid
       |  WHERE p.pid < p.qid),
       |edges AS (SELECT ca, cb FROM e0 UNION ALL SELECT cb, ca FROM e0),
       |reach(pid, lbl) AS (
       |  SELECT pid, pid FROM core
       |  UNION
       |  SELECT e.cb, r.lbl FROM edges e JOIN reach r ON e.ca = r.pid),
       |lab AS (SELECT pid, MIN(lbl) AS cl FROM reach GROUP BY 1),
       |bord AS (SELECT p.pid, MIN(l.cl) AS bcl FROM pr p
       |  JOIN lab l ON l.pid = p.qid
       |  WHERE p.pid NOT IN (SELECT pid FROM core) GROUP BY 1)
       |SELECT p.pid,
       |  CAST(CASE WHEN l.cl IS NOT NULL THEN 0
       |       WHEN b.bcl IS NOT NULL THEN 1 ELSE 2 END AS INT) AS role,
       |  CAST(COALESCE(l.cl, b.bcl, -1) AS BIGINT) AS cluster
       |FROM pts p
       |LEFT JOIN lab l ON l.pid = p.pid
       |LEFT JOIN bord b ON b.pid = p.pid
       |ORDER BY p.pid""".stripMargin

  // ---- q184: CONVOY DETECTION — entity pairs traveling TOGETHER for
  // sustained stretches (convoy/flock mining; q182 finds that contacts
  // exist, this finds they PERSIST): a pair is co-located at tick t
  // when d² <= 400 at EQUAL t, and a convoy run is a maximal stretch
  // of consecutive co-located ticks; pairs qualify with a run >= 5.
  // The runs come from the gaps-and-islands idiom — island id =
  // t − ROW_NUMBER() over (pair, ORDER BY t) — in BOTH engines, so the
  // sequential notion costs two windowed passes, not a per-pair scan.
  // Scale shape: contacts ride the q182 bucket join with t IN THE JOIN
  // KEY (equal-tick contact needs no time-bucket explosion) and
  // 32-unit cells re-licensing the 3×3 neighborhood for R = 20; the
  // window partitions by (a, b) — the contact frame, already tiny
  // relative to pings. Output per convoy pair: longest run (ties to
  // the earliest start), its start tick, and the count of runs >= 5.
  // Oracle: brute equal-tick pairs + the same windows. --------------------
  private def q184(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x0 = lit(1500L) + World.h2Col(col("e") * 1009 + 7) % 128
    val y0 = lit(1500L) + World.h2Col(col("e") * 1013 + 8) % 128
    val pings = walkPings(s, x0, y0).select("e", "t", "x", "y")
    val a = pings.filter(col("e") < SpE / 2)
      .withColumn("ocx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("ocy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("e").as("a_e"), col("t"),
        col("x").as("ax"), col("y").as("ay"),
        (shiftright(col("x"), 5) + col("ocx")).as("cx"),
        (shiftright(col("y"), 5) + col("ocy")).as("cy"))
    val b = pings.filter(col("e") >= SpE / 2)
      .select(col("e").as("b_e"), col("t"),
        col("x").as("bx"), col("y").as("by"),
        shiftright(col("x"), 5).as("cx"), shiftright(col("y"), 5).as("cy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val contacts = a.join(b, Seq("cx", "cy", "t")).filter(d2 <= 400)
      .select(col("a_e"), col("b_e"), col("t"))
    val w = Window.partitionBy("a_e", "b_e").orderBy("t")
    val runs = contacts
      .withColumn("isl", col("t") - row_number().over(w))
      .groupBy("a_e", "b_e", "isl")
      .agg(count(lit(1)).as("len"), min(col("t")).as("t0"))
    runs.groupBy("a_e", "b_e")
      .agg(max(struct(col("len"), (-col("t0")).as("nt0"))).as("best"),
        sum(when(col("len") >= 5, 1L).otherwise(0L)).as("n_runs"))
      .filter(col("best.len") >= 5)
      .select(col("a_e"), col("b_e"), col("best.len").as("longest"),
        (-col("best.nt0")).as("start_t"), col("n_runs"))
      .orderBy("a_e", "b_e")
  }

  private def q184Sql: String = {
    def walked(lo: Int, hi: Int) =
      s"""SELECT e, t,
         |    1500 + ${h2Sql("e * 1009 + 7")} % 128
         |      + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
         |    1500 + ${h2Sql("e * 1013 + 8")} % 128
         |      + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y
         |  FROM pings WHERE e >= $lo AND e < $hi"""
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |wa AS (${walked(0, SpE / 2)}),
       |wb AS (${walked(SpE / 2, SpE)}),
       |contacts AS (SELECT a.e AS a_e, b.e AS b_e, a.t FROM wa a
       |  JOIN wb b ON b.t = a.t
       |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |      <= 400),
       |runs AS (SELECT a_e, b_e,
       |    t - ROW_NUMBER() OVER (PARTITION BY a_e, b_e ORDER BY t)
       |      AS isl, t
       |  FROM contacts),
       |agg AS (SELECT a_e, b_e, isl, COUNT(*) AS len, MIN(t) AS t0
       |  FROM runs GROUP BY 1, 2, 3),
       |best AS (SELECT a_e, b_e, len, t0, ROW_NUMBER() OVER
       |    (PARTITION BY a_e, b_e ORDER BY len DESC, t0 ASC) AS rn,
       |    SUM(CASE WHEN len >= 5 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY a_e, b_e) AS n_runs
       |  FROM agg)
       |SELECT a_e, b_e, CAST(len AS BIGINT) AS longest,
       |  CAST(t0 AS BIGINT) AS start_t, CAST(n_runs AS BIGINT) AS n_runs
       |FROM best WHERE rn = 1 AND len >= 5
       |ORDER BY a_e, b_e""".stripMargin
  }

  // ---- q185: HOME RANGE — per-entity minimum convex polygon over its
  // trajectory (THE classic movement-ecology range estimator, and the
  // trajectory family's composition with the q172 hull machinery):
  // each entity's 100 walk positions reduce through the same salted
  // two-level ConvexHull (hull of per-slice hulls == hull of the
  // track), emitting the exact integer doubled area and hull vertex
  // count. Positions are the q181 walk (starts 500, strictly positive
  // throughout — the 16-bit packing needs non-negative coords).
  // Oracle: the shared gift-wrapping CTE chain over the SQL walk —
  // hull algebra validated from the trajectory side too. -------------------
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val packed = walkPings(s, lit(500L), lit(500L))
      .select(col("e").as("g"), (col("x") * 65536L + col("y")).as("p"),
        ((col("x") + col("y") * 5) % FpSalts).as("salt"))
    packed.groupBy("g", "salt").agg(collect_set(col("p")).as("ps"))
      .select(col("g"),
        explode(convex_hull(col("ps")).getField("verts")).as("p"))
      .groupBy("g").agg(collect_set(col("p")).as("ps"))
      .select(col("g").as("e"), convex_hull(col("ps")).as("h"))
      .select(col("e"), col("h.area2").as("area2"),
        size(col("h.verts")).as("n_hull"))
      .orderBy("e")
  }

  private def q185Sql: String =
    s"""WITH RECURSIVE pings AS (SELECT r.range // $SpP AS e,
       |    r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |walked AS (SELECT e, t,
       |    500 + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
       |    500 + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y
       |  FROM pings),
       |d AS MATERIALIZED (SELECT DISTINCT e AS g, x, y FROM walked),
       |$giftWrapCtes
       |SELECT h.g AS e, CAST(ABS(a.t2) AS BIGINT) AS area2,
       |  CAST(h.nh AS INT) AS n_hull
       |FROM hh h JOIN ar a ON a.g = h.g
       |ORDER BY e""".stripMargin

  // ---- q187: BOUNDED SLIDING-WINDOW AGGREGATES — the centered moving
  // frame (ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), the one window
  // shape the registry's cumulative/full-partition windows don't
  // exercise: per ping, the 7-tick moving sum/max/count of the squared
  // step displacement (a movement-smoothing pass — dwell vs transit
  // emerges from the local displacement energy). Steps derive from
  // positions by one lag (t=0 coalesces to 0, the walk's own
  // convention), so the query is two windows over ONE entity-keyed
  // Exchange; frame edges (t<3, t>96) carry n_frame < 7 — the
  // truncated-frame semantics pinned exactly. All integers. Oracle:
  // the identical LAG + bounded frame in DuckDB. ----------------------------
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("e").orderBy("t")
    val wf = wo.rowsBetween(-3, 3)
    walkPings(s, lit(500L), lit(500L))
      .select(col("e"), col("t"),
        (coalesce(col("x") - lag("x", 1).over(wo), lit(0L)) *
          coalesce(col("x") - lag("x", 1).over(wo), lit(0L)) +
          coalesce(col("y") - lag("y", 1).over(wo), lit(0L)) *
            coalesce(col("y") - lag("y", 1).over(wo), lit(0L))).as("sd2"))
      .select(col("e"), col("t"),
        sum(col("sd2")).over(wf).as("mv_sum"),
        max(col("sd2")).over(wf).as("mv_max"),
        count(lit(1)).over(wf).cast("long").as("n_frame"))
      .orderBy("e", "t")
  }

  private def q187Sql: String =
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |walked AS (SELECT e, t,
       |    500 + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
       |    500 + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y
       |  FROM pings),
       |st AS (SELECT e, t,
       |    COALESCE(x - LAG(x, 1) OVER (PARTITION BY e ORDER BY t), 0)
       |      AS ddx,
       |    COALESCE(y - LAG(y, 1) OVER (PARTITION BY e ORDER BY t), 0)
       |      AS ddy
       |  FROM walked),
       |sd AS (SELECT e, t, ddx * ddx + ddy * ddy AS sd2 FROM st)
       |SELECT e, t,
       |  CAST(SUM(sd2) OVER w AS BIGINT) AS mv_sum,
       |  CAST(MAX(sd2) OVER w AS BIGINT) AS mv_max,
       |  CAST(COUNT(*) OVER w AS BIGINT) AS n_frame
       |FROM sd
       |WINDOW w AS (PARTITION BY e ORDER BY t
       |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |ORDER BY e, t""".stripMargin

  // ---- q188: TRACK SIMILARITY — pairwise discrete HAUSDORFF distance
  // between entity trajectories (the track-matching primitive under
  // route dedup, fleet-behavior clustering, map-trace conflation):
  // H²(A,B) = max(h(A→B), h(B→A)) where h(A→B) = max over a∈A of the
  // min squared distance to B — all exact integers, no DP, no float.
  // Composed shape: the pings self-join on unordered entity pairs
  // (e1 < e2), the directed min collapses per (pair, probe point, side)
  // and two nested max aggregations finish — at 100-TB track counts the
  // pair frame is bbox-prefiltered first (q102's shape); per-pair work
  // is |A|·|B| exactly like the oracle, which recomputes it from the
  // walk CTE with no composition. Output: the 10 most similar pairs
  // (smallest H²), ties to the smaller (e1, e2). -----------------------------
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val x0 = lit(1500L) + World.h2Col(col("e") * 1009 + 7) % 128
    val y0 = lit(1500L) + World.h2Col(col("e") * 1013 + 8) % 128
    val pings = walkPings(s, x0, y0).select("e", "t", "x", "y")
    val a = pings.select(col("e").as("ea"), col("t").as("ta"),
      col("x").as("xa"), col("y").as("ya"))
    val b = pings.select(col("e").as("eb"),
      col("x").as("xb"), col("y").as("yb"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    // directed h(A→B) for BOTH orientations of each unordered pair in
    // one frame: tag rows with (lo, hi, side)
    val probes = a.join(b, col("ea") =!= col("eb"))
      .select(least(col("ea"), col("eb")).as("e1"),
        greatest(col("ea"), col("eb")).as("e2"),
        when(col("ea") < col("eb"), 0).otherwise(1).as("side"),
        col("ea").as("pe"), col("ta"), d2.as("d2"))
      .groupBy("e1", "e2", "side", "pe", "ta")
      .agg(min(col("d2")).as("nn"))
    probes.groupBy("e1", "e2")
      .agg(max(col("nn")).as("h2"))
      .orderBy(col("h2"), col("e1"), col("e2"))
      .limit(10)
  }

  private def q188Sql: String =
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |walked AS (SELECT e, t,
       |    1500 + ${h2Sql("e * 1009 + 7")} % 128
       |      + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
       |    1500 + ${h2Sql("e * 1013 + 8")} % 128
       |      + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y
       |  FROM pings),
       |nn AS (SELECT a.e AS ea, b.e AS eb, a.t AS ta,
       |    MIN((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
       |      AS nn
       |  FROM walked a JOIN walked b ON b.e <> a.e
       |  GROUP BY 1, 2, 3),
       |h AS (SELECT LEAST(ea, eb) AS e1, GREATEST(ea, eb) AS e2,
       |    MAX(nn) AS h2
       |  FROM nn GROUP BY 1, 2)
       |SELECT e1, e2, CAST(h2 AS BIGINT) AS h2
       |FROM h ORDER BY h2, e1, e2 LIMIT 10""".stripMargin

  // ---- q189: REPEAT-VISIT ANALYSIS — the place-mining rollup on top
  // of q181's stays (home/work discovery proper: which PLACES does an
  // entity return to?): each stay maps to a 64-unit place cell via its
  // exact integer centroid floor (sx div n, truncating — both engines
  // on positive sums), stays collapse to (entity, place, visits), and
  // each entity reports stay/place counts plus its top place (most
  // visits, ties to the smallest place id via the min(struct) trick).
  // One more tiny aggregation ladder over the q181 frame — no new
  // shuffle of ping-sized data. Oracle: the q181 stays CTE + identical
  // integer place math. --------------------------------------------------------
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val places = staysFrame(s)
      .select(col("e"),
        (shiftright(expr("sx div n"), 6) * 1024 +
          shiftright(expr("sy div n"), 6)).as("pid"))
      .groupBy("e", "pid").agg(count(lit(1)).as("visits"))
    places.groupBy("e")
      .agg(sum(col("visits")).as("n_stays"),
        count(lit(1)).as("n_places"),
        min(struct((-col("visits")).as("nv"), col("pid").as("pid")))
          .as("top"))
      .select(col("e"), col("n_stays"), col("n_places"),
        col("top.pid").as("top_place"), (-col("top.nv")).as("top_visits"))
      .orderBy("e")
  }

  private def q189Sql: String =
    s"""WITH pings AS (SELECT r.range // $SpP AS e, r.range % $SpP AS t,
       |    ${walkStepSql(13, 1, 23, 3)} AS dx,
       |    ${walkStepSql(29, 4, 31, 5)} AS dy
       |  FROM range(${SpE.toLong * SpP}) r),
       |walked AS (SELECT e, t,
       |    500 + SUM(dx) OVER (PARTITION BY e ORDER BY t) AS x,
       |    500 + SUM(dy) OVER (PARTITION BY e ORDER BY t) AS y,
       |    SUM(CASE WHEN dx * dx + dy * dy > 18 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY e ORDER BY t) AS seg
       |  FROM pings),
       |stays AS (SELECT e, seg, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
       |  FROM walked GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       |places AS (SELECT e,
       |    (sx // n // 64) * 1024 + (sy // n // 64) AS pid,
       |    COUNT(*) AS visits
       |  FROM stays GROUP BY 1, 2),
       |top AS (SELECT e, pid, visits, ROW_NUMBER() OVER
       |    (PARTITION BY e ORDER BY visits DESC, pid ASC) AS rn
       |  FROM places)
       |SELECT p.e, CAST(SUM(p.visits) AS BIGINT) AS n_stays,
       |  CAST(COUNT(*) AS BIGINT) AS n_places,
       |  CAST(MIN(t.pid) AS BIGINT) AS top_place,
       |  CAST(MIN(t.visits) AS BIGINT) AS top_visits
       |FROM places p JOIN top t ON t.e = p.e AND t.rn = 1
       |GROUP BY p.e ORDER BY p.e""".stripMargin

  // ---- q190: EULER CHARACTERISTIC of the binary mask per tile — the
  // topological fragmentation descriptor landscape ecology uses beside
  // edge density (q160): χ = V − E + Q over 4-connectivity (set cells,
  // 4-adjacent set pairs, fully-set 2×2 quads) equals components −
  // holes, so χ falling while edge density rises separates
  // perforation from true fragmentation. Ownership: every pair/quad
  // belongs to its top-left cell's TILE (the q160 convention), so
  // cross-tile features count exactly once and the global χ is the
  // plain sum of tile rows. Engine: the q119 equi-join shape — the hot
  // frame self-joins on derived keys cell+1 / cell+C / the 2×2 quad
  // chain, never a spatial cross join. Oracle: guarded closed-form
  // stencil counts straight from the band formula (no joins) — two
  // genuinely different computations of the same topology. -----------------
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val hot = spine(s).filter(bandCol(cellCol, 1) >= EdgeThr)
      .select(cellCol)
    val notRightEdge = spec.col0Of(col("a.cell_id")) =!= (C - 1)
    val right = hot.as("a").join(hot.as("b"),
      col("b.cell_id") === col("a.cell_id") + 1 && notRightEdge)
      .select(col("a.cell_id").as("cell_id"))
    val down = hot.as("a").join(hot.as("b"),
      col("b.cell_id") === col("a.cell_id") + C)
      .select(col("a.cell_id").as("cell_id"))
    // a full quad = this cell opens a right pair AND the cell below
    // opens a right pair (all four corners hot)
    val quad = right.as("a").join(right.as("b"),
      col("b.cell_id") === col("a.cell_id") + C)
      .select(col("a.cell_id").as("cell_id"))
    def perTile(df: DataFrame, name: String): DataFrame = df
      .groupBy(spec.tileOf(col("cell_id")).cast("long").as("tile_id"))
      .agg(count(lit(1)).as(name))
    perTile(hot, "v")
      .join(perTile(right.union(down), "e_adj"), Seq("tile_id"), "left")
      .join(perTile(quad, "q_quad"), Seq("tile_id"), "left")
      .select(col("tile_id"), col("v"),
        coalesce(col("e_adj"), lit(0L)).as("e_adj"),
        coalesce(col("q_quad"), lit(0L)).as("q_quad"))
      .withColumn("chi",
        col("v") - col("e_adj") + col("q_quad"))
      .orderBy("tile_id")
  }

  private def q190Sql: String = {
    def hotS(id: String) = s"(${bandSql(id, 1)} >= $EdgeThr)"
    val inR = s"((cell_id - 1) % $C <> ${C - 1})"
    val inD = s"(cell_id + $C <= $N)"
    val right = s"(CASE WHEN $inR AND ${hotS("cell_id")} AND " +
      s"${hotS("cell_id + 1")} THEN 1 ELSE 0 END)"
    val down = s"(CASE WHEN $inD AND ${hotS("cell_id")} AND " +
      s"${hotS(s"cell_id + $C")} THEN 1 ELSE 0 END)"
    val quad = s"(CASE WHEN $inR AND $inD AND ${hotS("cell_id")} AND " +
      s"${hotS("cell_id + 1")} AND ${hotS(s"cell_id + $C")} AND " +
      s"${hotS(s"cell_id + $C + 1")} THEN 1 ELSE 0 END)"
    s"""$cellsCte
       |SELECT ${tileSql("cell_id")} AS tile_id,
       |  CAST(SUM(CASE WHEN ${hotS("cell_id")} THEN 1 ELSE 0 END)
       |    AS BIGINT) AS v,
       |  CAST(SUM($right + $down) AS BIGINT) AS e_adj,
       |  CAST(SUM($quad) AS BIGINT) AS q_quad,
       |  CAST(SUM(CASE WHEN ${hotS("cell_id")} THEN 1 ELSE 0 END)
       |    - SUM($right + $down) + SUM($quad) AS BIGINT) AS chi
       |FROM cells
       |GROUP BY 1 HAVING SUM(CASE WHEN ${hotS("cell_id")} THEN 1
       |  ELSE 0 END) > 0
       |ORDER BY 1""".stripMargin
  }

  // ---- q191: EXTRACT TO POINTS — bilinear raster sampling at
  // arbitrary probe positions (the "extract values to points" GIS
  // primitive: covariates at plot locations, training labels at
  // station sites). Probes sit at quarter-cell positions so every
  // bilinear weight is a 2-adic fraction (0, ¼, ½, ¾): weight×band
  // products carry <= 8 fractional bits and the 4-term sum stays
  // < 2^9, so EVERY partial sum is exact in double — the groupBy SUM
  // is order-free and bit-identical to the oracle's closed-form
  // left-associated expression. Engine shape: each probe explodes to
  // its 4 surrounding cell centers with weights, the tiny frame
  // BROADCASTS against the raster spine (extract = a broadcast join,
  // never a raster shuffle), one partial-aggregated sum per probe.
  // Oracle: the 4-term closed form per probe, no join. ---------------------
  private val ExtractK = 40

  private def q191(s: SparkSession, dir: String): DataFrame = {
    val probes = s.range(0, ExtractK).select(col("id").as("k"),
      (World.h2Col(col("id") * 251 + 19) % ((C - 1) * 4)).as("qx"),
      (World.h2Col(col("id") * 257 + 23) % ((spec.rows - 1) * 4)).as("qy"))
    val corners = probes
      .withColumn("o", explode(array((0 to 3).map { i =>
        struct(lit(i % 2).as("dx"), lit(i / 2).as("dy"))
      }: _*)))
      .select(col("k"), col("qx"), col("qy"),
        (expr("qx div 4") + col("o.dx")).as("cx"),
        (expr("qy div 4") + col("o.dy")).as("cy"),
        (when(col("o.dx") === 0, lit(1.0) - (col("qx") % 4) / 4.0)
          .otherwise((col("qx") % 4) / 4.0) *
          when(col("o.dy") === 0, lit(1.0) - (col("qy") % 4) / 4.0)
            .otherwise((col("qy") % 4) / 4.0)).as("w"))
      .select(col("k"), col("qx"), col("qy"), col("w"),
        (col("cy") * C + col("cx") + 1).as("cell_id"))
    spine(s).join(broadcast(corners), Seq("cell_id"))
      .groupBy("k", "qx", "qy")
      .agg(sum(col("w") * bandCol(cellCol, 1)).as("v"))
      .select(col("k"), (col("qx") / 4.0 + 0.5).as("px"),
        (col("qy") / 4.0 + 0.5).as("py"), col("v"))
      .orderBy("k")
  }

  private def q191Sql: String = {
    def cell(dx: Int, dy: Int) =
      s"((qy // 4 + $dy) * $C + qx // 4 + $dx + 1)"
    def w(dx: Int, dy: Int) = {
      val wx = if (dx == 0) "(1.0 - (qx % 4) / 4.0)" else "((qx % 4) / 4.0)"
      val wy = if (dy == 0) "(1.0 - (qy % 4) / 4.0)" else "((qy % 4) / 4.0)"
      s"$wx * $wy"
    }
    val terms = Seq((0, 0), (1, 0), (0, 1), (1, 1)).map { case (dx, dy) =>
      s"${w(dx, dy)} * ${bandSql(cell(dx, dy), 1)}"
    }.mkString(" + ")
    s"""WITH probes AS (SELECT r.range AS k,
       |    ${h2Sql("r.range * 251 + 19")} % ${(C - 1) * 4} AS qx,
       |    ${h2Sql("r.range * 257 + 23")} % ${(spec.rows - 1) * 4} AS qy
       |  FROM range($ExtractK) r)
       |SELECT k, qx / 4.0 + 0.5 AS px, qy / 4.0 + 0.5 AS py,
       |  $terms AS v
       |FROM probes ORDER BY k""".stripMargin
  }

  // ---- q192: CONFUSION MATRIX — the model-evaluation operator the
  // registry's ML family lacked (fit q29, importance q33, but no
  // accuracy assessment — the step every published classification,
  // including the reference's, reports): per region, the resubstitution
  // confusion counts between the fitted-forest vote and the training
  // labels (dropped classes 6/7 excluded exactly as the fit excludes
  // them; label cells outside the scoreable loss>0 frame drop with the
  // join, the same universe q29 scores). The matrix evaluates the RAW
  // ARGMAX — floors zeroed via Config — because floors are deployment
  // thresholds, not classifier quality: on the tiny world no vote ever
  // clears the 0.5 confidence floor (q29's whole output is class 0,
  // oracle-confirmed), so the floored matrix would be a single
  // uninformative column. Counts are exact; overall/producer/user
  // accuracies and Cohen's kappa all derive from these rows by exact
  // integer arithmetic, so the matrix is the one thing worth pinning.
  // Oracle: the shared fitted-tree CASE chain (classCte, floors off)
  // joined to the label formula — fit, vote and label filtering
  // cross-checked end-to-end in one query. -----------------------------------
  private def q192(s: SparkSession, dir: String): DataFrame = {
    val preds = graft.engine.Pipeline.fitPredictVote(s, spec,
        graft.engine.Pipeline.Config(confidenceFloor = 0.0, lossFloor = 0.0))
      .select(col("cell_id"), col("region_id"), col("class"))
    val labels = spine(s)
      .select(cellCol, World.trainingClassCol(cellCol).as("label"))
      .filter(col("label") > 0 && !col("label").isin(6, 7))
    preds.join(labels, Seq("cell_id"))
      .groupBy("region_id", "label", "class")
      .agg(count(lit(1)).as("n"))
      .select(col("region_id"), col("label").cast("long").as("label"),
        col("class"), col("n"))
      .orderBy("region_id", "label", "class")
  }

  private def q192Sql: String =
    s"""${classCte(floors = false)},
       |tr AS (SELECT cell_id, ${trainSql("cell_id")} AS label FROM cells
       |  WHERE ${trainSql("cell_id")} BETWEEN 1 AND 5)
       |SELECT c.region_id, CAST(t.label AS BIGINT) AS label, c.class,
       |  CAST(COUNT(*) AS BIGINT) AS n
       |FROM cls c JOIN tr t ON t.cell_id = c.cell_id
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- q193: AFFINE RASTER WARP — resample the raster onto a
  // transformed grid by nearest neighbor (the generic "warp" under
  // reprojection, co-registration, augmentation-with-geometry; q130's
  // flips/rotations are its axis-aligned special cases): each target
  // cell maps through the exact dyadic affine
  //   src = A·(t − c) + c,  A = [[3/4, 1/4], [−1/4, 3/4]]
  // (a scaled rotation; numerators are offset +4096 before the
  // truncating div so negative-operand division semantics never
  // enter), out-of-range sources drop. Scale shape: the warp is an
  // EQUI-JOIN of the target frame on the DERIVED source cell id
  // against the source raster — never a gather by position arithmetic
  // inside one executor's memory; at production scale both sides
  // co-partition on cell ranges and the join is the whole cost. The
  // oracle computes the identical closed form per target cell straight
  // from the band formula — join machinery vs pure arithmetic. -------------
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val cx = C / 2
    val cy = spec.rows / 2
    val sx = (expr(s"(3 * ((cell_id - 1) % $C - $cx) " +
      s"+ (((cell_id - 1) div $C) - $cy) + 4096) div 4") - 1024) + cx
    val sy = (expr(s"(3 * (((cell_id - 1) div $C) - $cy) " +
      s"- ((cell_id - 1) % $C - $cx) + 4096) div 4") - 1024) + cy
    val targets = spine(s).select(cellCol.as("tcell"),
        sx.as("sx"), sy.as("sy"))
      .filter(col("sx") >= 0 && col("sx") < C &&
        col("sy") >= 0 && col("sy") < spec.rows)
      .select(col("tcell"), (col("sy") * C + col("sx") + 1).as("cell_id"))
    val source = spine(s).select(cellCol,
      bandCol(cellCol, 1).cast("long").as("v"))
    targets.join(source, Seq("cell_id"))
      .select(col("tcell"), col("cell_id").as("src_cell"), col("v"))
      .orderBy("tcell")
  }

  private def q193Sql: String = {
    val cx = C / 2
    val cy = spec.rows / 2
    val tx = s"((cell_id - 1) % $C)"
    val ty = s"((cell_id - 1) // $C)"
    val sx = s"(((3 * ($tx - $cx) + ($ty - $cy) + 4096) // 4) - 1024 + $cx)"
    val sy = s"(((3 * ($ty - $cy) - ($tx - $cx) + 4096) // 4) - 1024 + $cy)"
    s"""$cellsCte,
       |m AS (SELECT cell_id AS tcell, $sx AS sx, $sy AS sy FROM cells),
       |v AS (SELECT tcell, sy * $C + sx + 1 AS src_cell FROM m
       |  WHERE sx >= 0 AND sx < $C AND sy >= 0 AND sy < ${spec.rows})
       |SELECT tcell, CAST(src_cell AS BIGINT) AS src_cell,
       |  CAST(${bandSql("src_cell", 1)} AS BIGINT) AS v
       |FROM v ORDER BY tcell""".stripMargin
  }

  // ---- q194: FILL RULES — even-odd vs NONZERO winding side by side
  // (SVG/OGC's two polygon-interior semantics; a renderer or overlay
  // engine must implement both, and layers from the wild disagree
  // exactly where same-orientation rings overlap): region 1's two
  // overlapping CCW squares are the discriminating case (even-odd
  // empties the 10×10 overlap, nonzero keeps it at winding 2), region
  // 2's outer-CCW + hole-CW is the agreeing case (winding 0 in the
  // hole — both rules exclude it), region 3 is the disjoint control.
  // Both rules evaluate in ONE projection over the spine (region_of_neg1 and
  // the wind_region kernel share the broadcast layer); counts
  // per (rule, region) plus the per-region differ count pin the exact
  // disagreement set. Oracle: the same edge VALUES with parity HAVING
  // for even-odd and SUM of signed crossings for nonzero. -------------------
  private lazy val fillPolys: Array[graft.core.Polygon] = Array(
    // two overlapping CCW squares in ONE polygon's ring set
    graft.core.Polygon(1,
      Array[Double](10, 30, 30, 10, 20, 40, 40, 20),
      Array[Double](10, 10, 30, 30, 20, 20, 40, 40), Array(0, 4)),
    // outer CCW + hole CW: the conventional holed polygon
    graft.core.Polygon(2,
      Array[Double](50, 80, 80, 50, 60, 60, 70, 70),
      Array[Double](10, 10, 40, 40, 20, 30, 30, 20), Array(0, 4)),
    // disjoint control square
    graft.core.Polygon(3,
      Array[Double](5, 25, 25, 5), Array[Double](50, 50, 60, 60)))

  private def q194(s: SparkSession, dir: String): DataFrame = {
    val both = spine(s).select(
      region_of_neg1(spec.pxOf(cellCol), spec.pyOf(cellCol), fillPolys)
        .as("eo"),
      graft.sql.GraftFunctions
        .wind_region(spec.pxOf(cellCol), spec.pyOf(cellCol), fillPolys)
        .as("wn"))
    val eo = both.filter(col("eo") >= 0).groupBy(col("eo").as("region_id"))
      .agg(count(lit(1)).as("n")).withColumn("rule", lit("evenodd"))
    val wn = both.filter(col("wn") >= 0).groupBy(col("wn").as("region_id"))
      .agg(count(lit(1)).as("n")).withColumn("rule", lit("nonzero"))
    val diff = both.filter(col("eo") =!= col("wn"))
      .groupBy(greatest(col("eo"), col("wn")).as("region_id"))
      .agg(count(lit(1)).as("n")).withColumn("rule", lit("differ"))
    eo.unionByName(wn).unionByName(diff)
      .select(col("rule"), col("region_id"), col("n"))
      .orderBy("rule", "region_id")
  }

  private def q194Sql: String = {
    val edges = edgesValuesOf(fillPolys)
    s"""$cellsCte,
       |edges(region_id, x1, y1, x2, y2) AS (VALUES $edges),
       |pts AS (SELECT cell_id, ${pxSql("cell_id")} AS px,
       |    ${pySql("cell_id")} AS py FROM cells),
       |cr AS (SELECT p.cell_id, e.region_id,
       |    COUNT(*) AS k,
       |    SUM(CASE WHEN e.y2 > e.y1 THEN 1 ELSE -1 END) AS w
       |  FROM pts p JOIN edges e
       |    ON ((e.y1 > p.py) != (e.y2 > p.py))
       |   AND p.px < e.x1 + (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1)
       |  GROUP BY 1, 2),
       |eo AS (SELECT cell_id, MIN(region_id) AS r FROM cr
       |  WHERE k % 2 = 1 GROUP BY 1),
       |wn AS (SELECT cell_id, MIN(region_id) AS r FROM cr
       |  WHERE w <> 0 GROUP BY 1),
       |u AS (
       |  SELECT 'evenodd' AS rule, r AS region_id, COUNT(*) AS n
       |    FROM eo GROUP BY 2
       |  UNION ALL
       |  SELECT 'nonzero', r, COUNT(*) FROM wn GROUP BY 2
       |  UNION ALL
       |  SELECT 'differ', GREATEST(COALESCE(e.r, -1), COALESCE(w.r, -1)),
       |      COUNT(*)
       |    FROM eo e FULL JOIN wn w ON w.cell_id = e.cell_id
       |    WHERE COALESCE(e.r, -1) <> COALESCE(w.r, -1)
       |    GROUP BY 2)
       |SELECT rule, CAST(region_id AS INT) AS region_id,
       |  CAST(n AS BIGINT) AS n
       |FROM u ORDER BY rule, region_id""".stripMargin
  }

  private def q168Sql: String =
    s"""$cellsCte,
       |px AS (SELECT ${tileSql("cell_id")} AS tile_id,
       |    ((cell_id - 1) // $C) % $T AS rr,
       |    ((cell_id - 1) % $C) % $T AS cc,
       |    CAST(${bandSql("cell_id", 1)} AS BIGINT) AS v FROM cells),
       |b AS (SELECT tile_id, rr // 2 AS br, cc // 2 AS bc,
       |    SUM(v) AS ll,
       |    SUM(CASE WHEN rr % 2 = 0 THEN v ELSE -v END) AS lh,
       |    SUM(CASE WHEN cc % 2 = 0 THEN v ELSE -v END) AS hl,
       |    SUM(CASE WHEN (rr + cc) % 2 = 0 THEN v ELSE -v END) AS hh
       |  FROM px GROUP BY 1, 2, 3 HAVING COUNT(*) = 4)
       |SELECT tile_id, CAST(SUM(ll) AS BIGINT) AS ll_sum,
       |  CAST(SUM(ABS(lh)) AS BIGINT) AS lh_abs,
       |  CAST(SUM(ABS(hl)) AS BIGINT) AS hl_abs,
       |  CAST(SUM(ABS(hh)) AS BIGINT) AS hh_abs,
       |  CAST(COUNT(*) AS INT) AS n_blocks
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
}
