package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Cart, Codec, Geom}
import graft.engine.{Checkpoint, Covering, Expand, Pipeline, Rasterize, Salted}
import graft.world.World

/** End-to-end Spark tests: the golden oracle (a plain-Scala
  * transcription of the reference semantics, R:191-441, over in-memory
  * collections) vs the engine's fused fit-and-vote, on the dyadic and
  * the padded grid; PackedForest.classify vs the oracle's class;
  * determinism across partitionings; input-table invariants (caption
  * equality, phash recompute, PSNR >= 40 dB per BASELINE.json
  * input_hint); salted aggregation correctness on skew; the model
  * pipeline's checkpoint/resume with partition lineage.
  */
class SparkEngineSpec extends SparkSpec {

  private val spec = World.tiny
  /** Non-dyadic, non-tile-divisible mini grid: partial edge tiles, the
    * reference's true-1737x4008 shape at test scale. */
  private val padded = graft.world.WorldSpec(rows = 50, cols = 72,
    tile = 16, nRegions = 3)
  // ---- the plain-Scala golden oracle (R:191-411 semantics) --------------

  /** (cell_id -> (region, class, confidence)) for loss-bearing cells,
    * voted by `given` trees, or by trees fitted as Pipeline.fit does. */
  private def oracleVote(spec: graft.world.WorldSpec, cfg: Pipeline.Config,
      given: Option[Map[(Int, Int), Cart.Tree]] = None)
      : Map[Long, (Int, Long, Double)] = {
    val polys = World.polygons(spec)
    def region(id: Long): Int =
      Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
    def feats(id: Long): Array[Double] =
      (1 until spec.nBands).map(b => World.band(id, b).toFloat.toDouble)
        .toArray

    val training = (1L to spec.nCells).flatMap { id =>
      val r = region(id)
      // mirrors Pipeline.fit: region first, label from the hash
      if (r < 0) None
      else World.trainingClass(id) match {
        case Some(c) if c > 0 && !cfg.dropClasses(c) =>
          Some((r, c, feats(id)))
        case _ => None
      }
    }.toArray
    val trees = given.getOrElse(Pipeline.fitTrees(training, spec.nRegions, cfg))

    (1L to spec.nCells).flatMap { id =>
      val r = region(id)
      val loss = World.loss(id).toFloat.toDouble
      if (r < 0 || loss <= 0) None
      else {
        val x = feats(id)
        val probs = (1 to Pipeline.NumDrivers)
          .map(d => trees((r, d)).predict(x))
        val mx = probs.max
        val arg = probs.indexOf(mx) + 1 // first max (which.max, R:370)
        val cls =
          if (loss < cfg.lossFloor) 0L
          else if (mx < cfg.confidenceFloor) 0L
          else arg.toLong
        Some(id -> ((r, cls, mx)))
      }
    }.toMap
  }

  test("golden: fitPredictVote matches the plain-Scala oracle exactly") {
    // no tiny-world cell has 0 < loss < 0.005, so the raised floor is
    // what puts scored cells under the loss floor: their confidence
    // must still be the maximum leaf probability
    for (cfg <- Seq(Pipeline.Config(), Pipeline.Config(lossFloor = 0.5))) {
      val engine = Pipeline.fitPredictVote(spark, spec, cfg).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
        .toMap
      val oracle = oracleVote(spec, cfg)
      assert(engine.keySet == oracle.keySet, "cell coverage differs")
      val diffs = oracle.collect {
        case (id, o) if engine(id) != o => (id, o, engine(id))
      }
      assert(diffs.isEmpty, s"$cfg first diffs: ${diffs.take(5)}")
    }
  }

  test("golden on the padded grid (partial edge tiles, true-reference " +
    "shape): fitPredictVote matches the oracle; padding never leaks") {
    val cfg = Pipeline.Config()
    assert(padded.padded && padded.nTiles == 20)
    val engine = Pipeline.fitPredictVote(spark, padded, cfg).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val oracle = oracleVote(padded, cfg)
    assert(engine.keySet == oracle.keySet, "cell coverage differs")
    assert(engine.keySet.forall(id => id >= 1 && id <= padded.nCells))
    val diffs = oracle.collect {
      case (id, o) if engine(id) != o => (id, o, engine(id))
    }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("PackedForest.classify equals the oracleVote class per tile") {
    val cfg = Pipeline.Config()
    // trees from the oracle path (same fit as the engine)
    val polys = World.polygons(spec)
    val oracle = oracleVote(spec, cfg)
    val trees = {
      val training = (1L to spec.nCells).flatMap { id =>
        val r = Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
        if (r < 0) None
        else World.trainingClass(id) match {
          case Some(c) if c > 0 && !cfg.dropClasses(c) =>
            Some((r, c, (1 until spec.nBands)
              .map(b => World.band(id, b).toFloat.toDouble).toArray))
          case _ => None
        }
      }.toArray
      Pipeline.fitTrees(training, spec.nRegions, cfg)
    }
    val pf = Cart.PackedForest(trees, spec.nRegions, Pipeline.NumDrivers)
    (0 until spec.nTiles).foreach { t =>
      val bands = World.tileBands(spec, t)
      val bytes = Codec.encodeF32(bands)
      val loss = Codec.encodeF32(Array(bands(0)))
      (0 until spec.pixPerTile).foreach { p =>
        val id = spec.cellId(t, p)
        val r = Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
        if (r > 0 && World.loss(id) > 0) {
          val got = Cart.PackedForest.classify(pf, bytes, p, r,
            spec.pixPerTile, cfg.lossFloor, cfg.confidenceFloor)
          assert(got == oracle(id)._2, s"cell $id tile $t pix $p")
          // the loss-payload overload reads the same loss
          assert(Cart.PackedForest.classify(pf, loss, bytes, p, r,
            spec.pixPerTile, cfg.lossFloor, cfg.confidenceFloor) == got)
        }
      }
    }
  }

  test("tile table: the loss column is band 0 of bytes, byte for byte") {
    for (sp <- Seq(spec, padded)) {
      val rows = World.tilesDF(spark, sp).collect()
      assert(rows.length == sp.nTiles)
      rows.foreach { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        val loss = r.getAs[Array[Byte]]("loss")
        assert(loss.length == 4 * sp.pixPerTile)
        assert(java.util.Arrays.equals(loss,
          java.util.Arrays.copyOfRange(bytes, 0, 4 * sp.pixPerTile)),
          s"tile ${r.getAs[Int]("tile_id")} of $sp")
      }
    }
  }

  /** The 7x5 headline-shaped forest: every tree a 0.3 leaf, except that
    * with `split` the (1, 2) tree splits on band 1 at 128. */
  private def forest7x5(split: Boolean): Map[(Int, Int), Cart.Tree] =
    (for (r <- 1 to 7; d <- 1 to 5) yield {
      val t: Cart.Tree =
        if (split && (r, d) == (1, 2))
          Cart.Split(0, 128.0, Cart.Leaf(0.9, 1, 0.0), Cart.Leaf(0.1, 1, 0.0),
            0.5, 2, 0.0)
        else Cart.Leaf(0.3, 1, 0.0)
      (r, d) -> t
    }).toMap

  /** The parquet scan's ReadSchema line of an executed plan. */
  private def readSchema(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .flatMap(l => "ReadSchema: struct<[^>]*>".r.findFirstIn(l)).toSeq
      .distinct match {
        case Seq(one) => one
        case other => fail(s"expected one scan schema, got $other")
      }

  test("headline scan reads the loss column, and bytes only when the " +
    "forest has a split") {
    val dir = graft.util.TempDirs.create("graft_tiles").toString
    World.tilesDF(spark, spec).write.mode("overwrite").parquet(dir)
    def scan(split: Boolean) = readSchema(graft.engine.Headline.planFrom(
      spark.read.parquet(dir), forest7x5(split)))
    val splitFree = scan(split = false)
    assert(splitFree.contains("loss:binary") && !splitFree.contains("bytes"),
      splitFree)
    val withSplit = scan(split = true)
    assert(withSplit.contains("loss:binary") &&
      withSplit.contains("bytes:binary"), withSplit)
    // the loss-only readers never scan the band payload
    val lossOnly = readSchema(Pipeline.cellBands(spark.read.parquet(dir), spec))
    assert(!lossOnly.contains("bytes"), lossOnly)
  }

  test("headline tile kernel equals the per-pixel reference plan on " +
    "true-grid edge and region-boundary tiles, with and without a split") {
    import graft.engine.Headline
    import graft.sql.GraftFunctions._
    val hs = Headline.spec
    val cover = Headline.cover
    // tile 0 and tile 8 of row 13 cross region 1's edges (row 13 holds
    // the polygons' mid-height vertex); 377 and 1709 are a right-edge and
    // a bottom-edge padded tile, 1763 the padded corner; 192 lies inside
    // region 1
    val ids = Seq(0, 13 * hs.tilesX + 8, 192, 5 * hs.tilesX + 62,
      27 * hs.tilesX + 8, hs.nTiles - 1)
    def boundary(t: Int): Boolean = (0 until hs.pixPerTile).exists { p =>
      hs.inGrid(t, p) && {
        val id = hs.cellId(t, p)
        val (r, c) = ((id - 1) / hs.cols, (id - 1) % hs.cols)
        cover.const((r / cover.b).toInt * cover.nbx + (c / cover.b).toInt) ==
          Covering.Boundary
      }
    }
    assert(ids.count(boundary) >= 3, "tiles crossing a region boundary")
    assert(!hs.inGrid(5 * hs.tilesX + 62, hs.tile - 1) &&
      !hs.inGrid(27 * hs.tilesX + 8, hs.pixPerTile - 1),
      "a right-edge and a bottom-edge padded tile")
    // in-region cells in the Goode lobe gaps, whose longitude wraps
    // outside the encode's [0, 360) fast path
    val h3t = graft.core.H3Lite.table(hs.rows, hs.cols, Headline.H3Res)
    def lobeGap(t: Int): Int = (0 until hs.pixPerTile).count { p =>
      hs.inGrid(t, p) && {
        val id = hs.cellId(t, p)
        val (r, c) = (((id - 1) / hs.cols).toInt, ((id - 1) % hs.cols).toInt)
        val ri = h3t.inv(r)
        val a = graft.core.Igh.lonDegAt(ri, h3t.xs(c),
          if (ri.north) h3t.cmN(c) else h3t.cmS(c)) + 180.0
        !(a >= 0.0 && a < 360.0) &&
          Geom.regionOf(Headline.polys, c + 0.5, r + 0.5) >= 0
      }
    }
    val gaps = ids.map(lobeGap)
    assert(gaps.count(_ > 0) >= 3, s"in-region lobe-gap cells per tile: $gaps")
    val tiles = spark.createDataFrame(
      spark.sparkContext.parallelize(ids, 3).map(World.tileRow(hs, _)),
      World.tileSchema)
    val cfg = Pipeline.Config()
    def reference(trees: Map[(Int, Int), Cart.Tree]): DataFrame = {
      val forest = Cart.PackedForest(trees, hs.nRegions, Pipeline.NumDrivers)
      val classed = Pipeline.cells(tiles, hs).select(col("cell_id"),
        grid_h3(col("cell_id"), hs.rows, hs.cols, Headline.H3Res).as("h3"),
        driver_classify_at_covered(col("loss"), col("bytes"), col("p"),
          hs.pxOf(col("cell_id")), hs.pyOf(col("cell_id")), Headline.polys,
          forest,
          cover.const, cover.nbx, cover.b, hs.pixPerTile, cfg.lossFloor,
          cfg.confidenceFloor).as("class"),
        Pipeline.band(hs, 0).as("loss"))
      val inRegion = col("class") >= 0
      Salted.aggregate(classed,
        keys = Seq("h3r4" -> h3_parent_col(col("h3"), Headline.H3Res, 4)),
        saltSrc = col("cell_id"), salts = Headline.SaltBuckets,
        aggs = Seq(
          Salted.Agg("n_cells", "sum", when(inRegion, 1L).otherwise(0L)),
          Salted.Agg("n_classified", "sum",
            when(col("class") > 0, 1L).otherwise(0L)),
          Salted.Agg("loss_sum", "sum",
            when(inRegion, col("loss")).otherwise(lit(0.0))),
          Salted.Agg("max_class", "max", when(inRegion, col("class")))))
        .filter(col("n_cells") > 0)
    }
    // loss values are multiples of 1/1024, so every loss_sum is exact
    // whatever the summation order and the rows compare bit for bit
    for (split <- Seq(false, true)) {
      val trees = forest7x5(split)
      val got = Headline.planFrom(tiles, trees).collect()
        .map(_.toString).sorted.toSeq
      val want = reference(trees).collect().map(_.toString).sorted.toSeq
      assert(got.size > ids.size, s"split=$split: ${got.size} zones")
      assert(got == want, s"split=$split")
      if (split) assert(got.exists(_.endsWith(",2]")),
        "the split forest classifies some zone's cells as driver 2")
    }
  }

  test("classes from the loss column equal oracleVote for a forest with " +
    "splits, under a loss floor that bites") {
    // the default 0.005 floor scores no tiny-world cell (no loss lies in
    // (0, 0.005)); about half the loss-bearing cells fall under this
    // one, and some carry exactly its value, so `<` and `<=` differ
    val cfg = Pipeline.Config(lossFloor = 518.0 / 1024)
    val trees = (for (r <- 1 to spec.nRegions; d <- 1 to 5) yield {
      val t: Cart.Tree = d match {
        case 2 => Cart.Split(0, 128.0, Cart.Leaf(0.9, 1, 0.0),
          Cart.Leaf(0.1, 1, 0.0), 0.5, 2, 0.0)
        case 3 => Cart.Split(1, 100.0, Cart.Leaf(0.2, 1, 0.0),
          Cart.Leaf(0.7, 1, 0.0), 0.5, 2, 0.0)
        case _ => Cart.Leaf(0.3, 1, 0.0)
      }
      (r, d) -> t
    }).toMap
    val polys = World.polygons(spec)
    val df = Pipeline.classes(World.tilesDF(spark, spec), spec, polys,
      Covering.build(polys, spec.rows, spec.cols, Pipeline.CoverB), trees,
      cfg)
    assert(df.queryExecution.executedPlan.toString.contains("bytes"),
      "a forest with splits reads its predictors from bytes")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = oracleVote(spec, cfg, Some(trees))
    assert(got.keySet == (1L to spec.nCells).toSet)
    got.foreach { case (id, c) =>
      assert(c == oracle.get(id).fold(-1L)(_._2), s"cell $id")
    }
    val byClass = got.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(Seq(0L, 2L, 3L).forall(byClass.contains), byClass.toString)
    assert(oracle.values.exists { case (_, c, mx) => c == 0 && mx >= 0.5 },
      "some cell must be held at 0 by the loss floor alone")
    assert(oracle.keys.exists(id => World.loss(id) == cfg.lossFloor))
  }

  test("determinism: identical results under different partitionings") {
    def decoded = Pipeline.cellBands(World.tilesDF(spark, spec), spec,
      1 until spec.nBands)
    val a = decoded.repartition(3)
    val b = decoded.repartition(13)
    val fp = (df: DataFrame) => df.orderBy("cell_id").collect().toSeq
    assert(fp(a) == fp(b))
  }

  test("input-table invariants: caption, phash recompute, PSNR (input_hint)") {
    val rows = World.tilesDF(spark, spec).collect()
    assert(rows.length == spec.nTiles)
    rows.foreach { r =>
      val t = r.getAs[Int]("tile_id")
      val bytes = r.getAs[Array[Byte]]("bytes")
      val band0 = Codec.decodeF32Band(bytes, spec.pixPerTile, 0)
      val expected = World.tileBands(spec, t)
      // decoded pixels identical (f32 lossless; PSNR = inf >= 40 dB)
      assert(Codec.psnr(band0, expected(0), 1.0).isPosInfinity)
      // caption equality per row (input_hint invariant)
      val row0 = (t / spec.tilesX) * spec.tile
      val col0 = (t % spec.tilesX) * spec.tile
      assert(r.getAs[String]("caption") ==
        s"tile r$row0 c$col0 ${spec.tile}x${spec.tile} bands=${spec.nBands}")
      // phash column matches a recompute from decoded pixels
      assert(r.getAs[Long]("phash") ==
        Codec.phash(band0, spec.tile, spec.tile))
    }
  }

  test("lossy payload: png16 round-trip keeps PSNR >= 40 dB per tile") {
    (0 until spec.nTiles).foreach { t =>
      val band = World.tileBands(spec, t)(0)
      val back = Codec.decodePng16(Codec.encodePng16(band, spec.tile, spec.tile))
      assert(Codec.psnr(band, back, peak = 1.0) >= 40.0, s"tile $t")
    }
  }

  test("salted aggregation equals plain groupBy on heavily skewed keys") {
    import spark.implicits._
    // 90% of rows share key 0 — the tropical-hotspot shape.
    val df = spark.range(0, 100000)
      .select(col("id"),
        when(col("id") % 10 =!= 0, 0L).otherwise(col("id") % 97).as("k"),
        (col("id") % 1000).cast("double").as("v"))
    val salted = Salted.aggregate(df, Seq("k" -> col("k")), col("id"), 16,
      Seq(Salted.Agg("n", "count", lit(1)),
        Salted.Agg("sv", "sum", col("v")),
        Salted.Agg("mx", "max", col("v"))))
      .orderBy("k").collect().toSeq
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("v").as("mx"))
      .orderBy("k").collect().toSeq
    assert(salted == plain)
  }

  test("StableRowId: contiguous 1-based ids in key order, no global " +
    "single-partition window") {
    import graft.engine.StableRowId
    val df = spark.range(0, 20000)
      .select((col("id") * 2654435761L % 99991L).as("k"))
      .distinct().repartition(13)
    val got = StableRowId.assign(df, "k", "rid")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    got.zipWithIndex.foreach { case ((_, rid), i) =>
      assert(rid == i + 1, s"rank at $i")
    }
  }

  test("skewJoin: equals the plain join on a skewed bucket fixture, " +
    "pairs exactly once, data join is sort-merge (no data broadcast)") {
    // 80% of rows land in one hot bucket — the boilerplate-corpus shape.
    val docs = spark.range(0, 2000).select(col("id"),
      when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 41).as("key"))
    val l = docs.select(col("key"), col("id").as("a"))
    val r = docs.select(col("key"), col("id").as("b"))
    val got = Salted.skewJoin(l, r, Seq("key"), col("a"),
      salts = 4, hotThreshold = 100).filter(col("a") < col("b"))
    val want = l.join(r, Seq("key")).filter(col("a") < col("b"))
    def sig(df: DataFrame) = df
      .agg(count(lit(1)).as("n"), sum(col("a") * 100000 + col("b")).as("s"))
      .collect().toSeq
    assert(sig(got) == sig(want)) // count+sum: duplicates/drops both caught
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "data join must shuffle on the key")
  }

  test("checkpoint/resume: second run loads, invalidation recomputes " +
    "downstream only, partition lineage recorded") {
    val dir = graft.util.TempDirs.create("graft_ckpt").toString
    val cfg = Pipeline.Config()
    val tiles = World.tilesDF(spark, spec)
    val polys = World.polygons(spec)
    val trees = Pipeline.fit(tiles, spec, polys, cfg)
    val stages = Seq("classified", "expanded", "class_gtiff", "loss_masks")
    def run(cfg: Pipeline.Config = cfg,
        trees: Map[(Int, Int), Cart.Tree] = trees, iters: Int = 8)
        : (DataFrame, Checkpoint.Store) = {
      val (store, runs) = Pipeline.runModel(spark, spec, tiles, polys, trees,
        cfg, dir, iters)
      assert(runs.map(_.name) == stages && store.log.map(_._1) == stages)
      (runs(1).df, store)
    }
    def all(store: Checkpoint.Store, how: String): Boolean =
      store.log.forall(_._2 == how)
    val (out1, store1) = run()
    val result1 = out1.orderBy("cell_id").collect().toSeq
    assert(all(store1, "computed"), store1.log.toString)

    // NoData as in the reference: zero-loss and no-region cells are -1
    // in `classified` and stay -1 through Expand; every other cell
    // carries the oracle's vote
    val oracle = oracleVote(spec, cfg)
    val classified = spark.read.parquet(s"$dir/stages/classified")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(classified.keySet == (1L to spec.nCells).toSet)
    classified.foreach { case (id, c) =>
      assert(c == oracle.get(id).fold(-1L)(_._2), s"cell $id")
    }
    result1.foreach { r =>
      val id = r.getAs[Long]("cell_id")
      assert((r.getAs[Long]("final_class") == -1L) == !oracle.contains(id),
        s"cell $id")
    }

    // lineage: per-stage partition metrics sum to the stage row count
    val meta = store1.meta("classified").get
    assert(meta.partitions.nonEmpty)
    assert(meta.partitions.map(_.records).sum == meta.rows)
    assert(meta.rows ==
      spark.read.parquet(s"$dir/stages/classified").count())

    // each meta record reads back exactly as written: re-serialized by
    // Spark's JSON writer it gives the stored bytes
    import spark.implicits._
    def metaLine(d: String): String = {
      val parts = new java.io.File(d).listFiles()
        .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      assert(parts.length == 1 &&
        new java.io.File(d, "_SUCCESS").exists(), d)
      new String(java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8")
    }
    store1.log.foreach { case (name, _) =>
      val m = store1.meta(name).get
      assert(m.name == name && m.partitions.map(_.records).sum == m.rows)
      Seq(m).toDS().coalesce(1).write.json(s"$dir/respelled/$name")
      assert(metaLine(s"$dir/meta/$name") ==
        metaLine(s"$dir/respelled/$name"), name)
    }

    // a computed stage returns its snapshot's schema: the pipeline's
    // result, and each public stage body through a fresh store
    assert(out1.schema == spark.read.parquet(s"$dir/stages/expanded").schema)
    val direct = new Checkpoint.Store(spark, s"$dir/direct")
    Seq[(String, () => DataFrame)](
      "cells" -> (() => Pipeline.cellBands(tiles, spec, 1 until spec.nBands)),
      "classified" -> (() => Pipeline.classes(tiles, spec, polys,
        Covering.build(polys, spec.rows, spec.cols, Pipeline.CoverB), trees,
        cfg)),
      "scored" -> (() => Pipeline.fitPredictVote(spark, spec, cfg)),
      "rasterized" -> (() => Rasterize(spec, out1, "final_class")),
      "loss_masks" -> (() => Rasterize.byClass(spec,
        out1.withColumn("loss_mean", lit(0.5)), "loss_mean", "final_class"))
    ).foreach { case (name, body) =>
      val got = direct.stage(name, "fp")(body())
      assert(direct.log.last == name -> "computed")
      assert(got.schema ==
        spark.read.parquet(s"$dir/direct/stages/$name").schema, name)
    }

    // resume: everything loads, nothing recomputes, same answer
    val (out2, store2) = run()
    assert(all(store2, "loaded"), store2.log.toString)
    assert(out2.orderBy("cell_id").collect().toSeq == result1)

    // meta dirs written by Spark's JSON writer (older runs) still resume
    store1.log.foreach { case (name, _) =>
      Seq(store1.meta(name).get).toDS().coalesce(1).write.mode("overwrite")
        .json(s"$dir/meta/$name")
    }
    val (out2b, store2b) = run()
    assert(all(store2b, "loaded"), store2b.log.toString)
    assert(out2b.orderBy("cell_id").collect().toSeq == result1)

    // the deliverable stage (R:510-551) wrote the six per-class CSVs,
    // one row per cell carrying that cell's loss
    val maskRows = (0 to 5).map { k =>
      val csv = spark.read.option("header", "true")
        .schema("cell_id LONG, loss_mean DOUBLE")
        .csv(s"$dir/csv/LossMask_class$k.csv")
      assert(csv.columns.toSeq == Seq("cell_id", "loss_mean"))
      csv.collect().map { r =>
        assert(r.getDouble(1) == World.loss(r.getLong(0)),
          s"class $k cell ${r.getLong(0)}")
        r.getLong(0)
      }
    }.flatten
    assert(maskRows.nonEmpty && maskRows.distinct.size == maskRows.size)
    // raster fan-out covers exactly the non-NoData classes the expanded
    // frame holds (the tiny fixture's CART vote can legitimately leave
    // all cells uncertain — the per-class spread is pinned by q35/q37's
    // oracle fixture instead, whose synthetic probabilities span 0-5)
    val wantClasses = out1.select("final_class").distinct()
      .collect().map(_.getLong(0)).filter(_ >= 0).toSet
    val gotClasses = spark.read.parquet(s"$dir/stages/loss_masks")
      .select("class").distinct().collect().map(_.getLong(0)).toSet
    assert(gotClasses == wantClasses)

    // the classify fingerprint covers the config and the trees: a floor
    // change, then a refit alone, each recompute every stage
    val floorCfg = cfg.copy(lossFloor = 0.01)
    val (_, store3) = run(cfg = floorCfg)
    assert(all(store3, "computed"), store3.log.toString)
    val refit = trees.updated((1, 1), Cart.Leaf(0.75, 1, 0.0))
    assert(refit != trees)
    val (_, store4) = run(cfg = floorCfg, trees = refit)
    assert(all(store4, "computed"), store4.log.toString)
    // only the Expand ring count changed: classified loads, the rest
    // recomputes
    val (_, store5) = run(cfg = floorCfg, trees = refit, iters = 4)
    assert(store5.log.toMap == Map("classified" -> "loaded",
      "expanded" -> "computed", "class_gtiff" -> "computed",
      "loss_masks" -> "computed"), store5.log.toString)
  }

  test("expand fixpoint: no uncertain cell with a classified neighbor " +
    "survives; classified cells never change") {
    import spark.implicits._
    val cls = Pipeline.fitPredictVote(spark, spec)
    val full = spark.range(1, spec.nCells + 1).toDF("cell_id")
      .join(cls.select(col("cell_id"), col("class")), Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("class"), lit(0L)).as("final_class"))
    val before = full.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = Expand.run(spark, spec, full, maxIters = 32,
        requireConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // classified cells unchanged
    before.foreach { case (id, c) => if (c > 0) assert(after(id) == c) }
    // fixpoint: any 0 cell has no positive neighbor
    val C = spec.cols
    after.foreach { case (id, c) =>
      if (c == 0) {
        val row = ((id - 1) / C + 1).toInt
        val col0 = ((id - 1) % C + 1).toInt
        for (dr <- -1 to 1; dc <- -1 to 1 if dr != 0 || dc != 0) {
          val (r2, c2) = (row + dr, col0 + dc)
          if (r2 >= 1 && r2 <= spec.rows && c2 >= 1 && c2 <= C) {
            val nid = (r2 - 1).toLong * C + c2
            assert(after(nid) == 0L, s"cell $id uncertain next to $nid")
          }
        }
      }
    }
  }

  test("rasterize inverts the decode scan (vector -> raster, K2)") {
    for (sp <- Seq(spec, padded)) {
      val loss = Pipeline.cellBands(World.tilesDF(spark, sp), sp)
      // the encode is a codegen'd expression, not a ScalaUDF
      assert(!Rasterize(sp, loss, "loss").queryExecution.executedPlan
        .toString.contains("ScalaUDF"), "TileEncode must not be a UDF")
      val tiles = Rasterize(sp, loss, "loss").collect()
      assert(tiles.length == sp.nTiles)
      tiles.foreach { r =>
        val t = r.getAs[Int]("tile_id")
        val got = Codec.decodeF32Band(r.getAs[Array[Byte]]("bytes"),
          sp.pixPerTile, 0)
        // padding comes back as NaN in both (R's NA)
        val want = World.tileBands(sp, t)(0)
        assert(java.util.Arrays.equals(got, want), s"tile $t of $sp")
      }
    }
  }

  test("Rasterize.byClass (one shuffle) equals per-class filter + " +
    "rasterize (six shuffles) byte-for-byte") {
    val cls = Pipeline.cellBands(World.tilesDF(spark, spec), spec)
      .select(col("cell_id"), col("loss"),
        (col("cell_id") % 4).as("final_class"))
    val got = Rasterize.byClass(spec, cls, "loss", "final_class")
      .collect()
      .map(r => (r.getAs[Long]("class"), r.getAs[Int]("tile_id")) ->
        r.getAs[Array[Byte]]("bytes").toSeq).toMap
    val want = (0L to 3L).flatMap { k =>
      Rasterize(spec, cls.filter(col("final_class") === k), "loss")
        .collect()
        .map(r => (k, r.getAs[Int]("tile_id")) ->
          r.getAs[Array[Byte]]("bytes").toSeq)
    }.toMap
    assert(got == want)
  }

  test("rasterize fmt=gtiff emits real georeferenced GeoTIFF tiles " +
    "(rastOut's GTiff write, R:70-71)") {
    import graft.core.GeoTiff
    val loss = Pipeline.cellBands(World.tilesDF(spark, spec), spec)
    val tiles = Rasterize(spec, loss, "loss", fmt = "gtiff").collect()
    assert(tiles.length == spec.nTiles)
    tiles.foreach { r =>
      val t = r.getAs[Int]("tile_id")
      assert(r.getAs[String]("fmt") == "gtiff")
      val dec = GeoTiff.decode(r.getAs[Array[Byte]]("bytes"))
      assert(dec.w == spec.tile && dec.h == spec.tile)
      assert(java.util.Arrays.equals(dec.pixels, World.tileBands(spec, t)(0)))
      // georeference: tiepoint = this tile's origin in grid coords
      val g = spec.grid
      val x0 = g.xMin + (t % spec.tilesX) * spec.tile * g.cellSize
      val y0 = g.yMax - (t / spec.tilesX) * spec.tile * g.cellSize
      assert(dec.tiepoint.contains((x0, y0)), s"tile $t georef")
      assert(dec.pixelScale.contains((g.cellSize, g.cellSize)))
    }
  }

  test("DriverClassifyAt (fused PIP + vote) equals region_of followed " +
    "by DriverClassify, with -1 marking no-region pixels") {
    import graft.sql.GraftFunctions._
    val cfg = Pipeline.Config()
    val polys = World.densify(World.polygons(spec), 8)
    // 8x8 blocks (the headline's block size) over the tiny grid: pixels
    // in both region-constant blocks (cover lookup) and boundary blocks
    // (exact ray-cast) go through the expression
    val B = 8
    val blocks = Covering.build(polys, spec.rows, spec.cols, B)
    assert(blocks.nConst > 0 && blocks.nBoundary > 0,
      s"${blocks.nConst} constant / ${blocks.nBoundary} boundary blocks")
    val training = (1L to spec.nCells).flatMap { id =>
      val r = Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
      if (r < 0) None
      else World.trainingClass(id) match {
        case Some(c) if c > 0 && !cfg.dropClasses(c) =>
          Some((r, c, (1 until spec.nBands)
            .map(b => World.band(id, b).toFloat.toDouble).toArray))
        case _ => None
      }
    }.toArray
    val pf = Cart.PackedForest(Pipeline.fitTrees(training, spec.nRegions, cfg),
      spec.nRegions, Pipeline.NumDrivers)
    val T = spec.tile; val C = spec.cols
    val got = Pipeline.cells(World.tilesDF(spark, spec), spec)
      .select(col("cell_id"),
        driver_classify_at_covered(col("bytes"), col("p"),
          spec.pxOf(col("cell_id")), spec.pyOf(col("cell_id")), polys, pf,
          blocks.const, blocks.nbx, B,
          spec.pixPerTile, cfg.lossFloor, cfg.confidenceFloor).as("c"),
        driver_classify_at_covered(col("loss"), col("bytes"), col("p"),
          spec.pxOf(col("cell_id")), spec.pyOf(col("cell_id")), polys, pf,
          blocks.const,
          blocks.nbx, B, spec.pixPerTile, cfg.lossFloor,
          cfg.confidenceFloor).as("c_loss"))
      .collect().map { r =>
        assert(r.getLong(1) == r.getLong(2), s"cell ${r.getLong(0)}")
        r.getLong(0) -> r.getLong(1)
      }.toMap
    (1L to spec.nCells).foreach { id =>
      val r = Geom.regionOf(polys, World.px(spec, id), World.py(spec, id))
      val want =
        if (r < 0) -1L
        else {
          val t = spec.tileOfCell(id)
          val bytes = Codec.encodeF32(World.tileBands(spec, t))
          val p = (((id - 1) / C % T) * T + (id - 1) % C % T).toInt
          Cart.PackedForest.classify(pf, bytes, p, r, spec.pixPerTile,
            cfg.lossFloor, cfg.confidenceFloor)
        }
      assert(got(id) == want, s"cell $id")
    }
  }

  test("multimodal features decode REAL bytes per format (png16 via " +
    "ImageIO, gtiff via the TIFF reader, jpeg via ImageIO, f32 raw)") {
    import graft.engine.Multimodal
    val media = Multimodal.syntheticMedia(spark)
    val feats = Multimodal.features(media)
      .collect().map(r => r.getAs[String]("image_id") -> r).toMap
    assert(feats.size == 4 * spec.nTiles)
    // the codegen expression path and the batched mapPartitions path
    // (the mapInPandas analog) agree exactly
    val batched = Multimodal.featuresBatched(media)
      .orderBy("image_id").collect().toSeq
      .map(r => r.toSeq)
    val exprPath = Multimodal.features(media)
      .orderBy("image_id").collect().toSeq.map(r => r.toSeq)
    assert(exprPath == batched)
    (0 until spec.nTiles).foreach { t =>
      val band0 = World.tileBands(spec, t)(0)
      def expectStats(px: Array[Float], suffix: String): Unit = {
        val r = feats(f"tile_$t%05d$suffix")
        assert(r.getAs[Double]("mean_px") ==
          px.map(_.toDouble).sum / px.length, s"tile $t$suffix mean")
        assert(r.getAs[Double]("max_px") == px.map(_.toDouble).max)
        assert(r.getAs[Long]("thumb_hash") ==
          Codec.phash(px, spec.tile, spec.tile))
      }
      expectStats(band0, "") // f32: exact
      // png16 is quantized: expected stats come from a REAL decode of the
      // same PNG bytes — matching proves the engine decoded, not faked
      val png = Codec.decodePng16(
        Codec.encodePng16(band0, spec.tile, spec.tile))
      assert(!java.util.Arrays.equals(png, band0) ||
        band0.forall(v => v * Codec.Png16Scale == math.round(v * Codec.Png16Scale)))
      expectStats(png, "_png")
      expectStats(band0, "_tif") // gtiff is lossless: decode must be exact
      // jpeg (band 1 payload) is DCT-lossy: expected stats come from a
      // REAL decode of the same JPEG bytes — matching proves the engine
      // ran the actual codec, not a stub
      val band1 = World.tileBands(spec, t)(1)
      val jpg = Codec.decodeJpegGray(
        Codec.encodeJpegGray(band1, spec.tile, spec.tile))
      expectStats(jpg, "_jpg")
    }
  }

  test("expand iteration joins reuse cur's captured hash partitioning: " +
    "zero exchanges in the per-iteration join plan (AQE off — adaptive " +
    "replanning drops LogicalRDD partitioning and re-exchanges)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the exact shape of one Expand iteration: a truncated cur
      // (repartitioned by cell_id) joined with an aggregate derived
      // from it — both sides must inherit the captured partitioning.
      // Goes through Checkpoint.truncate (the SHIPPED path, including
      // its stats re-leaf) — a bare localCheckpoint here would keep
      // passing even if truncate dropped the captured partitioning.
      val cur = graft.engine.Checkpoint.truncate(spark,
        spark.range(1, spec.nCells + 1).toDF("cell_id")
          .withColumn("final_class", (col("cell_id") % 3).cast("long"))
          .repartition(col("cell_id")))
      val adopted = cur.filter(col("final_class") === 0)
        .groupBy("cell_id").agg(min("final_class").as("adopted"))
      val plan = cur.join(adopted, Seq("cell_id"), "left")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"iteration join should be exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("expand termination modes: fixpoint mode fails LOUDLY on an " +
    "exhausted budget; distance mode fills exactly maxIters rings") {
    import spark.implicits._
    // one seed in a corner of a 16x16 grid: ring k adopts at round k,
    // fixed point needs 15 rounds
    val mini = graft.world.WorldSpec(rows = 16, cols = 16, tile = 16,
      nRegions = 1)
    val cls = spark.range(1, mini.nCells + 1).toDF("cell_id")
      .select(col("cell_id"),
        when(col("cell_id") === 1, 3L).otherwise(0L).as("final_class"))
    val e = intercept[IllegalArgumentException] {
      Expand.run(spark, mini, cls, maxIters = 2, requireConvergence = true)
        .count()
    }
    assert(e.getMessage.contains("fixed point"))
    // distance mode: exactly 2 rings filled (Chebyshev <= 2 from the
    // seed), everything further still 0 — documented, not silent
    val got = Expand.run(spark, mini, cls, maxIters = 2,
        requireConvergence = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- 1L to mini.nCells) {
      val cheb = math.max((id - 1) / 16, (id - 1) % 16)
      assert(got(id) == (if (cheb <= 2) 3L else 0L), s"cell $id")
    }
  }

  test("expand with a RELIABLE checkpoint dir set produces the same " +
    "fixed point as localCheckpoint mode") {
    import spark.implicits._
    val cls = classifiedFull()
    val local = Expand.run(spark, spec, cls, maxIters = 8,
        requireConvergence = true)
      .orderBy("cell_id").collect().toSeq
    val dir = graft.util.TempDirs.create("graft_rckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val reliable = Expand.run(spark, spec, cls, maxIters = 8,
        requireConvergence = true)
      .orderBy("cell_id").collect().toSeq
    assert(reliable == local)
    // the reliable path actually wrote RDD checkpoints
    assert(new java.io.File(dir.toString).listFiles().nonEmpty)
  }

  private def classifiedFull(): DataFrame = {
    val cls = Pipeline.fitPredictVote(spark, spec)
    spark.range(1, spec.nCells + 1).toDF("cell_id")
      .join(cls.select(col("cell_id"), col("class")), Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("class"), lit(0L)).as("final_class"))
  }

  test("headline plan shape: exactly one fused classify (one ray-cast) " +
    "per pixel, no separate PIP filter, exactly two exchanges") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val trees = (for (r <- 1 to 7; d <- 1 to 5)
        yield (r, d) -> (Cart.Leaf(0.3, 1, 0.0): Cart.Tree)).toMap
      // schema-compatible one-tile table: the plan shape is what's
      // under test, not execution (limit(0) would let Catalyst collapse
      // everything to an empty LocalTableScan)
      val tiles = World.tilesDF(spark, World.tiny)
        .filter(col("tile_id") === 0)
      val plan = graft.engine.Headline.planFrom(tiles, trees)
        .queryExecution.executedPlan.toString
      def count(needle: String): Int =
        plan.sliding(needle.length).count(_ == needle)
      assert(count("TileZonal.eval(") == 1,
        s"the tile kernel must appear exactly once:\n$plan")
      assert(!plan.contains("DriverClassifyAt.eval(") &&
        !plan.contains("Geom.regionOf(") && !plan.contains("RegionOf.eval("),
        "no classify or PIP evaluation may exist outside the tile kernel")
      assert(!plan.contains("explode(sequence"),
        s"no per-pixel explode:\n$plan")
      assert(count("Exchange") == 2,
        s"salted zonal agg = exactly two exchanges:\n$plan")
      // The kernel's Generate must stay inside whole-stage codegen
      // (tree-string spans carry a leading `*(id)`): a CodegenFallback
      // expression sneaking into the hot path would silently demote the
      // per-tile loop to interpreted eval — the round-4 q74 regression
      // class, guarded here for the headline.
      val kernelLine =
        plan.linesIterator.find(_.contains("TileZonal.eval(")).get
      assert(kernelLine.contains("Generate ") && kernelLine.contains("*("),
        s"tile kernel fell out of whole-stage codegen:\n$kernelLine")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q74 resize plan shape: the Resize2x projection is whole-stage " +
    "codegen'd (the expression-composition form rode CodegenFallback " +
    "via transform(); the dedicated expression must not regress)") {
    // AQE's executedPlan string is the pre-codegen initial plan (no
    // `*(id)` stars yet) — disable it so codegen collapse is visible.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.SparkEntry.queries("q74_image_resize")(spark, "ignored")
      val plan = df.queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(_.contains("Resize2x.eval("))
      assert(line.nonEmpty, s"no resize2x in the q74 plan:\n$plan")
      assert(line.get.contains("*("),
        s"resize projection fell out of whole-stage codegen:\n${line.get}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("generic PIP plan shape: region_explode evaluates regionof exactly " +
    "once per row (q21/q25/q39 and the features stage were 2x before)") {
    import graft.sql.GraftFunctions.region_explode
    val polys = World.polygons(spec)
    // the one point-in-polygon call form: the -1 sentinel (Geom.regionOf)
    def countRegionof(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString
      plan.sliding("Geom.regionOf(".length).count(_ == "Geom.regionOf(")
    }
    // the q21 shape: spine -> region rows
    val px = ((col("cell_id") - 1) % spec.cols).cast("double") + 0.5
    val py = floor((col("cell_id") - 1) / spec.cols).cast("double") + 0.5
    val q21Like = spark.range(1, spec.nCells + 1).toDF("cell_id")
      .select(col("cell_id"), region_explode(px, py, polys).as("region_id"))
    assert(countRegionof(q21Like) == 1,
      s"one ray-cast per row:\n${q21Like.queryExecution.executedPlan}")
    // values must equal the sentinel-projection + filter formulation
    val reference = spark.range(1, spec.nCells + 1).toDF("cell_id")
      .select(col("cell_id"),
        graft.sql.GraftFunctions.region_of_neg1(px, py, polys).as("region_id"))
      .filter(col("region_id") =!= -1)
    assert(q21Like.orderBy("cell_id").collect().toSeq ==
      reference.orderBy("cell_id").collect().toSeq)
    // the q29 scoring shape: fused cells -> region rows -> loss > 0 ->
    // vote; the loss filter must not re-introduce a second ray-cast, and
    // the forest is one expression, not a CASE WHEN chain per tree
    val scored = Pipeline.fitPredictVote(spark, spec)
    val plan = scored.queryExecution.executedPlan.toString
    assert(countRegionof(scored) == 1, s"one ray-cast per row:\n$plan")
    assert(plan.sliding("ForestVote.eval(".length)
      .count(_ == "ForestVote.eval(") == 1,
      s"one forest expression:\n$plan")
    assert(!plan.contains("CASE WHEN"), s"no when-chain trees:\n$plan")
  }

  test("region_explode's Generate stays in whole-stage codegen (q29): " +
    "the ray-cast is not evaluated interpreted") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q29_tree_fit_predict")(spark,
        "ignored").queryExecution.executedPlan.toString
      val generate = plan.linesIterator
        .filter(l => l.contains("Generate ") && l.contains("Geom.regionOf("))
        .toSeq
      assert(generate.size == 1, s"one region explode:\n$plan")
      assert(generate.head.contains("*("),
        s"Generate fell out of whole-stage codegen:\n${generate.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // null coordinates count as no-region: no row, never a null region
    import graft.sql.GraftFunctions.region_explode
    val rows = spark.range(0, 4).select(col("id"),
      region_explode(when(col("id") === 1, 1.5), lit(0.5),
        World.polygons(spec)).as("r")).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 1)),
      rows.toSeq.toString)
  }

  test("SQL function surface: GraftExtensions registers the engine " +
    "expressions; spark.sql results equal the Column API") {
    import graft.sql.{GraftExtensions, GraftFunctions}
    GraftExtensions.register(spark)
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "spark vector stream"),
      (3L, "ab")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("g_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash16(text) AS sh, " +
        "graft_minhash_sigs(text) AS mh FROM g_docs ORDER BY doc_id")
      .collect().toSeq.map(_.toSeq)
    val viaCol = docs.select(col("doc_id"),
        GraftFunctions.simhash16(col("text")).as("sh"),
        GraftFunctions.minhash_sigs(col("text"),
          graft.sql.MinHashSigs.Params, graft.sql.MinHashSigs.Prime)
          .as("mh"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(viaSql == viaCol)
    // dot product
    assert(spark.sql("SELECT graft_dot_f64(array(1.0D, 2.0D), " +
      "array(3.0D, 4.0D)) AS d").collect()(0).getDouble(0) == 11.0)
    // grid H3 with literal grid params
    val h3 = spark.sql("SELECT graft_grid_h3(5L, 64, 96, 9) AS h")
      .collect()(0).getLong(0)
    assert(h3 == graft.core.H3Lite.gridCellToH3(5L, 64, 96, 9))
    // decode + random access over a real tile payload
    World.tilesDF(spark, spec).filter(col("tile_id") === 0)
      .createOrReplaceTempView("g_tiles")
    val r = spark.sql(
      "SELECT graft_float_at(bytes, 0) AS f0, " +
        s"element_at(graft_decode_band(bytes, fmt, ${spec.pixPerTile}, 1), 1) AS b1, " +
        s"graft_media_stats(bytes, fmt, w, h, 4).mean_px AS mp FROM g_tiles")
      .collect()(0)
    assert(r.getFloat(0) == World.loss(spec.cellId(0, 0)).toFloat)
    assert(r.getFloat(1) == World.band(spec.cellId(0, 0), 1).toFloat)
    assert(!r.isNullAt(2))
    // S2 encode + parent: SQL registry vs Column API vs core, and the
    // implicit input cast (INT lat) resolves instead of class-casting
    val s2row = spark.sql(
      "SELECT graft_s2_cell(37.5D, -122.25D, 12) AS id, " +
        "graft_s2_parent(graft_s2_cell(37.5D, -122.25D, 12), 4) AS p, " +
        "graft_s2_cell(0, 0, 12) AS origin").collect()(0)
    assert(s2row.getLong(0) == graft.core.S2Lite.encode(37.5, -122.25, 12))
    assert(s2row.getLong(1) ==
      graft.core.S2Lite.parent(graft.core.S2Lite.encode(37.5, -122.25, 12), 4))
    assert(s2row.getLong(2) == graft.core.S2Lite.encode(0.0, 0.0, 12))
    val nbrs = spark.sql(
      "SELECT graft_s2_neighbors(graft_s2_cell(37.5D, -122.25D, 12)) AS n")
      .collect()(0).getSeq[Long](0)
    assert(nbrs == graft.core.S2Lite.edgeNeighbors(
      graft.core.S2Lite.encode(37.5, -122.25, 12)).toSeq)
    // codegen path (DataFrame over a real column) agrees with eval/core
    val s2df = Seq((1L, 10.0, 20.0), (2L, -45.5, 170.25), (3L, 80.0, -3.0))
      .toDF("k", "lat", "lng")
      .select(col("k"), GraftFunctions.s2_cell(col("lat"), col("lng"), 10)
        .as("id"))
    val got = s2df.orderBy("k").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(graft.core.S2Lite.encode(10.0, 20.0, 10),
      graft.core.S2Lite.encode(-45.5, 170.25, 10),
      graft.core.S2Lite.encode(80.0, -3.0, 10)))
    // non-literal plan parameters are refused loudly
    val e = intercept[Exception](
      spark.sql("SELECT graft_grid_h3(5L, 64, 96, CAST(doc_id AS INT)) " +
        "FROM g_docs").collect())
    assert(e.getMessage.contains("integer literal"))
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_s2_cell(0D, 0D, CAST(doc_id AS INT)) " +
        "FROM g_docs").collect())
    assert(e2.getMessage.contains("integer literal"))
    // s2_parent refuses a target level FINER than the id's own level
    // instead of emitting a plausible-looking garbage id
    val e3 = intercept[Exception](
      spark.sql("SELECT graft_s2_parent(graft_s2_cell(0D, 0D, 4), 10)")
        .collect())
    assert(e3.getMessage.contains("coarser"))
    // round-5 geometry/raster additions resolve through the SQL
    // registry and agree with their expression twins
    val hull = spark.sql(
      "SELECT graft_convex_hull(array(0L, 655360L, 655370L, 10L, 327685L))" +
        " AS h").collect()(0).getStruct(0)
    assert(hull.getLong(0) == 200L, "10x10 square area2 via SQL")
    assert(hull.getSeq[Long](1) == Seq(0L, 655360L, 655370L, 10L))
    val edt = spark.sql(
      "SELECT element_at(graft_edt(array(0, 1, 2, 3), " +
        "array(255.0D, 0.0D, 0.0D, 0.0D), 2, 128), 4) AS far")
      .collect()(0).getLong(0)
    assert(edt == 2L, "corner-feature 2x2 tile: far corner d2 = 2")
    val lbp = spark.sql(
      "SELECT element_at(graft_lbp(array(5, 6, 9, 10), " +
        "array(5.0D, 5.0D, 5.0D, 5.0D), 2), 1) AS c").collect()(0).getLong(0)
    assert(lbp == ((1L << 3) | (1L << 4) | (1L << 5)),
      "corner core sees its three present neighbors")
    // the spark.sql.extensions injection entry point wires up cleanly
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("bucketed tables co-locate repeated joins and aggregations: " +
    "zero Exchange in the join and agg plans over bucketed-by-key " +
    "tables (the pre-partitioning story for 100 TB fact tables)") {
    import spark.implicits._
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      (1L to 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("g_docs_bucketed")
      (1L to 1000L).map(i => (i, i * 7)).toDF("doc_id", "sig")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("g_sigs_bucketed")
      val joined = spark.table("g_docs_bucketed")
        .join(spark.table("g_sigs_bucketed"), "doc_id")
      val jPlan = joined.queryExecution.executedPlan.toString
      assert(jPlan.contains("SortMergeJoin"), jPlan)
      assert(!jPlan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$jPlan")
      assert(joined.count() == 1000)
      val agged = spark.table("g_docs_bucketed")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      assert(!agged.queryExecution.executedPlan.toString.contains("Exchange"),
        "aggregation on the bucket key must not shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.sql("DROP TABLE IF EXISTS g_docs_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_sigs_bucketed")
    }
  }

  test("Upsample2x (q144): hand-computed bilinear values on a 2x2 " +
    "payload, edge rows/cols clamped, and down-up round-trip fixes " +
    "every even-even pixel") {
    // 2x2 source [a b; c d] -> 4x4: interior mids average 2/4 sources,
    // the last row/col clamp (no phantom zero ring)
    val a = 0.25f; val b = 0.5f; val c = 0.75f; val d = 1.0f
    val src = Codec.encodeF32(Array(Array(a, b, c, d)))
    val up = graft.sql.Upsample2x.eval(src, 2, 2)
    val got = (0 until 16).map(p => Codec.floatAt(up, p))
    def avg2(u: Float, v: Float) = ((u.toDouble + v) / 2).toFloat
    def avg4(u: Float, v: Float, x: Float, y: Float) =
      ((u.toDouble + v + x + y) / 4).toFloat
    val expected = Seq(
      a, avg2(a, b), b, avg2(b, b),
      avg2(a, c), avg4(a, b, c, d), avg2(b, d), avg4(b, b, d, d),
      c, avg2(c, d), d, avg2(d, d),
      avg2(c, c), avg4(c, d, c, d), avg2(d, d), avg4(d, d, d, d))
    assert(got == expected)
    // round-trip: every dst (2r, 2c) is an exact source copy, so
    // Resize2x(Upsample2x(x)) == x would hold only for box-avg of equal
    // quads; the exact invariant is the even-even gather
    (0 until 4).foreach { p =>
      val r = p / 2; val cc = p % 2
      assert(Codec.floatAt(up, (2 * r) * 4 + 2 * cc) ==
        Codec.floatAt(src, p))
    }
  }

  test("GreedyNms (q148): a suppressed box does NOT suppress its own " +
    "overlaps (the chain case), and q148 equals the scalar greedy") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def pack(x1: Long, y1: Long, w: Long, h: Long): Long =
      (x1 << 24) | (y1 << 16) | (w << 8) | h
    // rank order A, B, C: B overlaps A heavily (suppressed); C overlaps
    // B heavily but A barely — C must SURVIVE because B is dead. A
    // rank-unaware "suppress if any higher-ranked box overlaps" would
    // kill C: this is the defining property of greedy NMS.
    val chain = ArrayData.toArrayData(Array(
      pack(0, 0, 10, 10), pack(4, 0, 10, 10), pack(9, 0, 10, 10)))
    val kept = graft.sql.GreedyNms.eval(chain, 3, 10)
    assert((0 until 3).map(kept.getLong) == Seq(1L, 0L, 1L))
    // scalar replica of the whole q148 fixture
    def h2(k: Long): Long = World.h2(k)
    val expected = (0L until spec.nTiles.toLong).flatMap { t =>
      val boxes = (0L until 6L).map { b =>
        (h2(t * 101 + b * 7 + 5) % 1000, b,
          h2(t * 101 + b * 7 + 1) % 48, h2(t * 101 + b * 7 + 2) % 48,
          h2(t * 101 + b * 7 + 3) % 12 + 4, h2(t * 101 + b * 7 + 4) % 12 + 4)
      }.sortBy { case (s, b, _, _, _, _) => (-s, b) }
      val kept = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      val out = boxes.map { case (s, b, x1, y1, w, h) =>
        val ok = kept.forall { case (ax1, ay1, ax2, ay2) =>
          val iw = math.min(x1 + w, ax2) - math.max(x1, ax1)
          val ih = math.min(y1 + h, ay2) - math.max(y1, ay1)
          val inter = math.max(0L, iw) * math.max(0L, ih)
          10 * inter < 3 * (w * h + (ax2 - ax1) * (ay2 - ay1) - inter)
        }
        if (ok) kept += ((x1, y1, x1 + w, y1 + h))
        (t, b, s, if (ok) 1 else 0)
      }
      out
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q148_box_nms")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getInt(3))).toSeq
    assert(got == expected)
    // the fixture genuinely suppresses (13 boxes across 9 images)
    assert(got.count(_._4 == 0) == 13)
    assert(got.filter(_._4 == 0).map(_._1).distinct.size == 9)
  }

  test("Resize2x is bit-identical to the expression-composition resize " +
    "(decode -> transform-lambda box avg -> TileEncode) AND its " +
    "projection stays inside whole-stage codegen (the composed form's " +
    "transform lambda is CodegenFallback and drops out)") {
    import graft.sql.GraftFunctions.resize2x
    val viaExpr = SparkEntry.queries("q74_image_resize")(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaComposition = graft.queries.Spatial.q74Composed(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaExpr.length == spec.nTiles * (spec.tile / 2) * (spec.tile / 2))
    assert(viaExpr.sameElements(viaComposition),
      "Resize2x diverges from the composed box average")
    // plan shape: the resize projection is codegen'd (a 1-row filter
    // keeps Catalyst from collapsing the frame; limit(0) would fold to
    // an empty LocalTableScan)
    val plan = World.tilesDF(spark, spec)
      .select(col("tile_id"), resize2x(col("bytes"), spec.tile, spec.tile)
        .as("small"))
      .filter(col("tile_id") >= 0)
      .queryExecution.executedPlan.toString
    val resizeLine = plan.linesIterator
      .find(_.toLowerCase.contains("resize2x")).getOrElse("")
    assert(resizeLine.trim.startsWith("*("),
      s"the resize PROJECT node itself is not codegen'd:\n$plan")
  }

  test("Mirror (q130) is an exact index permutation: both flips and " +
    "rot180 are involutions, flipV o flipH = rot180, every output " +
    "float IS the source pixel, and the projection stays in codegen") {
    import graft.sql.GraftFunctions.mirror
    val bands = World.tileBands(spec, 5)
    val bytes = graft.core.Codec.encodeF32(bands)
    val only0 = graft.core.Codec.encodeF32(Array(bands(0)))
    val t = spec.tile
    def f(mode: Int, b: Array[Byte]) = graft.sql.Mirror.eval(b, t, t, mode)
    assert(f(0, f(0, bytes)).sameElements(only0), "flipH involution")
    assert(f(1, f(1, bytes)).sameElements(only0), "flipV involution")
    assert(f(2, f(2, bytes)).sameElements(only0), "rot180 involution")
    assert(f(1, f(0, bytes)).sameElements(f(2, bytes)),
      "flipV o flipH = rot180")
    val hFlip = f(0, bytes)
    for (r <- 0 until t; c <- 0 until t)
      assert(graft.core.Codec.floatAt(hFlip, r * t + c) ==
        bands(0)(r * t + (t - 1 - c)), s"flipH pixel ($r,$c)")
    val plan = World.tilesDF(spark, spec)
      .select(col("tile_id"), mirror(col("bytes"), t, t, 0).as("aug"))
      .filter(col("tile_id") >= 0)
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator
      .find(_.toLowerCase.contains("mirror")).getOrElse("")
    assert(line.trim.startsWith("*("),
      s"the mirror PROJECT node is not codegen'd:\n$plan")
  }

  test("q135 border widths equal the planted letterbox pads on every " +
    "tile; BorderStats handles all-constant and NaN payloads; codegen") {
    import graft.sql.GraftFunctions.border_stats
    // scalar planted pads (the fixture formula)
    def pads(tid: Long): (Int, Int, Int, Int) = {
      def p(k: Int) = (World.h2(tid * 43 + k) % 5).toInt
      (p(1), p(2), p(3), p(4))
    }
    val got = SparkEntry.queries("q135_border_detect")(spark, "unused")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.length == 24)
    got.foreach { case (tid, m) =>
      assert(m == pads(tid), s"tile $tid measured $m planted ${pads(tid)}")
    }
    // fixture nondegeneracy: every pad width 0-4 occurs somewhere
    val widths = got.flatMap { case (_, (a, b, c, d)) => Seq(a, b, c, d) }
    assert(widths.distinct.sorted.toSeq == (0 to 4), "pads not exercised")
    // contract edges: an all-constant tile reads [h,h,w,w]; a NaN line
    // is never constant (NaN != NaN), the conservative detector reading
    val t = spec.tile
    val const = graft.core.Codec.encodeF32(
      Array(Array.fill(t * t)(3.5f)))
    assert(graft.sql.BorderStats.eval(const, t, t).toIntArray.toSeq ==
      Seq(t, t, t, t))
    val withNaN = Array.fill(t * t)(0.0f)
    withNaN(5) = Float.NaN
    assert(graft.sql.BorderStats.eval(
      graft.core.Codec.encodeF32(Array(withNaN)), t, t).toIntArray.toSeq ==
      Seq(0, t - 1, 5, t - 6), "NaN row/col must read non-constant")
    val plan = World.tilesDF(spark, spec)
      .select(col("tile_id"), border_stats(col("bytes"), t, t).as("b"))
      .filter(col("tile_id") >= 0)
      .queryExecution.executedPlan.toString
    val line = plan.linesIterator
      .find(_.toLowerCase.contains("borderstats")).getOrElse("")
    assert(line.trim.startsWith("*("),
      s"the border-stats PROJECT node is not codegen'd:\n$plan")
  }

  test("AutoCrop (q139) removes exactly what BorderStats reports, " +
    "all-border images crop to the empty payload, and the derived-length " +
    "decode reads it back") {
    val t = spec.tile
    // a hand-built 4x4 letterbox inside a t x t frame: pads (1,2,3,0)
    val px = Array.tabulate(t * t) { i =>
      val (r, c) = (i / t, i % t)
      if (r < 1 || r >= t - 2 || c < 3) 7.5f
      else (r * t + c).toFloat / 64f
    }
    val bytes = graft.core.Codec.encodeF32(Array(px))
    val cropped = graft.sql.AutoCrop.eval(bytes, t, t)
    val nw = t - 3
    val nh = t - 3
    val back = graft.core.Codec.decodeBand("f32", cropped, -1, 0)
    assert(back.length == nw * nh, "derived-length decode dims")
    for (r <- 0 until nh; c <- 0 until nw)
      assert(back(r * nw + c) == px((r + 1) * t + c + 3),
        s"cropped pixel ($r,$c)")
    // all-border: the empty payload, which decodes to zero pixels
    val const = graft.core.Codec.encodeF32(Array(Array.fill(t * t)(1.0f)))
    assert(graft.sql.AutoCrop.eval(const, t, t).isEmpty)
    assert(graft.core.Codec.decodeBand("f32",
      Array.emptyByteArray, -1, 0).isEmpty)
  }

  test("hammingPairs (4x16-bit pigeonhole banding, q77) equals brute " +
    "force at maxDist 3, including a 3-shared-band candidate the exact " +
    "verify must reject and a sign-bit-band match") {
    import spark.implicits._
    val base = 0x0123456789ABCDEFL
    val sigs = Seq(
      "d1" -> base,
      "d2" -> (base ^ 1L), // hamming 1, band 0
      // 3 flips spread over bands 1..3: shares ONLY band 0 with d1 —
      // the pigeonhole worst case (one surviving band)
      "d3" -> (base ^ ((1L << 17) | (1L << 33) | (1L << 49))),
      // 1 flip in EVERY band vs d1: no shared band, distance 4 — a
      // true negative the banding correctly never surfaces
      "d4" -> (base ^ (1L | (1L << 17) | (1L << 33) | (1L << 49))),
      // 4 flips all inside band 0: bands 1..3 still collide with d1,
      // so this IS a candidate — only the exact popcount rejects it
      "d5" -> (base ^ 0xFL),
      "d6" -> ~base,
      "d7" -> (Long.MinValue | 5L),
      // sign-bit flip: hamming 1 found via the TOP band (pins the
      // arithmetic-shift + mask chunk math on negative longs)
      "d8" -> ((Long.MinValue | 5L) ^ (1L << 63)))
    val got = graft.queries.TextOps
      .hammingPairs(sigs.toDF("id", "sig"), "id", "sig", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d)).toSet
    assert(want.exists(_._3 == 3), "fixture must exercise distance 3")
    assert(got == want)
    assert(!got.exists(p => p._1 == "d1" && p._2 == "d5"),
      "the 3-shared-band candidate at distance 4 must be verify-rejected")
    // Pin the JVM phash against the q77 oracle's DuckDB reconstruction
    // (independent block-mean/global-mean arithmetic over the cell
    // formulas produced this exact value for tile 0's band 0).
    assert(Codec.phash(World.tileBands(spec, 0)(0), spec.tile, spec.tile)
      == 8969051118866561272L)
  }

  test("q77 plan shape: the banded self-join reuses ONE exchange on the " +
    "band key (ReusedExchange), three exchanges total (band join + " +
    "pair distinct + output sort)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q77_phash_neardup")(spark, "ignored")
        .queryExecution.executedPlan.toString
      // node-line counting: a ReusedExchange line EMBEDS a textual
      // reference to the exchange it reuses, so substring counts
      // over-count by one
      def nodes(tok: String): Int = plan.linesIterator
        .count(_.replaceAll("""^[\s:+\-*()\d]*""", "").startsWith(tok))
      assert(nodes("ReusedExchange") == 1,
        s"the self-join's two sides must share one shuffle:\n$plan")
      assert(nodes("Exchange") == 3,
        s"band join + distinct + sort = exactly three exchanges:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"banding must never degrade to an O(n^2) join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("Components.minLabel (shared q56/q78 CC engine): chain longer " +
    "than one sync block converges, separate components stay separate, " +
    "string ids propagate lexically, only edge-incident nodes returned") {
    import spark.implicits._
    // b-c-d-e is a diameter-3 chain (> syncEvery = 2, so convergence
    // spans driver-sync blocks); x-y is a second component
    val pairs = Seq(("c", "b"), ("c", "d"), ("d", "e"), ("y", "x"))
      .toDF("p", "q")
    val labels = graft.engine.Components.minLabel(spark, pairs, "test_cc")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("b" -> "b", "c" -> "b", "d" -> "b", "e" -> "b",
      "x" -> "x", "y" -> "x"))
  }

  test("Components.minLabel union-find seeding: a 400-edge hashed graph " +
    "(long chains + separate components) matches a scalar union-find " +
    "ground truth exactly") {
    import spark.implicits._
    // deterministic graph mixing chain, star and cross-partition edges
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 997
      val b = if (i % 3 == 0) (a + 1) % 997 else (i * 40503L) % 997
      (a, b)
    }.filter { case (a, b) => a != b }
    // scalar ground truth: union-find, label = component min
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expect = parent.keys.map(n => n -> find(n)).toMap
    val got = graft.engine.Components
      .minLabel(spark, edges.toDF("p", "q"), "test_cc_seeded")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("grid_h3 expression matches H3Lite; res-4 parent bit math nests") {
    import graft.core.H3Lite
    import graft.sql.GraftFunctions.grid_h3
    val n = 2048
    val got = spark.range(1, n + 1).toDF("cell_id")
      .select(col("cell_id"),
        grid_h3(col("cell_id"), spec.rows, spec.cols, 9).as("h3"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, h3) =>
      assert(h3 == H3Lite.gridCellToH3(id, spec.rows, spec.cols, 9))
      assert(H3Lite.isValid(h3) && H3Lite.res(h3) == 9)
      val p4 = H3Lite.parent(h3, 4)
      assert(H3Lite.res(p4) == 4)
      assert(H3Lite.row(p4) == (H3Lite.row(h3) >> 5))
      assert(H3Lite.col(p4) == (H3Lite.col(h3) >> 5))
    }
  }

  test("q33 importance guard band: every per-feature gain sum sits far " +
    "from its 1e-6 rounding boundary and from the >0 cut, so the " +
    "oracle's unordered SUM cannot flip a compared value") {
    val gains = graft.queries.Spatial.importanceGains
    assert(gains.nonEmpty)
    var minBoundary = Double.PositiveInfinity
    var minPositive = Double.PositiveInfinity
    gains.foreach { case (_, gs) =>
      val imp = gs.sum
      if (imp > 0) {
        // distance of imp*1e6 from the nearest round-half boundary
        val scaled = imp * 1e6
        val frac = scaled - math.floor(scaled)
        minBoundary = math.min(minBoundary, math.abs(frac - 0.5))
        minPositive = math.min(minPositive, imp)
      } else
        // a sum at/below zero must be FAR below the >0 cut, or be an
        // exact zero of all-zero terms (reorder-proof) — an order
        // flip must not push it over the HAVING
        assert(imp < -1e-9 || (imp == 0.0 && gs.forall(_ == 0.0)),
          s"gain sum $imp too close to the >0 cut")
    }
    // ulp-scale reordering error is ~1e-10 relative; 1e-3 of margin in
    // the 1e-6-scaled domain is 6+ orders of safety
    assert(minBoundary > 1e-3,
      s"importance too close to rounding boundary: $minBoundary")
    assert(minPositive > 1e-6, s"positive importance too small: $minPositive")
  }

  test("frameSample: per-frame stats equal a brute decode of the World.vid " +
    "formula, only the sampled stride-4 indices appear") {
    import graft.engine.Multimodal
    val out = Multimodal.frameSample(Multimodal.syntheticVideo(spark),
        Multimodal.VideoFrames, stride = 4, spec.pixPerTile)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val wantFrames = (0 until Multimodal.VideoFrames by 4).toSet // 0,4,8
    assert(out.keys.map(_._2).toSet == wantFrames)
    assert(out.size == spec.nTiles * wantFrames.size)
    for (t <- Seq(0, 7, spec.nTiles - 1); f <- wantFrames) {
      val px = (0 until spec.pixPerTile)
        .map(p => World.vid(spec.cellId(t, p), f).toFloat.toDouble)
      val want = (px.sum / px.length, px.max,
        px.zipWithIndex.map { case (v, i) => (i + 1) * v }.sum)
      assert(out((f"vid_$t%05d", f)) == want, s"tile $t frame $f")
    }
  }

  test("RangeJoin.bandedIntervalJoin equals the naive non-equi join " +
    "(overlapping intervals, boundary-inclusive), and plans an equi " +
    "join — never a nested-loop/cartesian") {
    import spark.implicits._
    // points on band boundaries, in overlaps, and outside all bands
    val pts = Seq(0.0, 99.5, 100.0, 100.5, 150.0, 199.0, 250.0, 777.0, -5.0)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("pt_id", "x")
    // stride 50 < width 100: interiors overlap pairwise
    val ivs = (0 until 12).map { i =>
      (i.toLong, i * 50.0, i * 50.0 + 100.0)
    }.toDF("iv_id", "lo", "hi")
    val banded = graft.engine.RangeJoin.bandedIntervalJoin(
      pts, "x", ivs, "lo", "hi", bucketWidth = 64)
    val got = banded.select("pt_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.join(ivs, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pt_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.exists(p => want.count(_._1 == p._1) > 1),
      "fixture must exercise a point matching multiple intervals")
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"banded rewrite must plan an equi join:\n$plan")
  }

  test("q84 HLL sketch: estimate lands within the theoretical error of " +
    "exact distinct; registers are partitioning-invariant (max-merge); " +
    "the plan partial-aggregates before the exchange") {
    import spark.implicits._
    // synthetic corpus: n distinct texts (3-char shingle alphabet wide
    // enough that fingerprints rarely collide), written to a temp
    // parquet dir shaped like the driver's documents table
    val n = 3000
    val docs = (0 until n).map { i =>
      // lead with one marker token so the predicted langs spread
      val b = new StringBuilder(
        Seq("of", "spark", "customer")(i % 3)).append(' ')
      var x = i * 2654435761L % 4294967296L
      (0 until 12).foreach { _ =>
        x = (x * 2654435761L + 13) % 4294967296L
        b.append(('a' + (x % 26)).toInt.toChar)
          .append(('a' + (x / 26 % 26)).toInt.toChar).append(' ')
      }
      (i.toLong, b.toString.trim)
    }.toDF("doc_id", "text")
    val dir = graft.util.TempDirs.create("hll_docs")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = graft.SparkEntry.queries("q84_hll_registers")
    val rows = q(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.length == 3 * 64, "dense spine: every (lang, bucket)")
    // exact distinct mixed-hash count per predicted lang, recomputed
    // through the SAME fingerprint pipeline the sketch hashes
    // (TextOps' own shingle/code builders, private[graft])
    import graft.queries.TextOps.{code3, shingles}
    val fpCol = org.apache.spark.sql.functions.aggregate(
      array_distinct(shingles(col("text"))),
      org.apache.spark.sql.functions.lit(0L),
      (acc, g) => (acc + code3(g) * code3(g)) % 2147483647L)
    val est = rows.groupBy(_._1).map { case (lang, rs) =>
      lang -> graft.queries.TextOps.hllEstimate(rs.sortBy(_._2).map(_._3))
    }
    // per-lang exact counts via the oracle-identical SQL route: group
    // the mixed hash h2 by predicted lang with a DataFrame mirror
    val exact = {
      val toks = split(col("text"), " ")
      val markers = Seq(
        "grammar" -> Seq("the", "a", "of"),
        "engine" -> Seq("spark", "vector", "stream", "window"),
        "schema" -> Seq("customer", "line", "part", "orderkey"))
      val sc = markers.map { case (_, ws) =>
        size(filter(toks, tk => tk.isin(ws: _*)))
      }
      val lang = when(sc(0) >= sc(1) && sc(0) >= sc(2), "grammar")
        .when(sc(1) >= sc(2), "engine").otherwise("schema")
      val h2 = (fpCol * lit(2654435761L)) % lit(4294967296L)
      docs.select(lang.as("lang"), h2.as("h2"))
        .groupBy("lang").agg(countDistinct("h2").as("d"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    est.foreach { case (lang, e) =>
      val ex = exact.getOrElse(lang, 0L).toDouble
      assert(ex > 0 && math.abs(e - ex) / ex < 0.35,
        s"HLL-64 estimate for $lang: $e vs exact $ex " +
          s"(expected within ~3 sigma of 1.04/sqrt(64) = 13%)")
    }
    // merge-associativity: registers identical under a different input
    // partitioning (7-way vs default) — partial maxes merge to the
    // same sketch no matter how rows are split across tasks
    val dir7 = graft.util.TempDirs.create("hll_docs7")
    docs.repartition(7).write.mode("overwrite")
      .parquet(s"$dir7/documents.parquet")
    val rowsRepart = q(spark, dir7.toString).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq == rowsRepart.toSeq)
    // partial aggregation (the sketch merge) happens BEFORE the shuffle
    // (AQE off so the static plan string shows the aggregate modes)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q(spark, dir.toString).queryExecution.executedPlan.toString
      // the tree prints top-down, so the partial (pre-shuffle) aggregate
      // is BELOW the hash exchange in the text
      val below = plan.split("Exchange hashpartitioning\\(lang").last
      assert(below.contains("partial_max"),
        s"sketch must reduce per-partition before the exchange:\n$plan")
      // the staged selects must hold the fingerprint fold to ONE
      // evaluation per row (bucket + rank both reference it; an
      // un-staged projection re-evaluated the CodegenFallback lambda
      // up to 4x per row)
      val needle = "aggregate(array_distinct"
      val folds = plan.sliding(needle.length).count(_ == needle)
      assert(folds == 1,
        s"fingerprint fold must be evaluated once per row, found $folds:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q91 count-min sketch: one-sided estimator guarantee on skewed " +
    "keys, exact heavy-hitter screen, merge-associativity, partial agg " +
    "below the exchange") {
    import spark.implicits._
    import graft.world.World.h
    // skewed fixture: two heavy users (20% / 10% of rows) over a
    // ~500-user tail
    val n = 8000
    val events = (0 until n).map { i =>
      val hv = h(i.toLong * 11 + 3)
      val user =
        if (hv % 5 == 0) 7L
        else if (hv % 10 == 1) 13L
        else 100L + h(i.toLong * 29 + 1) % 500
      (i.toLong, user)
    }.toDF("event_id", "user_id")
    val dir = graft.util.TempDirs.create("cm_events")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val q = graft.SparkEntry.queries("q91_cm_sketch")
    val rows = q(spark, dir.toString).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows.size == 4 * 64, "dense spine: every (row, col) register")
    // every sketch row's registers sum to N (each event lands once per row)
    (0 until 4).foreach { r =>
      val s = rows.collect { case ((`r`, _), c) => c }.sum
      assert(s == n, s"row $r registers sum $s != $n")
    }
    val exact = events.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one-sided guarantee: NEVER an undercount, for every key
    exact.foreach { case (u, ex) =>
      val est = graft.queries.TextOps.cmEstimate(rows, u)
      assert(est >= ex, s"CM undercounted user $u: $est < $ex")
    }
    // heavy hitters (>= 5% of rows) are found with small relative
    // error: their own mass dominates the collision noise in a cell
    exact.filter(_._2 >= n / 20).foreach { case (u, ex) =>
      val est = graft.queries.TextOps.cmEstimate(rows, u)
      assert((est - ex).toDouble / ex < 0.25,
        s"heavy user $u overestimated: $est vs $ex")
    }
    // screen at threshold n/20: no false negatives (deterministic
    // consequence of one-sidedness), and the candidate set stays small
    val candidates = exact.keys.filter(u =>
      graft.queries.TextOps.cmEstimate(rows, u) >= n / 20).toSet
    val truly = exact.filter(_._2 >= n / 20).keySet
    assert(truly.subsetOf(candidates), "screen missed a heavy hitter")
    assert(candidates.size <= exact.size / 4,
      s"screen kept ${candidates.size} of ${exact.size} keys - no pruning")
    // merge-associativity: identical registers under 7-way repartition
    val dir7 = graft.util.TempDirs.create("cm_events7")
    events.repartition(7).write.mode("overwrite")
      .parquet(s"$dir7/events.parquet")
    assert(q(spark, dir7.toString).collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap == rows)
    // the sketch merge is the partial count below the exchange
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q(spark, dir.toString).queryExecution.executedPlan.toString
      val below = plan.split("Exchange hashpartitioning\\(r").last
      assert(below.contains("partial_count"),
        s"sketch must reduce per-partition before the exchange:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q110 log-linear quantile sketch: estimate within the 12.5% " +
    "constructive bound at every quantile, registers add across disjoint " +
    "corpora and survive repartitioning, partial agg below the exchange") {
    import spark.implicits._
    import graft.world.World.h
    // three groups with very different dynamic ranges: uniform-ish small,
    // heavy-tailed (squared hash), and a wide log-range — n_chars spans
    // 1 .. ~10^6 so buckets across ~20 exponents get exercised
    val n = 6000
    val docs = (0 until n).map { i =>
      val g = (h(i.toLong * 7 + 5) % 3).toInt
      val u = h(i.toLong * 13 + 1) % 1000 + 1
      val v = g match {
        case 0 => u                       // ~uniform on [1, 1000]
        case 1 => u * u                   // heavy tail to 10^6
        case _ => 1L << (u % 20)          // exact powers of two (bucket edges)
      }
      (i.toLong, s"g$g", v)
    }.toDF("doc_id", "source", "n_chars")
    val dir = graft.util.TempDirs.create("qsketch_docs")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = graft.SparkEntry.queries("q110_qsketch")
    val regRows = q(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val regs = regRows.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    assert(regs.keySet == Set("g0", "g1", "g2"))
    // register mass equals group row count
    val exactByGroup = docs.collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    regs.foreach { case (g, rs) =>
      assert(rs.map(_._2).sum == exactByGroup(g).size)
    }
    // the bound the comment promises: estimate is the bucket LOWER edge,
    // so est <= exact rank value and (exact - est) / est <= 1/8, at any
    // quantile, for any data — by construction, not by luck
    for {
      (g, sorted) <- exactByGroup
      qq <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    } {
      val exact = sorted(
        (math.max(1L, math.ceil(qq * sorted.size).toLong) - 1).toInt).toDouble
      val est = graft.queries.TextOps.qsketchEstimate(regs(g), qq)
      assert(est <= exact + 1e-9 && exact - est <= est / 8 + 1e-9,
        s"group $g q=$qq: est $est vs exact $exact outside the 2^-3 bound")
    }
    // mergeability: registers of two disjoint halves ADD to the full
    // sketch (the property that lets 1000 executors each sketch their
    // shard and a coordinator sum the registers)
    def runOn(df: org.apache.spark.sql.DataFrame, tag: String) = {
      val d = graft.util.TempDirs.create(tag)
      df.write.mode("overwrite").parquet(s"$d/documents.parquet")
      q(spark, d.toString).collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    }
    val loHalf = runOn(docs.filter($"doc_id" % 2 === 0), "qsk_lo")
    val hiHalf = runOn(docs.filter($"doc_id" % 2 === 1), "qsk_hi")
    val full = regRows.map(t => ((t._1, t._2), t._3)).toMap
    val summed = (loHalf.keySet ++ hiHalf.keySet).map(k =>
      k -> (loHalf.getOrElse(k, 0L) + hiHalf.getOrElse(k, 0L))).toMap
    assert(summed == full, "disjoint-corpus registers must sum to the full sketch")
    // partitioning-invariance: same registers under a 7-way input split
    assert(runOn(docs.repartition(7), "qsk_7") == full)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q(spark, dir.toString).queryExecution.executedPlan.toString
      val below = plan.split("Exchange hashpartitioning\\(source").last
      assert(below.contains("partial_count"),
        s"sketch merge must be the partial count below the exchange:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("RepStats (q100 repetition stats) equals a brute-force gram count " +
    "on adversarial token streams") {
    def brute(text: String): Seq[Int] = {
      val toks = text.split(" ", -1).toSeq
      Seq(2, 3).flatMap { k =>
        val grams = toks.sliding(k).filter(_.size == k).map(_.mkString("\u001f")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size)
        Seq(grams.size,
          if (counts.isEmpty) 0 else counts.values.max,
          grams.size - counts.size)
      }
    }
    val cases = Seq(
      "", " ", "one", "a b", "a b a b a b",          // sub-gram edges
      "x  y", "trail ",                              // empty tokens kept
      "a a a a a a a a",                             // one token repeated
      "spam ham spam ham eggs spam ham",             // interleaved
      "été été tête")       // non-ASCII tokens
    import spark.implicits._
    val got = cases.toDF("text")
      .select(graft.sql.GraftFunctions.rep_stats($"text").as("st"))
      .collect().map(_.getSeq[Int](0).toSeq)
    cases.zip(got).foreach { case (text, s) =>
      assert(s == brute(text), s"RepStats mismatch on '$text'")
    }
    // "a b a b a b": 2-grams = ab,ba,ab,ba,ab -> n2=5 top2=3 dup2=3;
    // 3-grams = aba,bab,aba,bab -> n3=4 top3=2 dup3=2
    assert(got(cases.indexOf("a b a b a b")) == Seq(5, 3, 3, 4, 2, 2))
  }

  test("GroupRank (q101/q103 engine op) equals the naive one-reducer " +
    "window and spreads every group over many partitions") {
    import spark.implicits._
    // Skewed groups: 'a' holds 80% of rows — exactly the case where
    // row_number() OVER (PARTITION BY grp) collapses to one hot task.
    val n = 2000
    val df = spark.range(n).select(
      when(col("id") % 10 < 8, "a").when(col("id") % 10 === 8, "b")
        .otherwise("c").as("grp"),
      // unique-per-group, deliberately not in id order
      ((col("id") * 733) % n).as("k"),
      col("id"))
    val got = graft.engine.GroupRank.assign(df, "grp", Seq("k", "id"), "rk")
    val naive = df.withColumn("rk2", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy("k", "id")).cast("long"))
    assert(got.join(naive, Seq("grp", "k", "id"))
      .filter(col("rk") =!= col("rk2")).count() == 0L)
    assert(got.count() == n.toLong)
    // The parallelism claim: the per-group rank is computed from
    // within-RANGE-partition row numbers, so the dominant group must
    // span >1 range partition (the naive window puts it on 1 task).
    // AQE off: on this tiny frame it coalesces the post-shuffle side
    // to one partition and would mask the layout under test.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val spread = df.repartitionByRange(col("grp"), col("k"), col("id"))
        .filter($"grp" === "a")
        .select(spark_partition_id()).distinct().count()
      assert(spread > 1, s"group 'a' landed on $spread range partition(s)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("BboxJoin (q102 engine op) equals brute force, emits each pair " +
    "exactly once, and plans an equi join — not a nested loop") {
    import spark.implicits._
    // Deliberately cell-straddling geometry: cell=16, boxes up to 40
    // wide (span 3+ cells per axis — the multi-cell dedup case the
    // reference-point filter exists for), plus exact-touch edges.
    val cell = 16L
    def mk(n: Int, salt: Long) = (1 to n).map { i =>
      val k = i * 7919L + salt
      val xmin = (k * 131) % 200; val ymin = (k * 197) % 200
      (i.toLong, xmin, ymin, xmin + 1 + (k * 13) % 40, ymin + 1 + (k * 11) % 40)
    }
    val la = mk(120, 3) ++ Seq((900L, 50L, 50L, 66L, 66L)) // touch probe
    val lb = mk(90, 57) ++ Seq((901L, 66L, 66L, 80L, 80L)) // touches 900
    val a = la.toDF("a_id", "xmin", "ymin", "xmax", "ymax")
    val b = lb.toDF("b_id", "xmin", "ymin", "xmax", "ymax")
    val got = graft.engine.BboxJoin.join(a, "a_id", b, "b_id", cell)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val brute = for {
      (ai, ax0, ay0, ax1, ay1) <- la
      (bi, bx0, by0, bx1, by1) <- lb
      if ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
    } yield (ai, bi)
    assert(got.sorted == brute.sorted.toSeq) // == also fails on dup emits
    assert(got.contains((900L, 901L)), "closed-interval touch must join")
    val plan = graft.engine.BboxJoin.join(a, "a_id", b, "b_id", cell)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"degenerated to a BNLJ:\n$plan")
    assert(!plan.contains("Cartesian"), s"degenerated to a cross:\n$plan")
  }

  test("q134 chi2 ranking equals the scalar dense-grid replica and the " +
    "planted features outrank the noise") {
    def h(k: Long): Long = World.h(k)
    // training cells + the 10 q134 features, scalar-side
    val cells = (1L to 6144L).filter(id => h(id * 13) % 64 < 4)
      .map(id => id -> (h(id * 13 + 1) % 7 + 1))
    def fv(id: Long, cls: Long, b: Int): Long =
      if (b == 0) (cls * 36 + h(id * 17) % 36) % 256
      else if (b == 1) (cls * 32 + h(id * 17 + 1) % 224) % 256
      else h(id * 17 + b) % 256
    val chi2 = (0 until 10).map { b =>
      val obs = cells.groupBy { case (id, cls) => (fv(id, cls, b) / 32, cls) }
        .view.mapValues(_.size.toLong).toMap
      // toSeq before the comprehension: a for over Sets yields a Set,
      // which would collapse equal chi2 terms before the sum
      val bins = obs.keySet.map(_._1).toSeq
      val clss = obs.keySet.map(_._2).toSeq
      val t = cells.size.toLong
      val terms = for (bin <- bins; cls <- clss) yield {
        val o = obs.getOrElse((bin, cls), 0L)
        val r = clss.toSeq.map(c => obs.getOrElse((bin, c), 0L)).sum
        val c = bins.toSeq.map(x => obs.getOrElse((x, cls), 0L)).sum
        (o * t - r * c) * (o * t - r * c) * 100 / (r * c * t)
      }
      b -> terms.sum
    }
    val ranked = chi2.sortBy { case (f, x) => (-x, f) }
      .zipWithIndex.map { case ((f, x), i) => (f, x, i + 1) }
    val got = SparkEntry.queries("q134_chi2_rank")(spark, "unused")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == ranked, "chi2 ranking mismatch vs scalar replica")
    // planted structure: strong signal first, and both planted features
    // strictly above every pure-noise feature
    assert(got.head._1 == 0, "strong planted feature not ranked first")
    val noiseMax = chi2.filter(_._1 >= 2).map(_._2).max
    assert(chi2(0)._2 > noiseMax && chi2(1)._2 > noiseMax,
      "planted features do not outrank the noise")
  }

  test("q133 SCD2 intervals tile per entity (no overlap, closed by the " +
    "next change), deletes close without reopening, one current row max") {
    val sentinel = 9999999999L
    val rows = SparkEntry.queries("q133_scd2_apply")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // scalar replica of the change log, to know where the deletes are
    val log = (0L until 4000L).map { r =>
      (r % 100 + 1, (r / 100) * 100 + World.h2(r * 7 + 1) % 90,
        World.h2(r * 11 + 3) % 8 == 0)
    }
    rows.groupBy(_._1).foreach { case (ent, ivs) =>
      val sorted = ivs.sortBy(_._2)
      sorted.foreach { case (_, from, to, _, cur) =>
        assert(from < to, s"empty interval on entity $ent")
        assert(cur == (to == sentinel), s"is_current drift on $ent")
      }
      // intervals never overlap; gaps appear exactly at deletes
      sorted.sliding(2).foreach {
        case Array((_, _, to1, _, _), (_, from2, _, _, _)) =>
          assert(to1 <= from2, s"overlapping intervals on entity $ent")
        case _ =>
      }
      assert(sorted.count(_._5) <= 1, s"multiple current rows on $ent")
      // an entity whose last change is a delete has NO current row
      val lastIsDelete = log.filter(_._1 == ent).maxBy(_._2)._3
      assert(sorted.exists(_._5) == !lastIsDelete,
        s"current-row rule broken on entity $ent")
    }
    // the fixture must exercise the delete-last case somewhere
    val deleteLast = log.groupBy(_._1).values.count(_.maxBy(_._2)._3)
    assert(deleteLast > 0, "fixture degenerate: no entity ends deleted")
    // and every upsert row surfaces exactly once
    assert(rows.length == log.count(!_._3))
  }

  test("q155 Mann-Kendall: S, tie-corrected var18 and Sen's slope equal " +
    "the direct pairwise computation, with ties in both value and ts") {
    import spark.implicits._
    import graft.world.World.h
    val baseMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 5 users x 24 events; TWO events share each second (ts ties -> the
    // eid tie-break and the dt=0 slope exclusion) and values are
    // quantized to 8 levels (heavy value ties -> the variance correction)
    val fixture = (0 until 120).map { i =>
      val u = (i % 5).toLong
      val k = i / 5
      val ts = new java.sql.Timestamp(baseMs + (k / 2).toLong * 1000L)
      val v = (h(i.toLong * 7 + 1) % 8).toDouble
      (i.toLong, ts, u, v)
    }
    val dir = graft.util.TempDirs.create("mk_events")
    fixture.toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.SparkEntry.queries("q155_mann_kendall")(
        spark, dir.toString)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.size == 5)
    fixture.groupBy(_._3).foreach { case (u, evs) =>
      val srt = evs.map { case (eid, ts, _, v) =>
        (ts.getTime * 1000L, eid, v)
      }.sortBy(e => (e._1, e._2))
      val n = srt.size.toLong
      val pairs = for {
        i <- srt.indices; j <- (i + 1) until srt.size
      } yield (srt(i), srt(j))
      val s = pairs.map { case ((_, _, v1), (_, _, v2)) =>
        if (v2 > v1) 1L else if (v2 < v1) -1L else 0L
      }.sum
      val tt = srt.groupBy(_._3).values.map(_.size.toLong)
        .map(t => t * (t - 1) * (t * 2 + 5)).sum
      val var18 = n * (n - 1) * (n * 2 + 5) - tt
      val slopes = pairs.collect {
        case ((t1, e1, v1), (t2, e2, v2)) if t2 > t1 =>
          ((v2 - v1) / ((t2 - t1).toDouble / 1000000.0), e1, e2)
      }.sorted
      val sen = slopes((slopes.size + 1) / 2 - 1)._1 // lower median
      assert(got(u) == ((n, s, var18, sen)), s"user $u")
    }
  }
}
