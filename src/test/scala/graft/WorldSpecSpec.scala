package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Headline
import graft.world.{World, WorldSpec}

/** The Column layout builders on `WorldSpec` (cellOf, inGridAt, tileOf,
  * pixOf, row0Of, col0Of, pxOf, pyOf) against the scalar layout they
  * must agree with (`cellId`, `inGrid`, `tileOfCell`, `World.px/py`)
  * and against the NaN padding `World.tileBands` writes. */
class WorldSpecSpec extends SparkSpec {

  private val padded = WorldSpec(rows = 37, cols = 53, tile = 16, nRegions = 3)
  private val hs = Headline.spec
  private val hsEdge = (0 until hs.nTiles).filter(t =>
    t / hs.tilesX == hs.tilesY - 1 || t % hs.tilesX == hs.tilesX - 1)

  for ((name, spec, tiles) <- Seq(
      ("World.tiny", World.tiny, 0 until World.tiny.nTiles),
      ("padded 37x53 tile 16", padded, 0 until padded.nTiles),
      ("Headline.spec's last tile row and column", hs, hsEdge)))
    test(s"layout builders equal the scalar layout on $name") {
      assert(spec.padded == (spec != World.tiny))
      val t = col("t")
      val p = col("p")
      val id = col("id")
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          tiles.map(Tuple1(_)), 4)).toDF("t")
        .select(t, explode(sequence(lit(0), lit(spec.pixPerTile - 1))).as("p"))
        .select(t, p, spec.cellOf(t, p).as("id"),
          spec.inGridAt(t, p).as("in"))
        .select(t, p, id, col("in"), spec.tileOf(id).as("tile"),
          spec.pixOf(id).as("pix"), spec.row0Of(id).as("row0"),
          spec.col0Of(id).as("col0"), spec.pxOf(id).as("px"),
          spec.pyOf(id).as("py"))
      assert(df.schema.map(f => f.name -> f.dataType) == Seq(
        "t" -> IntegerType, "p" -> IntegerType, "id" -> LongType,
        "in" -> BooleanType, "tile" -> IntegerType, "pix" -> IntegerType,
        "row0" -> LongType, "col0" -> LongType, "px" -> DoubleType,
        "py" -> DoubleType))
      val rows = df.collect()
      assert(rows.length == tiles.size * spec.pixPerTile)
      val byTile = rows.groupBy(_.getInt(0))
      val ids = Array.newBuilder[Long]
      tiles.foreach { ti =>
        val loss = World.tileBands(spec, ti)(0)
        byTile(ti).foreach { r =>
          val pi = r.getInt(1)
          val c = r.getLong(2)
          val at = s"tile $ti pixel $pi"
          assert(c == spec.cellId(ti, pi), at)
          assert(r.getBoolean(3) == spec.inGrid(ti, pi), at)
          assert(r.getBoolean(3) == !loss(pi).isNaN, at)
          if (r.getBoolean(3)) {
            ids += c
            assert(r.getInt(4) == ti && spec.tileOfCell(c) == ti, at)
            assert(r.getInt(5) == pi, at)
            assert(r.getLong(6) == (c - 1) / spec.cols, at)
            assert(r.getLong(7) == (c - 1) % spec.cols, at)
            assert(r.getDouble(8) == World.px(spec, c), at)
            assert(r.getDouble(9) == World.py(spec, c), at)
          }
        }
      }
      // the in-grid pixels address every cell of the tiles exactly once
      val got = ids.result().sorted
      assert(got.distinct.length == got.length)
      if (tiles.size == spec.nTiles)
        assert(got.sameElements(1L to spec.nCells))
      else
        assert(got.length == tiles.map(ti =>
          (0 until spec.pixPerTile).count(spec.inGrid(ti, _))).sum)
    }

  test("inGridAt is a literal true on a tiling without padding") {
    assert(!World.tiny.padded)
    assert(World.tiny.inGridAt(col("t"), col("p")).toString == "true")
  }
}
