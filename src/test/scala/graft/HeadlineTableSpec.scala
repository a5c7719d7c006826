package graft

import java.io.{File, FileOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}
import graft.core.Cart
import graft.engine.{Headline, Pipeline}
import graft.world.{World, WorldSpec}

/** The headline tile table's on-disk layout (`Headline.writeTiles`), its
  * rewrite when the `_KEY` beside the part files differs
  * (`Headline.ensureTable`), and the refit of its cached trees when
  * their fingerprint differs (`Headline.loadOrFit`). */
class HeadlineTableSpec extends SparkSpec {

  /** Parquet files of `dir`, by slice directory. */
  private def filesBySlice(dir: String): Map[Int, Seq[File]] =
    new File(dir).listFiles.filter(_.getName.startsWith("slice=")).map { d =>
      d.getName.stripPrefix("slice=").toInt ->
        d.listFiles.filter(_.getName.endsWith(".parquet")).toSeq
    }.toMap

  // World.tiny's 64 x 96 cells in 8 x 8 tiles: 96 tiles, 3 a file; and
  // 56 rows: 84 tiles, files of 2 and 3 that do not split evenly
  for (spec <- Seq(World.tiny.copy(tile = 8), World.tiny.copy(rows = 56, tile = 8)))
    test(s"writeTiles on ${spec.nTiles} tiles: ${Headline.Files / Headline.Slices} " +
      "whole files a slice, each one contiguous sorted tile_id range") {
      assert(spec.nTiles >= Headline.Files)
      val dir = graft.util.TempDirs.create("graft_tiles_layout").toString
      // rows dealt round-robin over 7 partitions: the layout must come
      // from writeTiles, not from tilesDF's tile_id-ordered partitions
      Headline.writeTiles(World.tilesDF(spark, spec).repartition(7),
        spec.nTiles, dir)
      val bySlice = filesBySlice(dir)
      assert(bySlice.keySet == (0 until Headline.Slices).toSet)
      val ranges = bySlice.toSeq.flatMap { case (slice, files) =>
        assert(files.size == Headline.Files / Headline.Slices, s"slice $slice")
        files.map { f =>
          val ids = spark.read.schema(World.tileSchema).parquet(f.toString)
            .select("tile_id").collect().map(_.getInt(0)).toSeq
          assert(ids.nonEmpty && ids == (ids.head to ids.last), f.getName)
          assert(ids.forall(_ * Headline.Slices / spec.nTiles == slice))
          ids
        }
      }
      // whole files: file index floor(t * Files / nTiles), one file each
      val expected = (0 until spec.nTiles)
        .groupBy(_ * Headline.Files / spec.nTiles).values.map(_.sorted).toSet
      assert(ranges.toSet == expected && ranges.size == Headline.Files)
    }

  private val tiny = World.tiny
  private def key(spec: WorldSpec = tiny, files: Int = Headline.Files,
      layout: String = Headline.Layout) = Headline.tableKey(spec, files, layout)
  private def ensure(dir: String, k: String): Unit =
    Headline.ensureTable(dir, k, World.tilesDF(spark, tiny), tiny.nTiles)
  /** (path, mtime) of each part file: a rewrite names its files anew. */
  private def parts(dir: String): Map[String, Long] =
    filesBySlice(dir).values.flatten.map(f => f.getPath -> f.lastModified).toMap

  test("ensureTable writes a table without _KEY, keeps one whose key matches") {
    val dir = graft.util.TempDirs.create("graft_keyed_table").toString
    val keyFile = Paths.get(dir, "_KEY")
    ensure(dir, key())
    assert(Files.readString(keyFile) == key())
    val written = parts(dir)
    assert(written.size == Headline.Files.min(tiny.nTiles))
    ensure(dir, key())
    assert(parts(dir) == written)
    Files.delete(keyFile)
    ensure(dir, key())
    assert(Files.readString(keyFile) == key())
    assert(parts(dir).keySet.intersect(written.keySet).isEmpty)
  }

  test("spec, Files and Layout each change the key; a changed key rewrites") {
    val others = Seq(key(spec = tiny.copy(nBands = 7)),
      key(files = Headline.Files * 2), key(layout = Headline.Layout + "2"))
    assert((key() +: others).distinct.size == 4)
    val dir = graft.util.TempDirs.create("graft_rekeyed_table").toString
    ensure(dir, key())
    for (k <- others) {
      val before = parts(dir)
      ensure(dir, k)
      assert(Files.readString(Paths.get(dir, "_KEY")) == k)
      assert(parts(dir).keySet.intersect(before.keySet).isEmpty, k)
    }
  }

  test("loadOrFit loads trees of a matching fingerprint; another Config, " +
    "table key or the old bare-Map format refits") {
    val path = graft.util.TempDirs.create("graft_trees").resolve("t.bin").toString
    def trees(v: Double): Map[(Int, Int), Cart.Tree] = Map((1, 1) -> Cart.Leaf(v, 1, 0))
    var fits = 0
    def load(fp: String, v: Double) = Headline.loadOrFit(path, fp) { fits += 1; trees(v) }
    val fp = Headline.treesFingerprint(Pipeline.Config())
    assert(load(fp, 0.25) == trees(0.25) && fits == 1) // no file yet
    assert(load(fp, 0.5) == trees(0.25) && fits == 1)
    for (other <- Seq(Pipeline.Config(pruneCp = 0.03),
        Pipeline.Config(cartParams = Cart.Params(cp = 0.02)))) {
      val n = fits
      assert(load(Headline.treesFingerprint(other), 0.5) == trees(0.5) && fits == n + 1)
    }
    assert(Headline.treesFingerprint(Pipeline.Config(), key = key()) != fp)
    // the older format: the bare Map, no fingerprint
    val out = new ObjectOutputStream(new FileOutputStream(path))
    try out.writeObject(trees(0.75)) finally out.close()
    assert(load(fp, 0.25) == trees(0.25) && fits == 4)
    assert(load(fp, 0.5) == trees(0.25) && fits == 4)
  }
}
