package graft

import java.io.File
import java.nio.file.Files
import graft.engine.Headline
import graft.world.World

/** The headline tile table's on-disk layout (`Headline.writeTiles`) and
  * the removal of tables an earlier spec, file count or layout left
  * beside it (`Headline.deleteStaleTables`). */
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

  test("deleteStaleTables deletes only complete, sliced, stale engine " +
    "tables and their trees") {
    val dir = graft.util.TempDirs.create("graft_stale_tables")
    def table(name: String, success: Boolean = true,
        sliced: Boolean = true, trees: Boolean = true): Unit = {
      val t = dir.resolve(name)
      Files.createDirectories(t)
      if (sliced) Files.write(Files.createDirectories(t.resolve("slice=0"))
        .resolve("part-0.parquet"), Array[Byte](1))
      if (success) Files.write(t.resolve("_SUCCESS"), Array.emptyByteArray)
      if (trees) Files.write(dir.resolve(s"$name.trees.bin"), Array[Byte](1))
    }
    val current = "graft_bench_tiles_10x20x3_f32_loss"
    table(current)
    table("graft_bench_tiles_10x20x3_f256_loss")           // older file count
    table("graft_bench_tiles_10x20x3_f256", trees = false) // older layout
    table("graft_bench_tiles_9x20x3_f32_loss")             // older spec
    table("graft_bench_tiles_10x20x3_f64_loss", success = false) // writing
    table("graft_bench_tiles_10x20x3_f256_loss_model32", sliced = false)
    table("graft_bench_tiles_10x20x3_f256_model32", sliced = false)
    table("graft_bench_tiles_10x20x3_f256_loss_copy")
    table("other_tiles_f256")
    Files.write(dir.resolve("graft_bench_tiles_1x1x1_f8"), Array[Byte](1))

    val deleted = Headline.deleteStaleTables(dir.resolve(current).toString)
    val gone = Set("graft_bench_tiles_10x20x3_f256_loss",
      "graft_bench_tiles_10x20x3_f256", "graft_bench_tiles_9x20x3_f32_loss")
    assert(deleted.toSet == gone && deleted.size == gone.size)
    val left = dir.toFile.list.toSet
    assert(gone.forall(n => !left(n) && !left(s"$n.trees.bin")), left)
    assert(left == Set(current, s"$current.trees.bin",
      "graft_bench_tiles_10x20x3_f64_loss",
      "graft_bench_tiles_10x20x3_f64_loss.trees.bin",
      "graft_bench_tiles_10x20x3_f256_loss_model32",
      "graft_bench_tiles_10x20x3_f256_loss_model32.trees.bin",
      "graft_bench_tiles_10x20x3_f256_model32",
      "graft_bench_tiles_10x20x3_f256_model32.trees.bin",
      "graft_bench_tiles_10x20x3_f256_loss_copy",
      "graft_bench_tiles_10x20x3_f256_loss_copy.trees.bin",
      "other_tiles_f256", "other_tiles_f256.trees.bin",
      "graft_bench_tiles_1x1x1_f8"))
    assert(new File(dir.toFile, s"$current/slice=0/part-0.parquet").isFile)
    // a second call finds nothing; a missing directory is no error
    assert(Headline.deleteStaleTables(dir.resolve(current).toString).isEmpty)
    assert(Headline.deleteStaleTables(
      dir.resolve("absent").resolve(current).toString).isEmpty)
  }

  test("deleteStaleTables in several threads at once: no error, table gone") {
    val dir = graft.util.TempDirs.create("graft_stale_race")
    val stale = dir.resolve("graft_bench_tiles_10x20x3_f256_loss")
    for (sl <- 0 until 4; i <- 0 until 50)
      Files.write(Files.createDirectories(stale.resolve(s"slice=$sl"))
        .resolve(s"part-$i.parquet"), Array[Byte](1))
    Files.write(stale.resolve("_SUCCESS"), Array.emptyByteArray)
    val current = dir.resolve("graft_bench_tiles_10x20x3_f32_loss").toString
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { _ =>
      val t = new Thread(() =>
        try { start.await(); Headline.deleteStaleTables(current) }
        catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(!Files.exists(stale))
  }
}
