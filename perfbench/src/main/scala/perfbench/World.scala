package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.engine.Headline

/** Where the benchmark's inputs live and how sessions are built.
  *
  * The engine keeps its materialized tile table at a fixed scratch path
  * (`Headline.tilesPath`, with the fitted trees beside it). The harness
  * reads and writes only inside its own work directory, so before any
  * engine call it points those two constants there. Every engine entry
  * point that reads the table (`Headline.ensureTiles`, `loadOrFitTrees`,
  * `plan`, `cellClasses`, `cellLoss`) then runs unchanged. The redirected
  * paths keep the engine's own file name, which is keyed on the grid
  * spec and the file count.
  */
object World {
  /** Tiles of the model workload's world: the first `ModelTiles` tiles
    * of the true grid's first tile row (64 x 64 cells each). One model
    * run then takes seconds, not the ~1 minute the full grid takes on 4
    * cores. */
  val ModelTiles = 32
  require(ModelTiles <= Headline.spec.tilesX, "model world is one tile row")

  /** File name of the engine's tile table, read before any redirect. */
  val engineTiles: String =
    Paths.get(Headline.tilesPath).getFileName.toString

  def worldDir(work: String): String = s"$work/world"
  def tilesDir(work: String): String = s"${worldDir(work)}/$engineTiles"
  def modelTilesDir(work: String): String =
    s"${worldDir(work)}/${engineTiles}_model$ModelTiles"
  def treesFile(work: String): String =
    s"${worldDir(work)}/$engineTiles.trees.bin"
  def prepareFile(work: String): String = s"${worldDir(work)}/prepare.json"
  def sfDir(work: String): String =
    Paths.get(work).getParent.resolve("data/sf0.001").toString

  def modelCells: Long = Headline.spec.tile.toLong *
    math.min(ModelTiles * Headline.spec.tile, Headline.spec.cols)

  /** Point the engine's tile table (and its trees) at `tiles`. */
  def redirect(tiles: String, trees: String): Unit = {
    setStatic("tilesPath", tiles)
    setStatic("treesPath", trees)
    require(Headline.tilesPath == tiles, "tile path redirect failed")
  }

  /** Scala compiles object vals to static finals, which reflection
    * cannot write; Unsafe can. The write lands before any code reads
    * the value (the object is initialized by the lookup above). */
  private def setStatic(suffix: String, value: String): Unit = {
    val cls = Headline.getClass
    val f = cls.getDeclaredFields.find(_.getName.endsWith(suffix))
      .getOrElse(sys.error(s"graft.engine.Headline has no $suffix field"))
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), value)
  }

  /** Session settings per workload, each copied from the entry point it
    * stands for. */
  def session(kind: String, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    kind match {
      case "headline" => // graft.Bench scale workers
        b.config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.adaptive.enabled", "false")
          .config("spark.sql.parquet.columnarReaderBatchSize", "32")
          .config("spark.sql.columnVector.offheap.enabled", "true")
          .config("spark.sql.files.maxPartitionBytes",
            (16 * 1024 * 1024).toString)
          .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      case "model" => // graft.RunModel
        b.config("spark.sql.shuffle.partitions", "32")
          .config("spark.sql.parquet.columnarReaderBatchSize", "32")
          .config("spark.sql.columnVector.offheap.enabled", "true")
      case "sweep" => // graft.Bench query sweep
        b.config("spark.sql.shuffle.partitions", cores.toString)
    }
    b.getOrCreate()
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One-time input preparation, run in its own JVM before any measured
  * run: materializes the full tile table with the engine's own
  * `Headline.ensureTiles`, fits the trees, and cuts the model world out
  * of the table. Writes the timings and the source stamp the world was
  * made from to `world/prepare.json`; a different stamp prepares again.
  * `perfbench.Prepare --work <dir> --cores <n> --stamp <digest>` */
object Prepare {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val work = a("work")
    // start from nothing: an earlier world was made by other sources or
    // did not finish, and the timing must cover the whole materialization
    deleteTree(Paths.get(World.worldDir(work)))
    val s = World.session("model", a.int("cores"), work)
    World.redirect(World.tilesDir(work), World.treesFile(work))
    val t0 = System.nanoTime()
    Headline.ensureTiles(s)
    val tilesS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    Headline.loadOrFitTrees(s)
    val treesS = (System.nanoTime() - t1) / 1e9
    s.read.parquet(World.tilesDir(work))
      .filter(col("tile_id") < World.ModelTiles).drop("slice")
      .repartitionByRange(9, col("tile_id"))
      .sortWithinPartitions("tile_id")
      .write.mode("overwrite").parquet(World.modelTilesDir(work))
    World.stop(s)
    Files.writeString(Paths.get(World.prepareFile(work)),
      Json.obj(Seq("source" -> a("stamp"), "tiles_materialize_s" -> tilesS,
        "trees_fit_s" -> treesS)))
    println(f"prepare: tiles $tilesS%.1f s, trees $treesS%.1f s")
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
}

/** `--key value` argument pairs. */
final case class Args(args: Array[String]) {
  private val m = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String =
    m.getOrElse(k, sys.error(s"missing argument --$k"))
  def int(k: String): Int = apply(k).toInt
}
