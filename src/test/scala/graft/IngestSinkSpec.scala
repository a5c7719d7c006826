package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.core.{Igh, Polygon}
import graft.sinks.Kml
import graft.sources.Ingest

/** Ingest (S1 typed CSV + alias map, S2 manifest discovery) and sink
  * (K4 KML + CRS reprojection) coverage. */
class IngestSinkSpec extends SparkSpec {

  private val lossSchema = StructType(Seq(
    StructField("cell_id", LongType),
    StructField("loss", DoubleType)))
  private val lossAliases = Map(
    "GoodeR.ID" -> "cell_id",
    "Loss" -> "loss",
    "Loss_10kMean_20002016" -> "loss") // the header schism, SURVEY §1.3

  test("S1: both loss-mask header generations load identically") {
    val dir = graft.util.TempDirs.create("graft_csv")
    val v1 = dir.resolve("v1.csv")
    val v2 = dir.resolve("v2.csv")
    Files.writeString(v1, "GoodeR.ID,Loss\n1,0.25\n2,0.0\n3,0.75\n")
    Files.writeString(v2,
      "GoodeR.ID,Loss_10kMean_20002016\n1,0.25\n2,0.0\n3,0.75\n")
    val a = Ingest.csv(spark, v1.toString, lossSchema, lossAliases)
      .orderBy("cell_id").collect().toSeq
    val b = Ingest.csv(spark, v2.toString, lossSchema, lossAliases)
      .orderBy("cell_id").collect().toSeq
    assert(a == b)
    assert(a.map(r => (r.getLong(0), r.getDouble(1))) ==
      Seq((1L, 0.25), (2L, 0.0), (3L, 0.75)))
  }

  test("S1: missing canonical column is an error, extras are dropped") {
    val dir = graft.util.TempDirs.create("graft_csv2")
    val f = dir.resolve("bad.csv")
    Files.writeString(f, "GoodeR.ID,Region,Junk\n1,2,x\n")
    intercept[IllegalArgumentException] {
      Ingest.csv(spark, f.toString, lossSchema, lossAliases)
    }
    val okSchema = StructType(Seq(StructField("cell_id", LongType),
      StructField("Region", IntegerType)))
    val df = Ingest.csv(spark, f.toString, okSchema, lossAliases)
    assert(df.columns.toSeq == Seq("cell_id", "Region"))
    assert(df.collect().head.getInt(1) == 2)
  }

  test("S2: manifest discovery filters, strips, sorts (R:142-166)") {
    val dir = graft.util.TempDirs.create("graft_manifest")
    Seq("Goode_Loss_10kMean.tif", "Goode_Fire_Count_10kSum.tif",
      "Tree_cover2000_10kMax.tif", "readme.txt", "Goode_Loss.tif.ovr")
      .foreach(n => Files.writeString(dir.resolve(n), ""))
    Files.createDirectory(dir.resolve("sub")) // non-recursive: ignored
    val m = Ingest.manifest(dir.toString)
    assert(m.map(_._1) ==
      Seq("Fire_Count_10kSum", "Loss_10kMean", "Tree_cover2000_10kMax"))
    assert(m.forall(p => p._2.endsWith(".tif")))
  }

  test("S6: WKT polygon layer scan reproduces the engine polygons and " +
    "their PIP assignments") {
    import graft.core.Geom
    import graft.world.World
    val spec = World.tiny
    val polys = World.polygons(spec)
    val wkt = polys.map { p =>
      val ring = (p.xs.indices :+ 0)
        .map(i => s"${p.xs(i)} ${p.ys(i)}").mkString(", ")
      s"${p.regionId},POLYGON(($ring))"
    }
    val f = graft.util.TempDirs.create("graft_wkt").resolve("regions.wkt")
    Files.writeString(f, wkt.mkString("\n") + "\n")
    val back = Ingest.wktPolygons(spark, f.toString)
    assert(back.length == polys.length)
    back.zip(polys).foreach { case (b, p) =>
      assert(b.regionId == p.regionId)
      assert(b.xs.sameElements(p.xs) && b.ys.sameElements(p.ys))
    }
    // identical region assignment across the whole grid
    (1L to spec.nCells).foreach { id =>
      val (px, py) = (World.px(spec, id), World.py(spec, id))
      assert(Geom.regionOf(back, px, py) == Geom.regionOf(polys, px, py))
    }
    // malformed shapes rejected loudly
    intercept[IllegalArgumentException](
      Ingest.parseWktLine("1,LINESTRING(0 0, 1 1)"))
    intercept[IllegalArgumentException](
      Ingest.parseWktLine("1,POLYGON((0 0, 1 0, 1 1, 0 1))")) // unclosed

    // interior rings (holes) parse to a multi-ring Polygon with
    // even-odd hole semantics
    val holed = Ingest.parseWktLine(
      "1,POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,3 1,3 3,1 3,1 1))")
    assert(holed.nRings == 2 && holed.ringStarts.toSeq == Seq(0, 4))
    assert(holed.contains(0.5, 0.5))   // between outer and hole
    assert(!holed.contains(2.0, 2.0))  // inside the hole
    assert(!holed.contains(5.0, 5.0))  // outside

    // MULTIPOLYGON parts flatten into one even-odd ring set
    val multi = Ingest.parseWktLine(
      "2,MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),((10 10,12 10,12 12,10 12,10 10)))")
    assert(multi.nRings == 2)
    assert(multi.contains(1.0, 1.0) && multi.contains(11.0, 11.0))
    assert(!multi.contains(5.0, 5.0))

    // a hole ring that is not closed still fails loudly
    intercept[IllegalArgumentException](
      Ingest.parseWktLine("1,POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,1 2))"))
  }

  test("S6: shapefile golden — a hand-assembled .shp record (built " +
    "field-by-field from the public ESRI spec, independent of " +
    "Shp.encode) parses to the expected polygon") {
    import java.nio.{ByteBuffer, ByteOrder}
    // one closed triangle (0,0)(4,0)(0,8): 4 points incl. closure
    val content = 4 + 32 + 4 + 4 + 4 + 16 * 4
    val bytes = new Array[Byte](100 + 8 + content)
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    be.putInt(0, 9994) // file code
    be.putInt(24, bytes.length / 2) // file length in 16-bit words
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    le.putInt(28, 1000) // version
    le.putInt(32, 5) // shape type: Polygon
    le.putDouble(36, 0.0); le.putDouble(44, 0.0) // bbox xmin ymin
    le.putDouble(52, 4.0); le.putDouble(60, 8.0) // bbox xmax ymax
    be.putInt(100, 7) // record number (becomes the region id)
    be.putInt(104, content / 2) // content length in words
    le.putInt(108, 5) // shape type
    le.putDouble(112, 0.0); le.putDouble(120, 0.0)
    le.putDouble(128, 4.0); le.putDouble(136, 8.0)
    le.putInt(144, 1) // NumParts
    le.putInt(148, 4) // NumPoints
    le.putInt(152, 0) // part 0 offset
    val pts = Seq((0.0, 0.0), (4.0, 0.0), (0.0, 8.0), (0.0, 0.0))
    pts.zipWithIndex.foreach { case ((x, y), i) =>
      le.putDouble(156 + i * 16, x); le.putDouble(164 + i * 16, y)
    }
    val got = graft.sources.Shp.parse(bytes)
    assert(got.length == 1)
    assert(got(0).regionId == 7)
    assert(got(0).xs.toSeq == Seq(0.0, 4.0, 0.0))
    assert(got(0).ys.toSeq == Seq(0.0, 0.0, 8.0))
    // and the engine ray-cast agrees with the triangle's geometry
    assert(got(0).contains(1.0, 1.0) && !got(0).contains(3.5, 7.0))
  }

  test("S6: shapefile encode -> distributed scan round-trips the engine " +
    "polygons; hostile records are rejected loudly") {
    import graft.world.World
    val polys = World.polygons(World.tiny)
    val dir = graft.util.TempDirs.create("graft_shp")
    Files.write(dir.resolve("regions.shp"), graft.sources.Shp.encode(polys))
    val got = Ingest.shpPolygons(spark, s"$dir/regions.shp")
    assert(got.length == polys.length)
    polys.zip(got).foreach { case (w, g) =>
      assert(g.regionId == w.regionId)
      assert(g.xs.toSeq == w.xs.toSeq && g.ys.toSeq == w.ys.toSeq)
    }
    // a NumParts hacked to 2 without matching content is refused as
    // inconsistent, not misread
    val enc = graft.sources.Shp.encode(Array(polys(0)))
    val twoParts = enc.clone()
    java.nio.ByteBuffer.wrap(twoParts)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(108 + 36, 2)
    val e = intercept[IllegalArgumentException](
      graft.sources.Shp.parse(twoParts))
    assert(e.getMessage.contains("inconsistent"))
    // truncated / non-shapefile bytes fail loudly
    intercept[IllegalArgumentException](
      graft.sources.Shp.parse("not a shapefile".getBytes))
    // an empty layer is refused at write time (undefined bbox)
    intercept[IllegalArgumentException](
      graft.sources.Shp.encode(Array.empty[Polygon]))
  }

  test("S6: multi-part shapefile records (holes + island multipolygons) " +
    "round-trip through encode/parse and keep even-odd semantics") {
    // region 1: square with a lake; region 2: two islands
    val holed = Polygon(1,
      Array[Double](0, 8, 8, 0, 2, 6, 6, 2),
      Array[Double](0, 0, 8, 8, 2, 2, 6, 6), Array(0, 4))
    val islands = Polygon(2,
      Array[Double](10, 12, 12, 10, 20, 24, 24, 20),
      Array[Double](0, 0, 2, 2, 0, 0, 4, 4), Array(0, 4))
    val back = graft.sources.Shp.parse(
      graft.sources.Shp.encode(Array(holed, islands)))
    assert(back.length == 2)
    back.zip(Seq(holed, islands)).foreach { case (g, w) =>
      assert(g.regionId == w.regionId)
      assert(g.xs.toSeq == w.xs.toSeq && g.ys.toSeq == w.ys.toSeq)
      assert(g.ringStarts.toSeq == w.ringStarts.toSeq)
    }
    // hole semantics survive the byte round-trip
    assert(back(0).contains(1.0, 1.0) && !back(0).contains(4.0, 4.0))
    assert(back(1).contains(11.0, 1.0) && back(1).contains(22.0, 2.0))
    assert(!back(1).contains(15.0, 1.0))
    // hostile part offsets (descending / out of range) are refused
    val enc = graft.sources.Shp.encode(Array(holed))
    val badParts = enc.clone()
    java.nio.ByteBuffer.wrap(badParts)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(108 + 44 + 4, 0)
    val e = intercept[IllegalArgumentException](
      graft.sources.Shp.parse(badParts))
    assert(e.getMessage.contains("ascending"))
  }

  test("S6: .dbf attribute table — hand-assembled golden (dBASE III " +
    "spec) and encode/read round trip drive region ids from the " +
    "attribute column, with deleted-record alignment") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-assembled: one N(5,0) column "RID", 3 records, middle deleted
    val headerSize = 32 + 32 + 1
    val recordSize = 1 + 5
    val bytes = new Array[Byte](headerSize + 3 * recordSize + 1)
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x03.toByte); b.position(4); b.putInt(3)
    b.putShort(headerSize.toShort); b.putShort(recordSize.toShort)
    b.position(32); b.put("RID".getBytes); b.position(32 + 11)
    b.put('N'.toByte); b.position(32 + 16); b.put(5.toByte); b.put(0.toByte)
    b.position(headerSize - 1); b.put(0x0D.toByte)
    def rec(flag: Byte, v: String): Unit = {
      b.put(flag); b.put(("     " + v).takeRight(5).getBytes)
    }
    rec(0x20, "30"); rec(0x2A, "99"); rec(0x20, "-7")
    b.put(0x1A.toByte)
    assert(graft.sources.Shp.dbfColumn(bytes, "rid").toSeq ==
      Seq(Some(30L), None, Some(-7L)))
    intercept[IllegalArgumentException](
      graft.sources.Shp.dbfColumn(bytes, "nope"))

    // encode -> attribute-joined layer read: ids come from the .dbf
    import graft.world.World
    val polys = World.polygons(World.tiny)
    val dir = graft.util.TempDirs.create("graft_shp_dbf")
    Files.write(dir.resolve("regions.shp"), graft.sources.Shp.encode(polys))
    Files.write(dir.resolve("regions.dbf"),
      graft.sources.Shp.encodeDbf("REGION_ID",
        polys.map(p => p.regionId * 10L)))
    val got = Ingest.shpPolygonsWithAttr(spark, s"$dir/regions.shp",
      "REGION_ID")
    assert(got.map(_.regionId).toSeq == polys.map(_.regionId * 10).toSeq)
    assert(got.head.xs.toSeq == polys.head.xs.toSeq)

    // loud failures instead of silent corruption:
    // .shp records carry only their record number — out-of-order ids
    // must be refused, not silently renumbered
    intercept[IllegalArgumentException](
      graft.sources.Shp.encode(polys.reverse))
    // attribute ids outside the Int region-id range must be refused,
    // not truncated
    Files.write(dir.resolve("big.shp"),
      graft.sources.Shp.encode(polys))
    Files.write(dir.resolve("big.dbf"),
      graft.sources.Shp.encodeDbf("RID",
        polys.map(_ => 4294967297L))) // fits N(18), overflows Int
    intercept[IllegalArgumentException](
      Ingest.shpPolygonsWithAttr(spark, s"$dir/big.shp", "RID"))
    // a field descriptor overdeclaring its length past the record is
    // rejected, not read past the buffer
    val dbf = graft.sources.Shp.encodeDbf("RID", Array(1L, 2L))
    val hostile = dbf.clone()
    hostile(32 + 16) = 200.toByte // field length 200 in a 19-byte record
    val e = intercept[IllegalArgumentException](
      graft.sources.Shp.dbfColumn(hostile, "RID"))
    assert(e.getMessage.contains("corrupt dbf"))
    // values that cannot fit the field are refused at write time
    intercept[IllegalArgumentException](
      graft.sources.Shp.encodeDbf("RID", Array(Long.MinValue)))
  }

  test("S6: shapefile fuzz — 40 seeded random polygons (including " +
    "multi-ring records) round-trip bit-exactly through encode/parse") {
    val rnd = new scala.util.Random(0x5AFEL)
    // star-shaped ring: sorted angles around a centre = simple
    def ring(rnd: scala.util.Random, cx: Double, cy: Double,
        rMin: Double, rMax: Double): (Array[Double], Array[Double]) = {
      val n = 3 + rnd.nextInt(12)
      val angles = Array.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val xs = angles.map(a =>
        cx + (rMin + rnd.nextDouble() * (rMax - rMin)) * math.cos(a))
      val ys = angles.map(a =>
        cy + (rMin + rnd.nextDouble() * (rMax - rMin)) * math.sin(a))
      (xs, ys)
    }
    (0 until 40).foreach { trial =>
      val layers = (1 to 1 + rnd.nextInt(5)).map { id =>
        val cx = rnd.nextDouble() * 1000 - 500
        val cy = rnd.nextDouble() * 1000 - 500
        val (xs, ys) = ring(rnd, cx, cy, 50, 100)
        if (rnd.nextBoolean()) Polygon(id, xs, ys)
        else { // multi-ring: outer + a strictly interior hole
          val (hx, hy) = ring(rnd, cx, cy, 1, 40)
          Polygon(id, xs ++ hx, ys ++ hy, Array(0, xs.length))
        }
      }.toArray
      val back = graft.sources.Shp.parse(graft.sources.Shp.encode(layers))
      assert(back.length == layers.length, s"trial $trial")
      layers.zip(back).foreach { case (w, g) =>
        assert(g.regionId == w.regionId)
        assert(g.xs.toSeq == w.xs.toSeq && g.ys.toSeq == w.ys.toSeq,
          s"trial $trial id ${w.regionId}")
        assert(g.ringStarts.toSeq == w.ringStarts.toSeq,
          s"trial $trial id ${w.regionId} ringStarts")
      }
    }
  }

  /** The loss-mask fan-out as it was before it became one pass — one
    * globally sorted single-file write per class — kept as the byte
    * reference for `Csv.writeClassMasks`. */
  private def perClassMasks(df: DataFrame, dir: String,
      classes: Seq[Int]): Unit = classes.foreach { k =>
    df.filter(col("final_class") === k).select("cell_id", "loss_mean")
      .sort("cell_id").coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/LossMask_class$k.csv")
  }

  /** Visible entries of a directory (Hadoop's `.crc` companions aside). */
  private def visible(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet

  /** The bytes of a class mask's one part file, after checking the
    * directory holds exactly that part file and a `_SUCCESS` marker. */
  private def maskBytes(dir: String, k: Int): Seq[Byte] = {
    val d = s"$dir/LossMask_class$k.csv"
    val parts = visible(d).filter(_.endsWith(".csv"))
    assert(parts.size == 1 && visible(d) == parts + "_SUCCESS",
      s"$d holds ${visible(d)}")
    Files.readAllBytes(java.nio.file.Paths.get(d, parts.head)).toSeq
  }

  test("K1: CSV sink round-trips per-class loss masks (R:524-550)") {
    import spark.implicits._
    val df = (1L to 100L).map { id =>
      (id, (id % 4).toInt, id.toDouble / 16.0)
    }.toDF("cell_id", "final_class", "loss_mean")
    val dir = graft.util.TempDirs.create("graft_csv_sink").toString
    graft.sinks.Csv.writeClassMasks(df, dir, "final_class", "loss_mean",
      classes = 0 to 3)
    (0 to 3).foreach { k =>
      val back = spark.read.option("header", "true")
        .schema("cell_id LONG, loss_mean DOUBLE")
        .csv(s"$dir/LossMask_class$k.csv")
        .orderBy("cell_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = (1L to 100L).filter(_ % 4 == k)
        .map(id => (id, id.toDouble / 16.0))
      assert(back == want, s"class $k")
      // exactly one part file (the reference's one-CSV-per-report shape)
      maskBytes(dir, k)
    }
  }

  test("K1: the one-pass class fan-out writes the per-class writes' bytes, " +
    "line order included, with AQE on and off") {
    import spark.implicits._
    // rows in scrambled order over several partitions; classes 2, 4 and 5
    // have no rows, class 7 is not asked for
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((1L to 600L).map { id =>
      val k = Seq(0, 1, 3, 7)((id % 4).toInt)
      (id, k.toLong, if (id % 9 == 0) 0.0 else rnd.nextDouble() * id)
    })
    val df = rows.toDF("cell_id", "final_class", "loss_mean").repartition(5)
    val classes = 0 to 5
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (on <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", on)
      val dir = graft.util.TempDirs.create("graft_csv_fan").toString
      val got = s"$dir/got"
      for ((frame, pass) <- Seq(df, df.filter($"cell_id" % 3 === 0))
          .zipWithIndex) {
        // the second pass overwrites `got` with fewer rows per class
        val want = s"$dir/want$pass"
        perClassMasks(frame, want, classes)
        graft.sinks.Csv.writeClassMasks(frame, got, "final_class",
          "loss_mean", classes)
        assert(visible(got) == classes.map(k => s"LossMask_class$k.csv")
          .toSet, s"aqe=$on pass $pass: no temp dir, no class 7")
        classes.foreach { k =>
          assert(maskBytes(got, k) == maskBytes(want, k),
            s"aqe=$on pass $pass class $k")
        }
        val lines = new String(maskBytes(got, 0).toArray, "UTF-8")
          .split("\n").toSeq
        val ids = lines.tail.map(_.split(",")(0).toLong)
        assert(lines.head == "cell_id,loss_mean" && ids.nonEmpty)
        assert(ids == ids.sorted && ids.toSet == frame
          .filter($"final_class" === 0).select("cell_id").as[Long]
          .collect().toSet, "class 0 holds its rows in cell_id order")
      }
      assert(new String(maskBytes(got, 2).toArray, "UTF-8") ==
        "cell_id,loss_mean\n", "an empty class is a header-only file")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("K4: KML export reprojects through the Goode inverse and closes rings") {
    // a polygon given directly in igh meters (identity transform)
    val p = Polygon(1,
      Array(0.0, 2000000.0, 2000000.0, 0.0),
      Array(0.0, 0.0, 2000000.0, 2000000.0))
    val kml = Kml.render(Seq(p))
    assert(kml.contains("<kml") && kml.contains("region_1"))
    val coords = kml.linesIterator
      .dropWhile(!_.contains("<coordinates>")).drop(1).next()
      .trim.split(" ").map(_.split(",").take(2).map(_.toDouble))
    assert(coords.length == 5) // closed ring: first vertex repeated
    assert(coords.head.sameElements(coords.last))
    // first vertex (0,0) meters = (0,0) lon/lat on the equator
    assert(math.abs(coords.head(0)) < 1e-6 && math.abs(coords.head(1)) < 1e-6)
    // every vertex agrees with a direct inverse projection
    val expected = (p.xs.indices :+ 0).map(i => Igh.inverse(p.xs(i), p.ys(i)))
    coords.zip(expected).foreach { case (got, (lon, lat)) =>
      assert(math.abs(got(0) - lon) < 1e-6 && math.abs(got(1) - lat) < 1e-6)
    }
  }

  test("K4: KML export writes hole rings as innerBoundaryIs (ring 0 " +
    "outer, later rings inner), each closed") {
    val holed = Polygon(1,
      Array(0.0, 2000000.0, 2000000.0, 0.0,
        500000.0, 1500000.0, 1500000.0, 500000.0),
      Array(0.0, 0.0, 2000000.0, 2000000.0,
        500000.0, 500000.0, 1500000.0, 1500000.0),
      Array(0, 4))
    val kml = Kml.render(Seq(holed))
    assert(kml.contains("<outerBoundaryIs>") &&
      kml.contains("<innerBoundaryIs>"))
    // exactly one inner ring, and it appears after the outer
    assert(kml.sliding("<innerBoundaryIs>".length)
      .count(_ == "<innerBoundaryIs>") == 1)
    assert(kml.indexOf("<outerBoundaryIs>") < kml.indexOf("<innerBoundaryIs>"))
    // both rings are closed (first coordinate repeated last)
    val ringBodies = "<coordinates>\\s*([^<]*?)\\s*</coordinates>".r
      .findAllMatchIn(kml).map(_.group(1).trim).toSeq
    assert(ringBodies.length == 2)
    ringBodies.foreach { body =>
      val pts = body.split("\\s+")
      assert(pts.length == 5 && pts.head == pts.last)
    }

    // island MULTIPOLYGON parts must become separate <Polygon>s in a
    // <MultiGeometry>, NOT holes of the first island
    val islands = Polygon(2,
      Array(0.0, 1000000.0, 1000000.0, 0.0,
        3000000.0, 4000000.0, 4000000.0, 3000000.0),
      Array(0.0, 0.0, 1000000.0, 1000000.0,
        0.0, 0.0, 1000000.0, 1000000.0),
      Array(0, 4))
    val kml2 = Kml.render(Seq(islands))
    assert(kml2.contains("<MultiGeometry>"))
    assert(kml2.sliding("<Polygon>".length).count(_ == "<Polygon>") == 2)
    assert(!kml2.contains("<innerBoundaryIs>"))

    // island-in-hole (depth 2) is a filled outer of its own polygon:
    // outer square + hole + island inside the hole
    val nested = Polygon(3,
      Array(0.0, 4e6, 4e6, 0.0, 5e5, 3.5e6, 3.5e6, 5e5,
        1.5e6, 2.5e6, 2.5e6, 1.5e6),
      Array(0.0, 0.0, 4e6, 4e6, 5e5, 5e5, 3.5e6, 3.5e6,
        1.5e6, 1.5e6, 2.5e6, 2.5e6),
      Array(0, 4, 8))
    val kml3 = Kml.render(Seq(nested))
    assert(kml3.contains("<MultiGeometry>"))
    assert(kml3.sliding("<Polygon>".length).count(_ == "<Polygon>") == 2)
    assert(kml3.sliding("<innerBoundaryIs>".length)
      .count(_ == "<innerBoundaryIs>") == 1)
  }

  test("S6: WKB encode -> decode round-trips a holed + multi-ring layer " +
    "exactly (ids, coords, ringStarts)") {
    import graft.sources.Wkb
    val layer = Array(
      graft.core.Polygon(2,
        Array[Double](5, 40, 40, 5, 15, 25, 25, 15),
        Array[Double](5, 5, 40, 40, 15, 15, 25, 25), Array(0, 4)),
      graft.core.Polygon(7, Array[Double](50, 60, 55),
        Array[Double](10, 10, 20)))
    val back = Wkb.decode(Wkb.encode(layer))
    assert(back.length == 2)
    layer.zip(back).foreach { case (a, b) =>
      assert(a.regionId == b.regionId)
      assert(a.xs.toSeq == b.xs.toSeq && a.ys.toSeq == b.ys.toSeq)
      assert(a.ringStarts.toSeq == b.ringStarts.toSeq)
    }
  }

  test("S6: WKB hand-built bytes — BIG-endian order byte and a " +
    "MULTIPOLYGON with mixed-endian children flatten correctly; " +
    "loud failures on bad type / unclosed ring") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.Wkb
    def poly(order: ByteOrder, pts: Seq[(Double, Double)]): Array[Byte] = {
      val bb = ByteBuffer.allocate(1 + 4 + 4 + 4 + 16 * (pts.size + 1))
        .order(order)
      bb.put(if (order == ByteOrder.LITTLE_ENDIAN) 1.toByte else 0.toByte)
      bb.putInt(3); bb.putInt(1); bb.putInt(pts.size + 1)
      pts.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
      bb.putDouble(pts.head._1); bb.putDouble(pts.head._2)
      bb.array()
    }
    val tri = Seq((0.0, 0.0), (10.0, 0.0), (5.0, 8.0))
    val sq = Seq((20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0))
    // record: rid 9 (LE) + big-endian MULTIPOLYGON of 2 mixed children
    val kids = poly(ByteOrder.BIG_ENDIAN, tri) ++
      poly(ByteOrder.LITTLE_ENDIAN, sq)
    val head = ByteBuffer.allocate(4 + 1 + 4 + 4)
    head.order(ByteOrder.LITTLE_ENDIAN).putInt(9)
    head.order(ByteOrder.BIG_ENDIAN).put(0.toByte).putInt(6).putInt(2)
    val rec = head.array() ++ kids
    val out = Wkb.decode(rec)
    assert(out.length == 1 && out(0).regionId == 9)
    assert(out(0).ringStarts.toSeq == Seq(0, 3))
    assert(out(0).xs.toSeq == Seq(0.0, 10.0, 5.0, 20.0, 30.0, 30.0, 20.0))
    assert(out(0).ys.toSeq == Seq(0.0, 0.0, 8.0, 20.0, 20.0, 30.0, 30.0))
    // loud failures
    val badType = rec.clone(); badType(8) = 2 // LINESTRING in BE type slot
    intercept[IllegalArgumentException](Wkb.decode(badType))
    val unclosed = Wkb.encode(Array(out(0)))
    // corrupt the last double of ring 0's closing vertex
    unclosed(unclosed.length - 1) = (unclosed.last ^ 0x7f).toByte
    intercept[IllegalArgumentException](Wkb.decode(unclosed))
  }

  test("S6: GeoJSON encode -> decode round-trips a holed + multi-ring " +
    "layer exactly (ids, coords, ringStarts)") {
    import graft.sources.GeoJson
    val layer = Array(
      graft.core.Polygon(2,
        Array[Double](5, 40, 40, 5, 15, 25, 25, 15),
        Array[Double](5, 5, 40, 40, 15, 15, 25, 25), Array(0, 4)),
      graft.core.Polygon(7, Array[Double](50, 60, 55),
        Array[Double](10, 10, 20)))
    val back = GeoJson.decode(GeoJson.encode(layer))
    assert(back.length == 2)
    layer.zip(back).foreach { case (a, b) =>
      assert(a.regionId == b.regionId)
      assert(a.xs.toSeq == b.xs.toSeq && a.ys.toSeq == b.ys.toSeq)
      assert(a.ringStarts.toSeq == b.ringStarts.toSeq)
    }
  }

  test("S6: GeoJSON hand-written document — MultiPolygon flattening, " +
    "whitespace, negative + exponent numbers, property escapes") {
    val doc =
      """{ "type" : "FeatureCollection",
        |  "features": [
        |    { "type": "Feature",
        |      "properties": { "name": "a\"b", "region_id": 4 },
        |      "geometry": { "type": "MultiPolygon", "coordinates": [
        |        [ [ [ -1.0, 0.0 ], [ 3e0, 0 ], [ 3, 4.5 ], [ -1.0, 0.0 ] ] ],
        |        [ [ [ 10, 10 ], [ 20, 10 ], [ 20, 20 ], [ 10, 20 ],
        |            [ 10, 10 ] ] ]
        |      ] } } ] }""".stripMargin
    val got = graft.sources.GeoJson.decode(doc)
    assert(got.length == 1 && got(0).regionId == 4)
    assert(got(0).nRings == 2)
    assert(got(0).xs.toSeq == Seq(-1.0, 3.0, 3.0, 10.0, 20.0, 20.0, 10.0))
    assert(got(0).ys.toSeq == Seq(0.0, 0.0, 4.5, 10.0, 10.0, 20.0, 20.0))
    assert(got(0).ringStarts.toSeq == Seq(0, 3))
  }

  test("S6: GeoJSON loud failures — unclosed ring, unsupported geometry, " +
    "empty layer encode") {
    import graft.sources.GeoJson
    val unclosed =
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"properties":{"region_id":1},"geometry":{"type":"Polygon",
        |"coordinates":[[[0,0],[1,0],[1,1],[0,1]]]}}]}""".stripMargin
    val e1 = intercept[IllegalArgumentException](GeoJson.decode(unclosed))
    assert(e1.getMessage.contains("not closed"))
    val point =
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"properties":{"region_id":1},"geometry":{"type":"Point",
        |"coordinates":[0,0]}}]}""".stripMargin
    val e2 = intercept[IllegalArgumentException](GeoJson.decode(point))
    assert(e2.getMessage.contains("unsupported geometry"))
    val e3 = intercept[IllegalArgumentException](GeoJson.encode(Array.empty))
    assert(e3.getMessage.contains("empty layer"))
  }
}
