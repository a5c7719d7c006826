package graft.sinks

import graft.core.{Igh, Polygon}

/** KML polygon export with CRS reprojection (SURVEY.md §2.2 K4): the
  * reference's commented tail reprojects the region shapefile from
  * `+proj=igh` to lon/lat and writes KML (`Supplemental_Data_1.R:884-912`,
  * `spTransform` + `writeOGR(driver="KML")`). Here the transform is the
  * engine's own Goode inverse (pure math, the same code `grid_h3`
  * calls) and the sink is a direct serializer — no GDAL.
  */
object Kml {

  /** Serialize polygons to KML. `toXY` maps polygon coordinates into
    * igh meters (identity if they already are); vertices then reproject
    * through the interrupted-Goode inverse to lon/lat. */
  def render(polys: Seq[Polygon],
      toXY: (Double, Double) => (Double, Double) = (x, y) => (x, y)): String = {
    val placemarks = polys.map { p =>
      def ringCoords(r: Int): String = {
        val (s, e) = p.ringRange(r)
        ((s until e) :+ s).map { i => // closed ring
          val (mx, my) = toXY(p.xs(i), p.ys(i))
          val (lon, lat) = Igh.inverse(mx, my)
          f"$lon%.8f,$lat%.8f,0"
        }.mkString(" ")
      }
      // The engine's even-odd fill carries no ring roles, but KML
      // requires them: an innerBoundaryIs is a HOLE, so emitting every
      // ring after the first as inner would render island parts of a
      // multipolygon as holes of the first island (i.e. they vanish).
      // Classify by containment NESTING DEPTH — a ring's depth is the
      // number of other rings containing its first vertex; even depth
      // = an outer boundary (filled), odd depth = a hole of the
      // innermost containing outer (depth - 1). This is exactly the
      // even-odd rule expressed as ring roles. Representative-vertex
      // containment assumes rings do not share vertices/edges (true of
      // valid simple-features geometries).
      val rp = (0 until p.nRings).map { r =>
        val (s, e) = p.ringRange(r)
        Polygon(1, p.xs.slice(s, e), p.ys.slice(s, e))
      }
      def containsRing(a: Int, b: Int): Boolean = {
        val v0 = p.ringRange(b)._1
        rp(a).contains(p.xs(v0), p.ys(v0))
      }
      val depth = (0 until p.nRings).map(b =>
        (0 until p.nRings).count(a => a != b && containsRing(a, b)))
      val outers = (0 until p.nRings).filter(depth(_) % 2 == 0)
      def boundary(kind: String, r: Int): String =
        s"""<${kind}BoundaryIs><LinearRing><coordinates>
           |        ${ringCoords(r)}
           |      </coordinates></LinearRing></${kind}BoundaryIs>""".stripMargin
      val polyXmls = outers.map { o =>
        val holes = (0 until p.nRings).filter(h =>
          depth(h) == depth(o) + 1 && containsRing(o, h))
        s"<Polygon>${(boundary("outer", o) +:
          holes.map(boundary("inner", _))).mkString}</Polygon>"
      }
      val geom =
        if (polyXmls.length == 1) polyXmls.head
        else s"<MultiGeometry>${polyXmls.mkString}</MultiGeometry>"
      s"""    <Placemark>
         |      <name>region_${p.regionId}</name>
         |      $geom
         |    </Placemark>""".stripMargin
    }.mkString("\n")
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<kml xmlns="http://www.opengis.net/kml/2.2">
       |  <Document>
       |$placemarks
       |  </Document>
       |</kml>
       |""".stripMargin
  }

  def write(path: String, polys: Seq[Polygon],
      toXY: (Double, Double) => (Double, Double) = (x, y) => (x, y)): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      render(polys, toXY))
}
