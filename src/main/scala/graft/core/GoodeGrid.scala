package graft.core

/** The reference's global analysis grid and the interrupted Goode
  * homolosine projection it lives in.
  *
  * Grid facts (reference `Supplemental_Data_1.R:54,63-70,117`): 1737 rows
  * x 4008 cols at exactly 10,000 m/cell, extent
  * x in [-20037506.5671, 20042493.4328], y in [-8683205.0209, 8686794.9791],
  * CRS `+proj=igh +datum=WGS84 +units=m`. Cells are addressed by a 1-based
  * row-major linear id: id = (row-1)*cols + col (derived from the reshape
  * in `rastOut`, R:53-72).
  *
  * All functions here are pure and total over their documented domain so
  * they can back codegen-friendly Catalyst expressions.
  */
final case class GridSpec(
    rows: Int, cols: Int, cellSize: Double, xMin: Double, yMax: Double) {

  val nCells: Long = rows.toLong * cols

  /** 1-based row of a 1-based row-major cell id. */
  @inline def row(id: Long): Int = (((id - 1) / cols) + 1).toInt
  /** 1-based col of a 1-based row-major cell id. */
  @inline def col(id: Long): Int = (((id - 1) % cols) + 1).toInt
  @inline def id(row: Int, col: Int): Long =
    (row - 1).toLong * cols + col

  /** Projected x of the cell centroid (grid x grows east). */
  @inline def centroidX(id: Long): Double = xMin + (col(id) - 0.5) * cellSize
  /** Projected y of the cell centroid (grid row grows south from yMax). */
  @inline def centroidY(id: Long): Double = yMax - (row(id) - 0.5) * cellSize

  /** Inverse of centroid mapping: projected (x, y) -> cell id, or -1 if
    * outside the grid. */
  def idAt(x: Double, y: Double): Long = {
    val c = math.floor((x - xMin) / cellSize).toInt + 1
    val r = math.floor((yMax - y) / cellSize).toInt + 1
    if (r < 1 || r > rows || c < 1 || c > cols) -1L else id(r, c)
  }
}

object GoodeGrid {
  /** The reference grid, constants verbatim from R:63-70. */
  val reference: GridSpec =
    GridSpec(1737, 4008, 10000.0, -20037506.5671, 8686794.9791)
}

/** Interrupted Goode homolosine projection (spherical, R = WGS84
  * semi-major axis, matching PROJ's `+proj=igh +datum=WGS84`): Mollweide
  * above |lat| = 40d44'11.8", sinusoidal below, 12 lobes with per-lobe
  * central meridians. Public construction: Goode 1925; zone layout as in
  * PROJ's igh implementation (documented at proj.org/operations/
  * projections/igh.html).
  */
object Igh {
  val R: Double = 6378137.0
  private val DEG = math.Pi / 180.0
  /** The Mollweide/sinusoidal blend latitude 40d44'11.8" in radians. */
  val PhiBoundary: Double = (40.0 + 44.0 / 60.0 + 11.8 / 3600.0) * DEG
  /** y (unit sphere) where the lobes meet: sinusoidal y at the boundary. */
  private val yBoundary = PhiBoundary

  // Per-lobe central meridians (radians). North lobes: lon splits at -40;
  // south lobes: splits at -100, -20, 80.
  private val cmNW = -100 * DEG
  private val cmNE = 30 * DEG
  private val cmS1 = -160 * DEG
  private val cmS2 = -60 * DEG
  private val cmS3 = 20 * DEG
  private val cmS4 = 140 * DEG

  /** Mollweide theta for latitude phi: solve 2t + sin 2t = pi sin phi. */
  private def mollTheta(phi: Double): Double = {
    val target = math.Pi * math.sin(phi)
    var t = phi
    var i = 0
    while (i < 20) {
      val f = 2 * t + math.sin(2 * t) - target
      val fp = 2 + 2 * math.cos(2 * t)
      if (math.abs(fp) < 1e-15) return t
      val next = t - f / fp
      if (math.abs(next - t) < 1e-14) return next
      t = next
      i += 1
    }
    t
  }

  /** Mollweide y correction so moll lobes meet sinu lobes at the blend
    * latitude: sinu y(phi0) - moll y(phi0), unit sphere. */
  private val mollYAdd: Double = {
    val t0 = mollTheta(PhiBoundary)
    yBoundary - math.sqrt(2.0) * math.sin(t0)
  }

  /** Forward: (lonDeg, latDeg) -> projected meters (x, y). */
  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val lon = lonDeg * DEG
    val lat = latDeg * DEG
    val cm = lobeMeridian(lat >= 0, lon)
    val dl = lon - cm
    if (math.abs(lat) <= PhiBoundary) {
      // sinusoidal
      val x = dl * math.cos(lat) + cm
      (R * x, R * lat)
    } else {
      // Mollweide, shifted so lobes meet at the blend latitude
      val t = mollTheta(lat)
      val x = (2.0 * math.sqrt(2.0) / math.Pi) * dl * math.cos(t) + cm
      val y = math.sqrt(2.0) * math.sin(t) + math.signum(lat) * mollYAdd
      (R * x, R * y)
    }
  }

  /** Per-y inverse data for fixed-row grids: everything the inverse
    * derives from y alone (latitude, hemisphere, zone kind, and the
    * exact lon divisor), so a row-major grid can compute it once per
    * ROW instead of once per cell. `lonDegAt` applies the IDENTICAL
    * double-operation sequence as `inverse`, so results are bit-equal
    * (CoreSpec checks every cell of the headline grid through
    * H3Lite's tables). */
  final case class RowInv(latDeg: Double, north: Boolean, sinu: Boolean,
      c: Double, mollD: Double)

  def rowInv(y: Double): RowInv = {
    val ys = y / R
    val north = ys >= 0
    if (math.abs(ys) <= yBoundary) {
      val lat = ys
      RowInv(lat / DEG, north, sinu = true, c = math.cos(lat), mollD = 0.0)
    } else {
      val yAdj = ys - math.signum(ys) * mollYAdd
      val sinT = math.max(-1.0, math.min(1.0, yAdj / math.sqrt(2.0)))
      val t = math.asin(sinT)
      val lat = math.asin(math.max(-1.0,
        math.min(1.0, (2 * t + math.sin(2 * t)) / math.Pi)))
      val c = math.cos(t)
      RowInv(lat / DEG, north, sinu = false, c = c,
        mollD = 2.0 * math.sqrt(2.0) * c)
    }
  }

  /** Central meridian (radians) of the lobe that holds unit-sphere x
    * (or longitude in radians) `xs` in the north or south hemisphere:
    * the lobe choice of `inverse` and `forward`. */
  def lobeMeridian(north: Boolean, xs: Double): Double =
    if (north) { if (xs < -40 * DEG) cmNW else cmNE }
    else {
      if (xs < -100 * DEG) cmS1
      else if (xs < -20 * DEG) cmS2
      else if (xs < 80 * DEG) cmS3
      else cmS4
    }

  /** Longitude (degrees) at unit-sphere x `xs` = x / R in the lobe of
    * meridian `cm` = lobeMeridian(ri.north, xs) on the row described by
    * `ri`: bit-identical to `inverse(x, y)._1`. H3Lite's tables hold
    * `xs` and both meridians per grid column. */
  @inline def lonDegAt(ri: RowInv, xs: Double, cm: Double): Double = {
    val lon =
      if (ri.sinu) {
        if (math.abs(ri.c) < 1e-12) cm else cm + (xs - cm) / ri.c
      } else {
        if (math.abs(ri.c) < 1e-12) cm
        else cm + (xs - cm) * math.Pi / ri.mollD
      }
    lon / DEG
  }

  /** Inverse: projected meters (x, y) -> (lonDeg, latDeg). Total over the
    * projected extent; points in lobe gaps map to the nearest lobe edge
    * semantics of the underlying base projection. */
  def inverse(x: Double, y: Double): (Double, Double) = {
    val xs = x / R
    val ys = y / R
    val cm = lobeMeridian(ys >= 0, xs)
    if (math.abs(ys) <= yBoundary) {
      // sinusoidal: lat = y; lon = cm + (x - cm)/cos(lat)
      val lat = ys
      val c = math.cos(lat)
      val lon = if (math.abs(c) < 1e-12) cm else cm + (xs - cm) / c
      (lon / DEG, lat / DEG)
    } else {
      val yAdj = ys - math.signum(ys) * mollYAdd
      val sinT = math.max(-1.0, math.min(1.0, yAdj / math.sqrt(2.0)))
      val t = math.asin(sinT)
      val lat = math.asin(math.max(-1.0,
        math.min(1.0, (2 * t + math.sin(2 * t)) / math.Pi)))
      val c = math.cos(t)
      val lon =
        if (math.abs(c) < 1e-12) cm
        else cm + (xs - cm) * math.Pi / (2.0 * math.sqrt(2.0) * c)
      (lon / DEG, lat / DEG)
    }
  }
}
