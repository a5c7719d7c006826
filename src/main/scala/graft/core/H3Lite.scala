package graft.core

/** H3-compatible hierarchical cell index over an equirectangular
  * quadtree ("H3-lite").
  *
  * No H3/S2 jars exist in the zero-egress sandbox, so the engine ships
  * its own 64-bit hierarchical id with the same API shape as H3
  * (encode(lat,lng,res), parent, kRing): at resolution r the globe is an
  * equirectangular grid of 2^r latitude bands x 2^(r+1) longitude bands;
  * each finer resolution splits a cell in 4. Ids are bit-packed so parent
  * derivation is pure shifts — codegen friendly (SURVEY.md §2.8 G1).
  *
  * Id layout (64 bits): [unused:12][res:4][row:24][col:24], 1-bit set at
  * bit 62 as a validity marker so id 0 is never a valid cell.
  */
object H3Lite {
  val MaxRes = 15

  @inline private def rowsAt(res: Int): Int = 1 << res
  @inline private def colsAt(res: Int): Int = 1 << (res + 1)

  @inline def pack(res: Int, row: Int, col: Int): Long =
    (1L << 62) | (res.toLong << 48) | (row.toLong << 24) | col.toLong

  @inline def res(id: Long): Int = ((id >> 48) & 0xF).toInt
  @inline def row(id: Long): Int = ((id >> 24) & 0xFFFFFF).toInt
  @inline def col(id: Long): Int = (id & 0xFFFFFF).toInt
  @inline def isValid(id: Long): Boolean = (id >> 62) == 1L

  /** lat in [-90, 90], lng in [-180, 180) -> cell id at `res`. */
  def encode(lat: Double, lng: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res $res out of [0,$MaxRes]")
    val nr = rowsAt(res)
    val nc = colsAt(res)
    val r0 = math.floor((lat + 90.0) / 180.0 * nr).toInt
    val c0 = math.floor((lng + 180.0) / 360.0 * nc).toInt
    val r = math.min(math.max(r0, 0), nr - 1)
    // wrap longitude
    val c = ((c0 % nc) + nc) % nc
    pack(res, r, c)
  }

  /** Parent of `id` at coarser resolution `toRes`. */
  def parent(id: Long, toRes: Int): Long = {
    val r = res(id)
    require(toRes <= r, s"parent res $toRes finer than id res $r")
    val shift = r - toRes
    pack(toRes, row(id) >> shift, col(id) >> shift)
  }

  /** Centroid (lat, lng) of a cell. */
  def centroid(id: Long): (Double, Double) = {
    val r = res(id)
    val lat = (row(id) + 0.5) / rowsAt(r) * 180.0 - 90.0
    val lng = (col(id) + 0.5) / colsAt(r) * 360.0 - 180.0
    (lat, lng)
  }

  private val XMin = -20037506.5671; private val XMax = 20042493.4328
  private val YMin = -8683205.0209; private val YMax = 8686794.9791

  /** Per-(rows, cols, res) row tables: everything the Goode inverse +
    * encode derive from the ROW alone — packed row bits and the exact
    * per-row longitude divisor — so the per-cell hot path is a table
    * read + a handful of arithmetic ops instead of asin/cos per pixel.
    * Bit-identical to the direct computation (same double-op sequence;
    * property-tested). A 1737-row table is ~70 KB; built once per JVM. */
  private val gridCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), (Array[Long], Array[Igh.RowInv])]()

  /** Resolve the row table once (plan time for codegen callers: grid_h3
    * carries the arrays as plan literals so the per-pixel hot path
    * never touches this map — a boxed-tuple ConcurrentHashMap lookup
    * per pixel was measurable). */
  def table(rows: Int, cols: Int, res: Int)
      : (Array[Long], Array[Igh.RowInv]) =
    gridCache.computeIfAbsent((rows, cols, res), { _ =>
      val inv = new Array[Igh.RowInv](rows)
      val packed = new Array[Long](rows)
      val nr = rowsAt(res)
      var row0 = 0
      while (row0 < rows) {
        val y = YMax - (row0 + 0.5) * (YMax - YMin) / rows
        val ri = Igh.rowInv(y)
        val lat = math.max(-90.0, math.min(90.0, ri.latDeg))
        val r0 = math.floor((lat + 90.0) / 180.0 * nr).toInt
        val r = math.min(math.max(r0, 0), nr - 1)
        inv(row0) = ri
        packed(row0) = pack(res, r, 0)
        row0 += 1
      }
      (packed, inv)
    })

  /** Grid cell id (1-based row-major over a rows x cols grid spanning
    * the full Goode extent, like the reference's 1737x4008 global grid)
    * -> H3-lite id at `res`: centroid -> igh inverse projection ->
    * encode. The per-cell hot path of the headline H3-encode stage —
    * one static call (codegen-friendly) whose row-dependent work comes
    * from the precomputed table. */
  def gridCellToH3(id: Long, rows: Int, cols: Int, res: Int): Long = {
    val (packed, inv) = table(rows, cols, res)
    encodeFromTable(id, cols, res, packed, inv)
  }

  /** The per-cell hot path with the row table already in hand — the
    * static call grid_h3's generated code makes (tables carried as
    * plan literals, no map lookup per pixel). */
  def encodeFromTable(id: Long, cols: Int, res: Int, packed: Array[Long],
      inv: Array[Igh.RowInv]): Long = {
    val col0 = (id - 1) % cols
    val row0 = ((id - 1) / cols).toInt
    val x = XMin + (col0 + 0.5) * (XMax - XMin) / cols
    val lon = Igh.lonDegAt(inv(row0), x)
    // The wrap of gridCellToH3Direct without its two fmods on the usual
    // range: fmod(a, 360) = a for 0 <= a < 360, and fmod(b, 360) =
    // b - 360 exactly for 360 <= b < 720 (Sterbenz), so both forms give
    // the same bits; anything else (and NaN) takes the % chain.
    val a = lon + 180.0
    val b = a + 360.0
    val lngW = if (a >= 0.0 && a < 360.0 && b < 720.0) (b - 360.0) - 180.0
      else ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    val nc = colsAt(res)
    val c0 = math.floor((lngW + 180.0) / 360.0 * nc).toInt
    val c = ((c0 % nc) + nc) % nc
    packed(row0) | c
  }

  /** The (clamped lat, wrapped lng) degrees of a grid cell centroid —
    * the geodetic midpoint of the gridCellToH3 chain, exposed so the
    * driver's DuckDB oracle can cross-check the Goode inverse itself
    * (q75), not just the id arithmetic around it. Exactly the double-op
    * sequence of gridCellToH3Direct up to the encode (which the row-
    * table hot path is property-tested bit-identical to). */
  def gridCellToLatLng(id: Long, rows: Int, cols: Int): (Double, Double) = {
    val col0 = (id - 1) % cols
    val row0 = (id - 1) / cols
    val x = XMin + (col0 + 0.5) * (XMax - XMin) / cols
    val y = YMax - (row0 + 0.5) * (YMax - YMin) / rows
    val (lon, lat) = Igh.inverse(x, y)
    val lngW = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    (math.max(-90.0, math.min(90.0, lat)), lngW)
  }

  /** The direct (uncached, trig-per-call) formulation — the reference
    * implementation the row-table path is property-tested against. */
  private[core] def gridCellToH3Direct(id: Long, rows: Int, cols: Int,
      res: Int): Long = {
    val col0 = (id - 1) % cols
    val row0 = (id - 1) / cols
    val x = XMin + (col0 + 0.5) * (XMax - XMin) / cols
    val y = YMax - (row0 + 0.5) * (YMax - YMin) / rows
    val (lon, lat) = Igh.inverse(x, y)
    val lngW = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    encode(math.max(-90.0, math.min(90.0, lat)), lngW, res)
  }

  /** All cells within Chebyshev distance k (the H3 kRing analog),
    * including the center. Longitude wraps; latitude clamps at poles.
    * Deterministic order: by (dr, dc). */
  def kRing(id: Long, k: Int): Array[Long] = {
    val r = res(id)
    val nr = rowsAt(r)
    val nc = colsAt(r)
    val r0 = row(id)
    val c0 = col(id)
    val out = Array.newBuilder[Long]
    var dr = -k
    while (dr <= k) {
      val rr = r0 + dr
      if (rr >= 0 && rr < nr) {
        var dc = -k
        while (dc <= k) {
          val cc = (((c0 + dc) % nc) + nc) % nc
          out += pack(r, rr, cc)
          dc += 1
        }
      }
      dr += 1
    }
    out.result()
  }
}
