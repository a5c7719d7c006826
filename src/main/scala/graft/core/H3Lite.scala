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

  /** Everything the Goode inverse + encode of a rows x cols grid at `res`
    * derive from the ROW or the COLUMN alone: per row the packed row bits
    * and the Igh.RowInv (latitude and the exact longitude divisor), per
    * column xs = x / R and the north and south lobe meridians. The per-
    * cell hot path is then table reads + a handful of arithmetic ops,
    * with no asin/cos, no x, no lobe if-chain. Bit-identical to the
    * direct computation (same double-op sequence; CoreSpec checks every
    * cell of the headline grid). The 1737x4008 table is about 190 KB in
    * memory, but it serializes as its key (rows, cols, res) and
    * deserializes to the JVM's cached table, so a plan literal adds a
    * few bytes to each task, not the arrays. */
  final class Table private[H3Lite] (rows: Int, cols: Int, res: Int,
      @transient val packed: Array[Long],
      @transient val inv: Array[Igh.RowInv],
      @transient val xs: Array[Double], @transient val cmN: Array[Double],
      @transient val cmS: Array[Double]) extends Serializable {
    private def readResolve(): AnyRef = table(rows, cols, res)
  }

  private val gridCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), Table]()

  /** Resolve the table once per JVM (plan time for codegen callers:
    * grid_h3 and tile_zonal carry it as a plan literal, so the per-pixel
    * hot path never touches this map; a boxed-tuple ConcurrentHashMap
    * lookup per pixel was measurable). */
  def table(rows: Int, cols: Int, res: Int): Table =
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
      val xs = new Array[Double](cols)
      val cmN = new Array[Double](cols)
      val cmS = new Array[Double](cols)
      var col0 = 0
      while (col0 < cols) {
        val x = XMin + (col0 + 0.5) * (XMax - XMin) / cols
        xs(col0) = x / Igh.R
        cmN(col0) = Igh.lobeMeridian(north = true, xs(col0))
        cmS(col0) = Igh.lobeMeridian(north = false, xs(col0))
        col0 += 1
      }
      new Table(rows, cols, res, packed, inv, xs, cmN, cmS)
    })

  /** Grid cell id (1-based row-major over a rows x cols grid spanning
    * the full Goode extent, like the reference's 1737x4008 global grid)
    * -> H3-lite id at `res`: centroid -> igh inverse projection ->
    * encode, through the table of `table(rows, cols, res)`. */
  def gridCellToH3(id: Long, rows: Int, cols: Int, res: Int): Long =
    encodeFromTable(id, cols, res, table(rows, cols, res))

  /** gridCellToH3 with the table already in hand: the static call
    * grid_h3's generated code makes (the table rides the plan as a
    * literal). Splits `id` into (row, col) and runs encodeAt. */
  def encodeFromTable(id: Long, cols: Int, res: Int, t: Table): Long =
    encodeAt(t, ((id - 1) / cols).toInt, ((id - 1) % cols).toInt, res)

  /** The per-cell hot path: H3-lite id at `res` of the cell at 0-based
    * (`row`, `col`) of table `t`'s grid, bit-identical to
    * gridCellToH3Direct. The column floor-mod is a mask (the column
    * count is a power of two, so `c0 & (nc - 1)` is `((c0 % nc) + nc) %
    * nc` for every Int). TileZonal calls this per pixel. */
  def encodeAt(t: Table, row: Int, col: Int, res: Int): Long = {
    val ri = t.inv(row)
    val lon = Igh.lonDegAt(ri, t.xs(col),
      if (ri.north) t.cmN(col) else t.cmS(col))
    val nc = colsAt(res)
    val c0 = math.floor((wrapLng(lon) + 180.0) / 360.0 * nc).toInt
    t.packed(row) | (c0 & (nc - 1))
  }

  /** `((lon + 180) % 360 + 360) % 360 - 180`, bit for bit, without `%`
    * (a Java `%` on doubles is an fmod loop, and 11.6% of the headline
    * grid's cells, the Goode lobe gaps, land outside [-180, 180)).
    *  - m1 = fmod(a, 360) for a = lon + 180: a itself on [0, 360); else,
    *    while |a| < 1e12, a - 360 q with q = trunc(a / 360). The quotient
    *    never rounds across an integer k: a double a below 360 k lies at
    *    least one spacing of 360 k's binade below it, and that spacing
    *    over 360 exceeds half the spacing of the doubles just below k;
    *    so q is exact. 360 q is an integer below 2^40, a multiple of
    *    ulp(a), and |a - 360 q| < 360, so the subtraction is exact too.
    *    Its zero is +0 where fmod's may be -0; b below absorbs the sign.
    *  - m2 = fmod(b, 360) for b = m1 + 360 in [0, 720]: b below 360,
    *    b - 360 (exact by Sterbenz) below 720, and `%` for b = 720, which
    *    m1 just under 360 rounds to.
    * NaN, the infinities and |a| >= 1e12 take the `%` chain. CoreSpec
    * compares raw bits with the chain, and q with the exact quotient. */
  def wrapLng(lon: Double): Double = {
    val a = lon + 180.0
    val m1 =
      if (a >= 0.0 && a < 360.0) a
      else if (math.abs(a) < 1e12) a - 360.0 * (a / 360.0).toLong
      else a % 360.0
    val b = m1 + 360.0
    val m2 = if (b < 360.0) b else if (b < 720.0) b - 360.0 else b % 360.0
    m2 - 180.0
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
