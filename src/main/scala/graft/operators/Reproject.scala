package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** filters.reprojection — deterministic per-point CRS transform
  * (reference ReprojectionFilter.cpp:183-205 applies OCTTransform per
  * point; we implement the needed projections from published formulas
  * instead of linking GDAL).
  *
  * Implemented CRSs: geographic (WGS84/NAD83 degrees), UTM zones
  * (Transverse Mercator, Karney 2011 series — accurate to nanometers,
  * far beyond the reference's GDAL path), Web Mercator (closed form).
  */
object Proj {
  // GRS80 (NAD83) and WGS84 ellipsoids differ only in 1/f's 12th digit;
  // use per-ellipsoid constants anyway.
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val n: Double = f / (2.0 - f)
  }
  val GRS80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  val WGS84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  /** NAD27's ellipsoid — UTM on NAD27 (EPSG 267xx) projects on Clarke
    * 1866, not GRS80 (public EPSG registry values). */
  val Clarke1866: Ellipsoid = Ellipsoid(6378206.4, 294.978698213898)

  def ellByName(name: String): Ellipsoid = name match {
    case "GRS80" => GRS80
    case "WGS84" => WGS84
    case "CLARKE1866" => Clarke1866
    case other => throw new IllegalArgumentException(s"unknown ellipsoid '$other'")
  }

  /** Precomputed Krüger/Karney series coefficients for one ellipsoid. */
  final class TM(e: Ellipsoid) extends Serializable {
    private val n = e.n
    private val n2 = n * n; private val n3 = n2 * n
    private val n4 = n3 * n; private val n5 = n4 * n; private val n6 = n5 * n
    val A: Double = e.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    val alpha: Array[Double] = Array(
      n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
      13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
      61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
      49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
      34729 * n5 / 80640 - 3418889 * n6 / 1995840,
      212378941 * n6 / 319334400)
    val beta: Array[Double] = Array(
      n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
      n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
      17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
      4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
      4583 * n5 / 161280 - 108847 * n6 / 3991680,
      20648693 * n6 / 638668800)
    val delta: Array[Double] = Array(
      2 * n - 2 * n2 / 3 - 2 * n3 + 116 * n4 / 45 + 26 * n5 / 45 - 2854 * n6 / 675,
      7 * n2 / 3 - 8 * n3 / 5 - 227 * n4 / 45 + 2704 * n5 / 315 + 2323 * n6 / 945,
      56 * n3 / 15 - 136 * n4 / 35 - 1262 * n5 / 105 + 73814 * n6 / 2835,
      4279 * n4 / 630 - 332 * n5 / 35 - 399572 * n6 / 14175,
      4174 * n5 / 315 - 144838 * n6 / 6237,
      601676 * n6 / 22275)
    val twoSqrtNover1pN: Double = 2 * math.sqrt(n) / (1 + n)
  }
  private val tmGRS80 = new TM(GRS80)
  private val tmWGS84 = new TM(WGS84)
  private val tmClarke = new TM(Clarke1866)
  private def tmFor(e: Ellipsoid): TM =
    if (e == GRS80) tmGRS80 else if (e == Clarke1866) tmClarke else tmWGS84

  val K0 = 0.9996
  val FalseEasting = 500000.0

  /** UTM inverse: (easting, northing) -> (lon, lat) in degrees.
    * Karney (2011) series, public formulas. */
  def utmToGeo(easting: Double, northing: Double, zone: Int, northern: Boolean,
               ell: Ellipsoid = GRS80): (Double, Double) = {
    val tm = tmFor(ell)
    val n0 = if (northern) 0.0 else 10000000.0
    val xi = (northing - n0) / (K0 * tm.A)
    val eta = (easting - FalseEasting) / (K0 * tm.A)
    var xiP = xi; var etaP = eta
    var j = 1
    while (j <= 6) {
      val b = tm.beta(j - 1)
      xiP -= b * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      etaP -= b * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    var phi = chi
    j = 1
    while (j <= 6) { phi += tm.delta(j - 1) * math.sin(2 * j * chi); j += 1 }
    val lam0 = math.toRadians(zone * 6 - 183)
    val lam = lam0 + math.atan2(math.sinh(etaP), math.cos(xiP))
    (math.toDegrees(lam), math.toDegrees(phi))
  }

  /** UTM forward: (lon, lat) degrees -> (easting, northing). */
  def geoToUtm(lon: Double, lat: Double, zone: Int, northern: Boolean,
               ell: Ellipsoid = GRS80): (Double, Double) = {
    val tm = tmFor(ell)
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lon) - math.toRadians(zone * 6 - 183)
    val s = tm.twoSqrtNover1pN
    val t = math.sinh(atanh(math.sin(phi)) - s * atanh(s * math.sin(phi)))
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = atanh(math.sin(lam) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 6) {
      val a = tm.alpha(j - 1)
      xi += a * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += a * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
      j += 1
    }
    val e = FalseEasting + K0 * tm.A * eta
    val nn = (if (northern) 0.0 else 10000000.0) + K0 * tm.A * xi
    (e, nn)
  }

  @inline private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

  /** Lambert Conformal Conic 2SP (Snyder 1987, USGS PP 1395 §15 —
    * public formulas). `unitToMeter` converts input linear units (e.g.
    * 0.3048 for international feet, as in the Oregon Lambert SRS of the
    * reference's autzen fixtures, test/data/autzen/autzen-srs.wkt). */
  final case class Lcc2SP(sp1Deg: Double, sp2Deg: Double, lat0Deg: Double,
                          lon0Deg: Double, falseEastingUnits: Double,
                          falseNorthingUnits: Double, unitToMeter: Double = 1.0,
                          ell: Ellipsoid = GRS80) extends Serializable {
    private val a = ell.a
    private val e2 = 2 * ell.f - ell.f * ell.f
    private val e = math.sqrt(e2)
    private def mAt(phi: Double) = math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) * math.sin(phi))
    private def tAt(phi: Double) =
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)
    private val p1 = math.toRadians(sp1Deg); private val p2 = math.toRadians(sp2Deg)
    private val p0 = math.toRadians(lat0Deg); private val l0 = math.toRadians(lon0Deg)
    val n: Double = (math.log(mAt(p1)) - math.log(mAt(p2))) /
      (math.log(tAt(p1)) - math.log(tAt(p2)))
    private val bigF = mAt(p1) / (n * math.pow(tAt(p1), n))
    private val rho0 = a * bigF * math.pow(tAt(p0), n)
    private val fe = falseEastingUnits * unitToMeter
    private val fn = falseNorthingUnits * unitToMeter

    /** (easting, northing) in SRS units -> (lon, lat) degrees. */
    def inverse(eIn: Double, nIn: Double): (Double, Double) = {
      val x = eIn * unitToMeter - fe
      val y = nIn * unitToMeter - fn
      val rho = math.copySign(math.hypot(x, rho0 - y), n)
      val tt = math.pow(rho / (a * bigF), 1 / n)
      val theta = math.atan2(x, rho0 - y)
      val lam = theta / n + l0
      var phi = math.Pi / 2 - 2 * math.atan(tt)
      var i = 0
      while (i < 8) {
        phi = math.Pi / 2 - 2 * math.atan(tt *
          math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
        i += 1
      }
      (math.toDegrees(lam), math.toDegrees(phi))
    }

    /** (lon, lat) degrees -> (easting, northing) in SRS units. */
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg); val lam = math.toRadians(lonDeg)
      val rho = a * bigF * math.pow(tAt(phi), n)
      val theta = n * (lam - l0)
      val eOut = (fe + rho * math.sin(theta)) / unitToMeter
      val nOut = (fn + rho0 - rho * math.cos(theta)) / unitToMeter
      (eOut, nOut)
    }
  }

  /** The reference's autzen fixture SRS (autzen-srs.wkt): NAD83(HARN)
    * Oregon Statewide Lambert, international feet. */
  val OregonLambertFeet: Lcc2SP = Lcc2SP(43.0, 45.5, 41.75, -120.5,
    1312335.958005249, 0.0, unitToMeter = 0.3048)

  def lccInvX(e: Double, n: Double, p: Lcc2SP): Double = p.inverse(e, n)._1
  def lccInvY(e: Double, n: Double, p: Lcc2SP): Double = p.inverse(e, n)._2

  /** Static entry points for codegen, one coordinate each, on an explicit
    * ellipsoid (NAD27 UTM projects on Clarke 1866); the Ellipsoid rides
    * codegen as a reference object so name resolution is plan-time, not
    * per-row. */
  def utmToGeoXE(e: Double, n: Double, zone: Int, northern: Boolean, ell: Ellipsoid): Double =
    utmToGeo(e, n, zone, northern, ell)._1
  def utmToGeoYE(e: Double, n: Double, zone: Int, northern: Boolean, ell: Ellipsoid): Double =
    utmToGeo(e, n, zone, northern, ell)._2
  def geoToUtmXE(lon: Double, lat: Double, zone: Int, northern: Boolean, ell: Ellipsoid): Double =
    geoToUtm(lon, lat, zone, northern, ell)._1
  def geoToUtmYE(lon: Double, lat: Double, zone: Int, northern: Boolean, ell: Ellipsoid): Double =
    geoToUtm(lon, lat, zone, northern, ell)._2
  def lccFwdX(lon: Double, lat: Double, p: Lcc2SP): Double = p.forward(lon, lat)._1
  def lccFwdY(lon: Double, lat: Double, p: Lcc2SP): Double = p.forward(lon, lat)._2
}

/** Reprojected coordinate expression: applies a named transform to (x, y).
  * `which` selects the output component so each coordinate is an
  * independent codegen-able scalar (Catalyst CSEs the shared subexpression
  * when both are projected... in practice the transform is cheap enough
  * that two calls beat breaking codegen with a struct).
  */
case class UtmToGeo(left: Expression, right: Expression, zone: Int,
                    northern: Boolean, which: Int, ell: String = "GRS80")
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "utm_to_geo"
  @transient private lazy val ellObj = Proj.ellByName(ell)
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val (lon, lat) = Proj.utmToGeo(x.asInstanceOf[Double], y.asInstanceOf[Double],
      zone, northern, ellObj)
    if (which == 0) lon else lat
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = ctx.addReferenceObj("ell", ellObj, classOf[Proj.Ellipsoid].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      if (which == 0)
        s"${ev.value} = graft.operators.Proj.utmToGeoXE($x, $y, $zone, $northern, $e);"
      else
        s"${ev.value} = graft.operators.Proj.utmToGeoYE($x, $y, $zone, $northern, $e);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** LCC-inverse coordinate expression (params object rides the plan). */
case class LccToGeo(left: Expression, right: Expression, params: Proj.Lcc2SP, which: Int)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lcc_to_geo"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val (lon, lat) = params.inverse(x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (which == 0) lon else lat
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("lcc", params, classOf[Proj.Lcc2SP].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      if (which == 0) s"${ev.value} = graft.operators.Proj.lccInvX($x, $y, $p);"
      else s"${ev.value} = graft.operators.Proj.lccInvY($x, $y, $p);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Geographic -> UTM forward (Karney series, the inverse's twin). */
case class GeoToUtm(left: Expression, right: Expression, zone: Int,
                    northern: Boolean, which: Int, ell: String = "GRS80")
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geo_to_utm"
  @transient private lazy val ellObj = Proj.ellByName(ell)
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val (e, n) = Proj.geoToUtm(x.asInstanceOf[Double], y.asInstanceOf[Double],
      zone, northern, ellObj)
    if (which == 0) e else n
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = ctx.addReferenceObj("ell", ellObj, classOf[Proj.Ellipsoid].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      if (which == 0)
        s"${ev.value} = graft.operators.Proj.geoToUtmXE($x, $y, $zone, $northern, $e);"
      else
        s"${ev.value} = graft.operators.Proj.geoToUtmYE($x, $y, $zone, $northern, $e);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Geographic -> LCC 2SP forward (Snyder). */
case class GeoToLcc(left: Expression, right: Expression, params: Proj.Lcc2SP, which: Int)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "geo_to_lcc"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val (e, n) = params.forward(x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (which == 0) e else n
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("lcc", params, classOf[Proj.Lcc2SP].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      if (which == 0) s"${ev.value} = graft.operators.Proj.lccFwdX($x, $y, $p);"
      else s"${ev.value} = graft.operators.Proj.lccFwdY($x, $y, $p);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** NTv2 datum grid shift over geographic degrees (forward = source
  * datum -> target, e.g. NAD27 -> NAD83; inverse iterates). The parsed
  * grid rides the plan as a reference object — broadcast once per
  * executor, O(1) bilinear lookup per row, stays in codegen. The
  * reference reaches the same grids through GDAL/OSR
  * (filters/reprojection/ReprojectionFilter.cpp:131-180). */
case class GridShift(left: Expression, right: Expression,
                     grid: graft.sources.Ntv2.Grid, inverse: Boolean,
                     outsidePass: Boolean, which: Int)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (inverse) "grid_shift_inv" else "grid_shift"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val lon = x.asInstanceOf[Double]; val lat = y.asInstanceOf[Double]
    val out =
      if (inverse) graft.sources.Ntv2.inverse(grid, lon, lat, outsidePass)
      else graft.sources.Ntv2.forward(grid, lon, lat, outsidePass)
    if (which == 0) out._1 else out._2
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ntv2", grid, classOf[graft.sources.Ntv2.Grid].getName)
    val fn = (inverse, which) match {
      case (false, 0) => "fwdLon"; case (false, _) => "fwdLat"
      case (true, 0) => "invLon"; case (true, _) => "invLat"
    }
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.sources.Ntv2.$fn($x, $y, $g, $outsidePass);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Reproject {
  import ExpressionUtils.{column => toCol, expression => toExpr}

  /** UTM -> geographic (degrees). z passes through unchanged, like the
    * reference's 2-D-in-3-D transform when z is height. */
  def utmToGeo(zone: Int, northern: Boolean = true, ell: String = "GRS80")
              (df: DataFrame): DataFrame = {
    val lon = toCol(UtmToGeo(toExpr(col("x")), toExpr(col("y")), zone, northern, 0, ell))
    val lat = toCol(UtmToGeo(toExpr(col("x")), toExpr(col("y")), zone, northern, 1, ell))
    df.withColumns(Map("x" -> lon, "y" -> lat))
  }

  /** Geographic degrees -> UTM (forward; round-trips with [[utmToGeo]]
    * to sub-mm — spec-pinned). */
  def geoToUtm(zone: Int, northern: Boolean = true, ell: String = "GRS80")
              (df: DataFrame): DataFrame = {
    val e = toCol(GeoToUtm(toExpr(col("x")), toExpr(col("y")), zone, northern, 0, ell))
    val n = toCol(GeoToUtm(toExpr(col("x")), toExpr(col("y")), zone, northern, 1, ell))
    df.withColumns(Map("x" -> e, "y" -> n))
  }

  /** NTv2 datum shift over (x=lon, y=lat) degrees — forward: source
    * datum (e.g. NAD27) -> grid target (NAD83, coincident with the WGS84
    * hub to <2 m). */
  def gridShiftForward(grid: graft.sources.Ntv2.Grid, outsidePass: Boolean = false)
                      (df: DataFrame): DataFrame = {
    val lon = toCol(GridShift(toExpr(col("x")), toExpr(col("y")), grid, inverse = false, outsidePass, 0))
    val lat = toCol(GridShift(toExpr(col("x")), toExpr(col("y")), grid, inverse = false, outsidePass, 1))
    df.withColumns(Map("x" -> lon, "y" -> lat))
  }

  /** NTv2 inverse shift (hub datum -> grid source datum). */
  def gridShiftInverse(grid: graft.sources.Ntv2.Grid, outsidePass: Boolean = false)
                      (df: DataFrame): DataFrame = {
    val lon = toCol(GridShift(toExpr(col("x")), toExpr(col("y")), grid, inverse = true, outsidePass, 0))
    val lat = toCol(GridShift(toExpr(col("x")), toExpr(col("y")), grid, inverse = true, outsidePass, 1))
    df.withColumns(Map("x" -> lon, "y" -> lat))
  }

  /** Lambert Conformal Conic (2SP) -> geographic degrees. */
  def lccToGeo(params: Proj.Lcc2SP)(df: DataFrame): DataFrame = {
    val lon = toCol(LccToGeo(toExpr(col("x")), toExpr(col("y")), params, 0))
    val lat = toCol(LccToGeo(toExpr(col("x")), toExpr(col("y")), params, 1))
    df.withColumns(Map("x" -> lon, "y" -> lat))
  }

  /** Geographic degrees -> LCC 2SP (forward). */
  def geoToLcc(params: Proj.Lcc2SP)(df: DataFrame): DataFrame = {
    val e = toCol(GeoToLcc(toExpr(col("x")), toExpr(col("y")), params, 0))
    val n = toCol(GeoToLcc(toExpr(col("x")), toExpr(col("y")), params, 1))
    df.withColumns(Map("x" -> e, "y" -> n))
  }

  private val R = 6378137.0

  /** Web Mercator (EPSG:3857) -> WGS84 degrees. Closed form, pure
    * built-in functions — stays in whole-stage codegen and is exactly
    * reproducible in any ANSI SQL engine (the oracle path). */
  def webMercatorToGeo(df: DataFrame): DataFrame = {
    df.withColumns(Map(
      "x" -> (col("x") / lit(R) * lit(180.0 / math.Pi)),
      "y" -> ((atan(exp(col("y") / lit(R))) * lit(2.0) - lit(math.Pi / 2)) * lit(180.0 / math.Pi))))
  }

  /** WGS84 degrees -> Web Mercator. */
  def geoToWebMercator(df: DataFrame): DataFrame = {
    df.withColumns(Map(
      "x" -> (col("x") * lit(math.Pi / 180.0) * lit(R)),
      "y" -> (log(tan(lit(math.Pi / 4) + col("y") * lit(math.Pi / 360.0))) * lit(R))))
  }

  // ---- named-SRS registry ---------------------------------------------
  // Every registered SRS knows its to-geographic and from-geographic
  // stage, so ANY pair composes through geographic coordinates — the
  // reference's OSRTransform hub-and-spoke shape
  // (ReprojectionFilter.cpp:131-205) without a GDAL runtime. Both legs
  // are codegen'd projections, so a composed transform is still a single
  // whole-stage-codegen projection over the scan.
  //
  // DATUM SHIFTS: the hub is a single geographic frame on the WGS84
  // ellipsoid. NAD83 is treated as coincident with WGS84 (<2 m apart,
  // fine for the no-GDAL contract). NAD27 ("nad27:geo", "nad27:utm:<z>")
  // is supported ONLY when an NTv2 grid-shift file is supplied — the
  // reference gets the same grids through GDAL/OSR
  // (ReprojectionFilter.cpp:131-180) — and the UTM leg projects on
  // Clarke 1866 as EPSG 267xx prescribes. A grid-less NAD27 request
  // still fails loudly: a grid-less approximation can be off by tens of
  // meters, so we never silently return wrong coordinates.

  private def unknown(srs: String): Nothing =
    throw new IllegalArgumentException(
      s"unknown SRS '$srs' (known: EPSG:4326, EPSG:3857, utm:<zone>, lcc:oregon-ft, " +
        "nad27:geo, nad27:utm:<zone>; " +
        "datum shifts such as NAD27 require an NTv2 grid — pass grid=<path.gsb>)")

  private def needGrid(srs: String, grid: Option[graft.sources.Ntv2.Grid]): graft.sources.Ntv2.Grid =
    grid.getOrElse(throw new IllegalArgumentException(
      s"SRS '$srs' needs a datum shift (known: EPSG:4326, EPSG:3857, utm:<zone>, " +
        "lcc:oregon-ft, nad27:geo, nad27:utm:<zone>; " +
        "datum shifts require an NTv2 grid — pass grid=<path.gsb>)"))

  def toGeoStage(srs: String, grid: Option[graft.sources.Ntv2.Grid] = None,
                 outsidePass: Boolean = false): DataFrame => DataFrame = srs match {
    case "EPSG:4326" | "" => identity
    case "nad27:geo" => gridShiftForward(needGrid(srs, grid), outsidePass)
    case s if s.startsWith("nad27:utm:") =>
      val z = s.stripPrefix("nad27:utm:").toInt
      val g = needGrid(srs, grid)
      df => gridShiftForward(g, outsidePass)(utmToGeo(z, northern = true, ell = "CLARKE1866")(df))
    case s if s.startsWith("utm:") => utmToGeo(s.stripPrefix("utm:").toInt)
    case "lcc:oregon-ft" => lccToGeo(Proj.OregonLambertFeet)
    case "EPSG:3857" => webMercatorToGeo
    case other => unknown(other)
  }

  def fromGeoStage(srs: String, grid: Option[graft.sources.Ntv2.Grid] = None,
                   outsidePass: Boolean = false): DataFrame => DataFrame = srs match {
    case "EPSG:4326" | "" => identity
    case "nad27:geo" => gridShiftInverse(needGrid(srs, grid), outsidePass)
    case s if s.startsWith("nad27:utm:") =>
      val z = s.stripPrefix("nad27:utm:").toInt
      val g = needGrid(srs, grid)
      df => geoToUtm(z, northern = true, ell = "CLARKE1866")(gridShiftInverse(g, outsidePass)(df))
    case s if s.startsWith("utm:") => geoToUtm(s.stripPrefix("utm:").toInt)
    case "lcc:oregon-ft" => geoToLcc(Proj.OregonLambertFeet)
    case "EPSG:3857" => geoToWebMercator
    case other => unknown(other)
  }

  /** Any registered SRS pair, composed through geographic coordinates.
    * A `nad27:*` endpoint needs its NTv2 `grid`; the grid applies to
    * whichever side (or both) names a shifted datum. */
  def transform(fromSrs: String, toSrs: String,
                grid: Option[graft.sources.Ntv2.Grid] = None,
                outsidePass: Boolean = false): DataFrame => DataFrame =
    if (fromSrs == toSrs) identity
    else toGeoStage(fromSrs, grid, outsidePass)
      .andThen(fromGeoStage(toSrs, grid, outsidePass))
}
