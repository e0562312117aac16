package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Crs, Ntv2}

/** NTv2 grid-shift: binary parse (both endiannesses), node exactness,
  * subgrid selection, iterative inverse convergence, and the Helmert
  * fallback contract when no grid directory is configured. */
class Ntv2Spec extends AnyFunSuite {

  private val le = SparkEntry.fixture("ntv2/synthetic.gsb")
  private val be = SparkEntry.fixture("ntv2_be/synthetic_be.gsb")

  test("little- and big-endian twins parse to identical grids") {
    val a = Ntv2.parse(le)
    val b = Ntv2.parse(be)
    assert(a.systemF == "NAD27" && a.systemT == "NAD83")
    assert(a.subs.map(_.name) == b.subs.map(_.name))
    assert(a.subs.size == 2)
    a.subs.zip(b.subs).foreach { case (x, y) =>
      assert(x.nRows == y.nRows && x.nCols == y.nCols)
      assert(x.latShift.sameElements(y.latShift))
      assert(x.lonShift.sameElements(y.lonShift))
    }
  }

  test("interpolation at a grid node returns the node value exactly") {
    val g = Ntv2.parse(le)
    val base = g.subs.find(_.name == "SYNTH0").get
    // node (row=2, col=3): lat = S_LAT + 2*inc, lonW = E_LONG + 3*inc
    val latSec = base.sLat + 2 * base.latInc
    val lonWSec = base.eLonW + 3 * base.lonInc
    val (dLat, dLonW) = base.interp(latSec, lonWSec)
    assert(dLat == base.latShift(2 * base.nCols + 3).toDouble)
    assert(dLonW == base.lonShift(2 * base.nCols + 3).toDouble)
  }

  test("densest containing subgrid wins selection") {
    val g = Ntv2.parse(le)
    // inside the fine subgrid (42..43N, 72..74W)
    assert(g.subFor(42.5 * 3600.0, 73.0 * 3600.0).get.name == "SYNTH1")
    // inside base only
    assert(g.subFor(41.0 * 3600.0, 75.0 * 3600.0).get.name == "SYNTH0")
    // outside everything
    assert(g.subFor(10.0 * 3600.0, 75.0 * 3600.0).isEmpty)
  }

  test("inverse is a fixed point of forward to sub-mm") {
    val g = Ntv2.parse(le)
    val (lon83, lat83) = g.forward(-73.02, 42.5017).get
    val (lon27, lat27) = g.inverse(lon83, lat83).get
    assert(math.abs(lon27 - -73.02) < 1e-9, s"lon $lon27")
    assert(math.abs(lat27 - 42.5017) < 1e-9, s"lat $lat27")
  }

  test("EPSG:4267 uses the grid when gridDir is set, Helmert otherwise") {
    val spark = Graft.session("local[2]", 2)
    try {
      spark.conf.unset("spark.graft.crs.gridDir")
    } catch { case _: Exception => () }
    val sys = Crs.resolve("EPSG:4267")
    // Helmert fallback: NAD27 -> WGS84 shifts by roughly 10-100 m, so
    // the output differs from identity but is within ~0.01 deg
    val (hLon, hLat) = sys.inverse(-75.1234, 41.2050)
    assert(math.abs(hLon - -75.1234) > 1e-7 && math.abs(hLon - -75.1234) < 0.01)
    spark.conf.set("spark.graft.crs.gridDir", SparkEntry.fixture("ntv2"))
    val (gLon, gLat) = sys.inverse(-75.1234, 41.2050)
    // grid shift applies the synthetic surface, not the Helmert one
    assert(gLon != hLon || gLat != hLat)
    val g = Ntv2.parse(le)
    val (eLon, eLat) = g.forward(-75.1234, 41.2050).get
    assert(gLon == eLon && gLat == eLat)
    // outside the grid: falls back to the same Helmert path
    val (oLon, oLat) = sys.inverse(10.0, 50.0)
    spark.conf.unset("spark.graft.crs.gridDir")
    val (o2Lon, o2Lat) = sys.inverse(10.0, 50.0)
    assert(oLon == o2Lon && oLat == o2Lat)
  }

  test("NAD27 UTM zone 18N roundtrips through the grid") {
    val spark = Graft.session("local[2]", 2)
    spark.conf.set("spark.graft.crs.gridDir", SparkEntry.fixture("ntv2"))
    try {
      val sys = Crs.resolve("EPSG:26718")
      val (x, y) = sys.forward(-75.1234, 41.2050)
      // zone 18N central meridian is 75W: easting near 500km, northing ~4.5M
      assert(x > 480000 && x < 520000, s"easting $x")
      assert(y > 4400000 && y < 4700000, s"northing $y")
      val (lon, lat) = sys.inverse(x, y)
      assert(math.abs(lon - -75.1234) < 1e-8 && math.abs(lat - 41.2050) < 1e-8)
    } finally spark.conf.unset("spark.graft.crs.gridDir")
  }
}
