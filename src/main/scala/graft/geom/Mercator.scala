package graft.geom

/** Closed-form spherical Web-Mercator transform, EPSG:4326 <-> EPSG:3857.
  *
  * The reference reprojects per feature through PROJ
  * (`/root/reference/src/format/geojson.rs:147-155`,
  * `src/format/shapefile.rs:159-167`), rebuilding the projection per row.
  * Only 4326<->3857 is reachable (srid validation at
  * `src/utils/validate.rs:24-31`), so we replace PROJ with the closed-form
  * spherical-Mercator math (no native deps, constant-foldable, codegen
  * friendly). Formulas per the OSGeo "Spherical Mercator" spec.
  */
object Mercator {
  val EarthRadius: Double = 6378137.0
  val MaxLat: Double = 85.05112877980659 // atan(sinh(pi)) in degrees
  val MaxX: Double = math.Pi * EarthRadius

  /** lon/lat degrees -> meters (EPSG:4326 -> EPSG:3857). */
  def forward(lon: Double, lat: Double): (Double, Double) = {
    val x = EarthRadius * math.toRadians(lon)
    val clat = math.max(-MaxLat, math.min(MaxLat, lat))
    val y = EarthRadius * math.log(math.tan(math.Pi / 4.0 + math.toRadians(clat) / 2.0))
    (x, y)
  }

  /** meters -> lon/lat degrees (EPSG:3857 -> EPSG:4326). */
  def inverse(x: Double, y: Double): (Double, Double) = {
    val lon = math.toDegrees(x / EarthRadius)
    val lat = math.toDegrees(2.0 * math.atan(math.exp(y / EarthRadius)) - math.Pi / 2.0)
    (lon, lat)
  }

  /** Transform between the two reachable SRIDs; identity when equal.
    * Mirrors the reference's reachable transform set exactly. */
  def transform(x: Double, y: Double, fromSrid: Int, toSrid: Int): (Double, Double) =
    (fromSrid, toSrid) match {
      case (a, b) if a == b => (x, y)
      case (4326, 3857)     => forward(x, y)
      case (3857, 4326)     => inverse(x, y)
      case _ =>
        throw new IllegalArgumentException(
          s"unsupported srid pair $fromSrid->$toSrid (reference restricts srid to {4326,3857})")
    }

  /** [[transform]] applied to every coordinate of `g`, in place (P3). */
  def projectInPlace(g: org.locationtech.jts.geom.Geometry, fromSrid: Int, toSrid: Int): Unit = {
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      override def filter(c: org.locationtech.jts.geom.Coordinate): Unit = {
        val (x, y) = transform(c.x, c.y, fromSrid, toSrid)
        c.x = x; c.y = y
      }
    })
    g.geometryChanged()
  }
}
