package graft.sources.geo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Loaders turning polygon reference data into the canonical polys frame
  * `(priority, name, sub_region, lat_min, lat_max, lon_min, lon_max,
  * ring)` consumed by `Geo.classifyByPolygonTable` — `ring` is the outer
  * ring as interleaved [lat, lon, ...].
  *
  * Reference counterparts: the SeaVox PostGIS table read over JDBC
  * (`/root/reference/src/main.py:527-533`) and the Natural Earth land
  * shapefile (`src/main.py:577-592`). Reference data is small: loaded on
  * the driver, broadcast at classify time. Priority = row order (most
  * specific first — "lowest level found" SeaVox semantics).
  */
object PolygonTable {

  val schema: StructType = StructType(Seq(
    StructField("priority", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("sub_region", StringType),
    StructField("lat_min", DoubleType, nullable = false),
    StructField("lat_max", DoubleType, nullable = false),
    StructField("lon_min", DoubleType, nullable = false),
    StructField("lon_max", DoubleType, nullable = false),
    StructField("ring", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Parse a WKT `POLYGON ((lon lat, lon lat, ...))` outer ring into
    * interleaved [lat, lon, ...] (WKT lists x=lon first; holes and
    * additional rings ignored — the containment test uses the shell).
    * This is the string `ST_AsText(geom)` hands back over JDBC.
    */
  def parseWktPolygonRing(wkt: String): Array[Double] = {
    val t = wkt.trim
    require(t.toUpperCase.startsWith("POLYGON"), s"not a WKT POLYGON: ${t.take(30)}")
    val open = t.indexOf("((")
    require(open >= 0, s"malformed WKT: ${t.take(30)}")
    val close = t.indexOf(')', open + 2) // end of the first (outer) ring
    val pairs = t.substring(open + 2, close).split(",").map(_.trim).filter(_.nonEmpty)
    pairs.flatMap { p =>
      val xy = p.split("\\s+")
      Array(xy(1).toDouble, xy(0).toDouble) // (lat, lon)
    }
  }

  /** Build the polys frame from (name, subRegion, outer ring) triples. */
  def fromRings(spark: SparkSession,
                polys: Seq[(String, String, Array[Double])]): DataFrame = {
    val rows = polys.zipWithIndex.map { case ((name, sub, ring), i) =>
      val (latMin, latMax, lonMin, lonMax) = graft.ops.Geo.ringBbox(ring)
      Row(i, name, sub, latMin, latMax, lonMin, lonMax, ring.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** From any frame carrying WKT geometry — e.g.
    * `spark.read.jdbc(url, "(SELECT name, sub_region, ST_AsText(geom) wkt
    * FROM seavox) t", props)`. Collected driver-side (reference data),
    * parsed, re-emitted as the canonical polys frame.
    */
  def fromWkt(df: DataFrame, nameCol: String, subCol: String,
              wktCol: String): DataFrame = {
    val rows = df.select(nameCol, subCol, wktCol).collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), parseWktPolygonRing(r.getString(2)))
    }
    fromRings(df.sparkSession, rows)
  }

  /** Live JDBC transport for the SeaVox polygon source (reference reads
    * the PostGIS `seavox_areas` table directly,
    * `/root/reference/src/main.py:527-533`). `query` must yield one row
    * per polygon with name / sub-region / WKT-text geometry columns —
    * against PostGIS that is
    * `SELECT name, sub_region, ST_AsText(geom) AS wkt FROM seavox`.
    * Reference data is tiny (hundreds of polygons): Spark's JDBC source
    * reads it in one partition, and [[fromWkt]] collects and re-emits it
    * as the canonical driver-side polys frame that
    * `Geo.classifyByPolygonTable` broadcasts — the observation side never
    * moves.
    */
  def fromJdbc(spark: SparkSession, url: String, query: String,
               nameCol: String, subCol: String, wktCol: String,
               props: java.util.Properties = new java.util.Properties): DataFrame =
    fromWkt(
      spark.read.format("jdbc")
        .option("url", url)
        .option("query", query)
        .options(props.stringPropertyNames().toArray.map(_.toString)
          .map(k => k -> props.getProperty(k)).toMap)
        .load(),
      nameCol, subCol, wktCol)

  /** From an ESRI shapefile + companion .dbf attribute file (e.g. Natural
    * Earth 10m land): one entry per polygon record, named from
    * `nameField`; `subField` optional (empty string when absent).
    */
  def fromShapefile(spark: SparkSession, shpPath: String, dbfPath: String,
                    nameField: String, subField: Option[String] = None): DataFrame = {
    val shapes = ShapefileReader.readShp(shpPath)
    val names = ShapefileReader.readDbfStrings(dbfPath, nameField)
    val subs = subField.map(f => ShapefileReader.readDbfStrings(dbfPath, f))
      .getOrElse(Seq.fill(shapes.length)(""))
    require(names.length == shapes.length,
      s"dbf/shp record mismatch: ${names.length} names, ${shapes.length} shapes")
    fromRings(spark, shapes.lazyZip(names).lazyZip(subs).map {
      (s, n, sub) => (n, sub, s.outerRing)
    }.toSeq)
  }
}
