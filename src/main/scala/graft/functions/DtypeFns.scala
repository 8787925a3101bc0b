package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.types.GeoWkb

/** Canonicalizers for the special dtypes — the reference's serialization kit
  * (meerschaum/utils/dtypes/__init__.py: uuid :317-348, bytes :790-935,
  * geometry :349-518) used on ingest/egress and for diff hashing.
  *
  * uuid/bytes stay pure Catalyst expressions. The WKT⇄WKB codecs are scalar
  * UDFs over [[GeoWkb]] — a deliberate exception to the no-UDF rule: they
  * run once per geometry value at the ingest/egress boundary (the reference
  * pays a shapely call in the same place), never inside joins or
  * aggregations.
  */
object DtypeFns {

  private val Hyphenated = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
  private val Bare       = "^[0-9a-f]{32}$"

  /** Canonical UUID text: lowercase, hyphenated 8-4-4-4-12. Accepts
    * hyphenated or bare 32-hex input in any case; anything else → NULL
    * (reference `attempt_cast_to_uuid`). */
  def uuidCanonical(c: Column): Column = {
    val t = lower(trim(c))
    when(t.rlike(Hyphenated), t)
      .when(t.rlike(Bare), concat_ws("-",
        substring(t, 1, 8), substring(t, 9, 4), substring(t, 13, 4),
        substring(t, 17, 4), substring(t, 21, 12)))
      .otherwise(lit(null).cast("string"))
  }

  /** bytes → base64 text (reference `serialize_bytes`). */
  def bytesToBase64(c: Column): Column = base64(c)

  /** base64 text → bytes (reference `deserialize_bytes_string`). */
  def base64ToBytes(c: Column): Column = unbase64(c)

  /** bytes → lowercase hex text. */
  def bytesToHex(c: Column): Column = lower(hex(c))

  /** hex text → bytes. */
  def hexToBytes(c: Column): Column = unhex(c)

  /** WKT text → WKB bytes. */
  val wktToWkb = udf((wkt: String) =>
    Option(wkt).map(GeoWkb.wktToWkb).orNull)

  /** WKB bytes → WKT text. */
  val wkbToWkt = udf((wkb: Array[Byte]) =>
    Option(wkb).map(GeoWkb.wkbToWkt).orNull)

  /** GeoPackage blob → plain WKB (non-GPKG bytes pass through). */
  val gpkgToWkb = udf((b: Array[Byte]) =>
    Option(b).map(GeoWkb.gpkgToWkb).orNull)

  /** GeoPackage blob → its SRID (null when not a GPKG blob). */
  val gpkgSrid = udf((b: Array[Byte]) =>
    Option(b).flatMap(GeoWkb.gpkgSrid).map(Integer.valueOf).orNull)

  /** Reproject WKB between SRIDs (4326 ⇄ 3857 closed-form; the reference's
    * `project_geometry`, utils/dtypes/__init__.py:874-881). SRIDs bind at
    * plan time — they come from the pipe's dtype modifier, not the data.
    * UDF instances cache per SRID pair (matching the file's shared-`val`
    * convention) so repeated references share one closure. */
  private val projUdfs = scala.collection.concurrent.TrieMap
    .empty[(Int, Int), org.apache.spark.sql.expressions.UserDefinedFunction]
  def projectWkb(c: Column, fromSrid: Int, toSrid: Int): Column = {
    val f = projUdfs.getOrElseUpdate((fromSrid, toSrid),
      udf((b: Array[Byte]) =>
        Option(b).map(GeoWkb.projectWkb(_, fromSrid, toSrid)).orNull))
    f(c)
  }
}
