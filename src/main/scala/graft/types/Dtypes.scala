package graft.types

import org.apache.spark.sql.types._

/** Engine-level dtype vocabulary ⇄ Spark types.
  *
  * Mirrors the reference's canonical dtypes and aliases
  * (meerschaum/utils/dtypes/__init__.py:22-56 `MRSM_ALIAS_DTYPES` /
  * `MRSM_PD_DTYPES`), the fuzzy equivalence of `are_dtypes_equal`
  * (:134-247), and the int/float→numeric promotion the sync engine applies
  * on conflicting batches (meerschaum/connectors/sql/_pipes.py:3496-3834,
  * meerschaum/utils/dataframe.py:268-295).
  */
sealed trait MrsmType { def spark: DataType }

object MrsmType {
  case object MBool   extends MrsmType { val spark: DataType = BooleanType }
  case object MInt8   extends MrsmType { val spark: DataType = ByteType }
  case object MInt16  extends MrsmType { val spark: DataType = ShortType }
  case object MInt32  extends MrsmType { val spark: DataType = IntegerType }
  case object MInt64  extends MrsmType { val spark: DataType = LongType }
  case object MFloat  extends MrsmType { val spark: DataType = DoubleType }
  case object MStr    extends MrsmType { val spark: DataType = StringType }
  case object MDate   extends MrsmType { val spark: DataType = DateType }
  case object MBytes  extends MrsmType { val spark: DataType = BinaryType }
  /** Canonical UUID text (lowercase hyphenated). */
  case object MUuid   extends MrsmType { val spark: DataType = StringType }
  /** JSON rides as canonical text; callers use from_json for typed access. */
  case object MJson   extends MrsmType { val spark: DataType = StringType }
  /** WKB geometry; helpers in functions/. */
  case object MGeometry extends MrsmType { val spark: DataType = BinaryType }

  /** Exact decimal — default matches the reference's flavor ceiling. */
  final case class MNumeric(precision: Int = 38, scale: Int = 10) extends MrsmType {
    def spark: DataType = DecimalType(precision, scale)
  }

  /** Time axis. `tz=true` ⇒ instant semantics (TimestampType, UTC); naive ⇒
    * TimestampNTZType. An integer-epoch axis is MInt64 + Precision metadata
    * on the pipe, not a distinct dtype. */
  final case class MDatetime(tz: Boolean = true) extends MrsmType {
    def spark: DataType = if (tz) TimestampType else TimestampNTZType
  }
}

object Dtypes {
  import MrsmType._

  /** Parse a dtype string with the reference's aliases. */
  def parse(s: String): MrsmType = {
    val numericRe  = """(?i)numeric\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    val datetimeRe = """(?i)datetime(?:64)?\[(\w+)(?:,\s*(.+))?\]""".r
    val geometryRe = """(?i)(geometry|geography)\s*[\[(].*[\])]""".r
    s.trim match {
      case numericRe(p, sc)            => MNumeric(p.toInt, sc.toInt)
      case datetimeRe(_, tz)           => MDatetime(tz != null)
      case geometryRe(_)               => MGeometry // modifier via geometryTypeSrid
      case t => t.toLowerCase match {
        case "bool" | "boolean"                      => MBool
        case "int8" | "byte"                         => MInt8
        case "int16" | "short"                       => MInt16
        case "int32"                                 => MInt32
        case "int" | "int64" | "long" | "bigint"     => MInt64
        case "float" | "double" | "float64"          => MFloat
        case "str" | "string" | "text" | "object"    => MStr
        case "date"                                  => MDate
        case "bytes" | "binary" | "blob"             => MBytes
        case "uuid"                                  => MUuid
        case "json" | "dict" | "list"                => MJson
        case "numeric" | "decimal"                   => MNumeric()
        case "datetime" | "timestamp"                => MDatetime(tz = true)
        case "geometry" | "geography"                => MGeometry
        case other => throw new IllegalArgumentException(s"unknown dtype: $other")
      }
    }
  }

  /** Parse the `geometry[Type, SRID]` dtype modifier — the reference's
    * `get_geometry_type_srid` (utils/dtypes/__init__.py:1006-1093): parens
    * normalize to brackets (PostGIS syntax), parts split on commas and take
    * the value after any `=`, the SRID is the first integer or
    * `AUTHORITY:code` part, the geometry type the first remaining string
    * (normalized to canonical CamelCase). Returns (type, srid-as-string).
    *
    * {{{
    * geometryTypeSrid("geometry[Point, 0]")            == ("Point", "0")
    * geometryTypeSrid("geometry[0, Point]")            == ("Point", "0")
    * geometryTypeSrid("geography[POINT]")              == ("Point", "0")
    * geometryTypeSrid("geometry[POINT, ESRI:102003]")  == ("Point", "ESRI:102003")
    * geometryTypeSrid("geometry")                      == ("geometry", "0")
    * }}}
    */
  def geometryTypeSrid(dtype: String, defaultType: String = "geometry",
                       defaultSrid: String = "0"): (String, String) = {
    val canonical = Map(
      "point" -> "Point", "linestring" -> "LineString",
      "linearring" -> "LinearRing", "polygon" -> "Polygon",
      "multipoint" -> "MultiPoint", "multilinestring" -> "MultiLineString",
      "multipolygon" -> "MultiPolygon",
      "geometrycollection" -> "GeometryCollection")
    val norm = dtype.replace('(', '[').replace(')', ']')
    val bare = norm.split("\\[", 2)(0)
    val modifier = norm.drop(bare.length).stripPrefix("[").stripSuffix("]").trim
    if (modifier.isEmpty) return (defaultType, defaultSrid)
    val parts = modifier.split(",").toSeq
      .map(_.split("=").last.trim).filter(_.nonEmpty)
    def isInt(p: String) = p.matches("-?\\d+")
    val srid = parts.find(p => isInt(p) || p.contains(":")).getOrElse(defaultSrid)
    val gtype = parts.find(p => !isInt(p) && p != srid)
      .map(t => canonical.getOrElse(t.toLowerCase, t))
      .getOrElse(defaultType)
    (gtype, srid)
  }

  /** Numeric EPSG code of a parsed SRID string ("4326" or "EPSG:4326");
    * None for non-EPSG authorities (ESRI:…) — those have no closed-form
    * transform here and must not silently map to a wrong EPSG code. */
  def epsgCode(srid: String): Option[Int] = {
    val s = srid.trim
    if (s.matches("-?\\d+")) Some(s.toInt)
    else if (s.toUpperCase.startsWith("EPSG:")) Some(s.drop(5).trim.toInt)
    else None
  }

  /** Canonical string form, inverse of [[parse]]. */
  def format(t: MrsmType): String = t match {
    case MBool            => "bool"
    case MInt8            => "int8"
    case MInt16           => "int16"
    case MInt32           => "int32"
    case MInt64           => "int64"
    case MFloat           => "float"
    case MStr             => "str"
    case MDate            => "date"
    case MBytes           => "bytes"
    case MUuid            => "uuid"
    case MJson            => "json"
    case MGeometry        => "geometry"
    case MNumeric(p, s)   => s"numeric($p,$s)"
    case MDatetime(true)  => "datetime64[us, UTC]"
    case MDatetime(false) => "datetime64[us]"
  }

  def fromSpark(dt: DataType): MrsmType = dt match {
    case BooleanType         => MBool
    case ByteType            => MInt8
    case ShortType           => MInt16
    case IntegerType         => MInt32
    case LongType            => MInt64
    case FloatType | DoubleType => MFloat
    case StringType          => MStr
    case DateType            => MDate
    case BinaryType          => MBytes
    case d: DecimalType      => MNumeric(d.precision, d.scale)
    case TimestampType       => MDatetime(tz = true)
    case TimestampNTZType    => MDatetime(tz = false)
    case _                   => MStr // nested/unknown ride as JSON text
  }

  /** Fuzzy equality: collapses width/precision/tz so the sync engine avoids
    * casts that don't change semantics (reference `are_dtypes_equal`). */
  def areEqual(a: MrsmType, b: MrsmType): Boolean = (a, b) match {
    case (x, y) if x == y                   => true
    case (MInt8 | MInt16 | MInt32 | MInt64, MInt8 | MInt16 | MInt32 | MInt64) => true
    case (_: MNumeric, _: MNumeric)         => true
    case (_: MDatetime, _: MDatetime)       => true
    case (MUuid, MStr) | (MStr, MUuid)      => true
    case (MJson, MStr) | (MStr, MJson)      => true
    case _                                  => false
  }

  /** Promotion on schema conflict between batches: ints widen; int+float →
    * numeric when `mixedNumerics` (else float); anything incompatible → str.
    */
  def promote(a: MrsmType, b: MrsmType, mixedNumerics: Boolean = true): MrsmType = {
    def intRank(t: MrsmType): Option[Int] = t match {
      case MInt8 => Some(1); case MInt16 => Some(2); case MInt32 => Some(3)
      case MInt64 => Some(4); case _ => None
    }
    (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if intRank(x).isDefined && intRank(y).isDefined =>
        if (intRank(x).get >= intRank(y).get) x else y
      case (i, MFloat) if intRank(i).isDefined =>
        if (mixedNumerics) MNumeric() else MFloat
      case (MFloat, i) if intRank(i).isDefined =>
        if (mixedNumerics) MNumeric() else MFloat
      case (n: MNumeric, o) if intRank(o).isDefined || o == MFloat => n
      case (o, n: MNumeric) if intRank(o).isDefined || o == MFloat => n
      // two numerics WIDEN (max integral digits + max scale, capped at
      // Spark's 38) — falling through to MStr would silently turn a
      // decimal column into text on a precision mismatch
      case (MNumeric(p1, s1), MNumeric(p2, s2)) =>
        val s = math.max(s1, s2)
        val i = math.max(p1 - s1, p2 - s2)
        MNumeric(math.min(38, i + s), s)
      case (a: MDatetime, _: MDatetime) => a
      case (MUuid, MStr) | (MStr, MUuid) => MStr
      case (MJson, MStr) | (MStr, MJson) => MJson
      case _ => MStr
    }
  }
}
