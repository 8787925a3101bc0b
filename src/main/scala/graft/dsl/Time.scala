package graft.dsl

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-axis helpers: half-open bounds, epoch-aligned chunk grids, rounding.
  *
  * Mirrors the reference's begin-inclusive / end-exclusive convention
  * (meerschaum/connectors/sql/_pipes.py:1479-1502) and the chunk-bound grid
  * used for verification / partitioning / parallel sync
  * (meerschaum/core/Pipe/_data.py:728-883).
  *
  * Bounds are plain Catalyst predicates so they prune parquet row groups and
  * partitions; the chunk grid exists for maintenance jobs (verify, backfill,
  * partition-overwrite) where work is dispatched per time window.
  */
object TimeBounds {

  /** begin inclusive, end exclusive; either side optional. Literals are
    * emitted timezone-naive (UTC instant) to match the NTZ time axis. */
  def predicate(dtCol: String, begin: Option[Instant], end: Option[Instant]): Column = {
    def l(ts: Instant) = lit(java.time.LocalDateTime.ofInstant(ts, java.time.ZoneOffset.UTC))
    val b = begin.map(ts => col(dtCol) >= l(ts)).getOrElse(lit(true))
    val e = end.map(ts => col(dtCol) < l(ts)).getOrElse(lit(true))
    b && e
  }

  def apply(df: DataFrame, dtCol: String, begin: Option[Instant], end: Option[Instant]): DataFrame =
    df.where(predicate(dtCol, begin, end))
}

/** Integer-epoch datetime axes with a precision unit — the reference treats
  * an int axis as an epoch at `precision.unit`
  * (meerschaum/utils/dtypes/__init__.py:58-89,
  * core/Pipe/_attributes.py:1138-1236). All bound/backtrack/chunk math then
  * happens in axis units, so an epoch-second pipe syncs with the same engine
  * paths as a timestamp pipe.
  */
object EpochAxis {
  /** Axis units per minute, keyed by precision unit name. */
  val unitsPerMinute: Map[String, Long] = Map(
    "day"         -> 0L, // sub-minute: a 1-minute pad rounds up to 1 day below
    "hour"        -> 0L,
    "minute"      -> 1L,
    "second"      -> 60L,
    "millisecond" -> 60L * 1000,
    "microsecond" -> 60L * 1000 * 1000,
    "nanosecond"  -> 60L * 1000 * 1000 * 1000)

  require(unitsPerMinute.nonEmpty)

  /** A wall-clock instant expressed in axis units since the epoch —
    * drives autotime stamping on integer axes. */
  def toUnits(t: java.time.LocalDateTime, unit: String): Long = {
    val inst = t.toInstant(java.time.ZoneOffset.UTC)
    unit.toLowerCase match {
      case "day"         => Math.floorDiv(inst.getEpochSecond, 86400L)
      case "hour"        => Math.floorDiv(inst.getEpochSecond, 3600L)
      case "minute"      => Math.floorDiv(inst.getEpochSecond, 60L)
      case "second"      => inst.getEpochSecond
      case "millisecond" => inst.toEpochMilli
      case "microsecond" => inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      case "nanosecond"  => inst.getEpochSecond * 1000000000L + inst.getNano
      case other => throw new IllegalArgumentException(s"unknown epoch unit: '$other'")
    }
  }

  /** Round an axis value to an interval multiple per a [[Precision]]'s mode
    * (epoch-axis twin of [[RoundTime.roundTo]]; the unit is the AXIS unit, so
    * only the interval and mode of `p` apply). */
  def roundUnits(v: Long, p: Precision): Long = {
    val iv = p.interval
    if (iv <= 1) v
    else {
      val down = Math.floorDiv(v, iv) * iv
      p.roundTo match {
        case "down"    => down
        case "up"      => if (v == down) v else down + iv
        case "closest" => if (v - down < down + iv - v) down else down + iv
      }
    }
  }

  /** `minutes` expressed in axis units, rounded UP (ceiling) to ≥1 for a
    * positive input so a pad or chunk width never collapses to zero — and
    * never silently NARROWS: a 90-minute backtrack on an hour axis must
    * cover 2 hours, not 1, or late rows in the uncovered half-hour are
    * permanently skipped. A zero input stays zero (an explicit "no pad"
    * must not become one unit). */
  def unitsForMinutes(unit: String, minutes: Long): Long = {
    val scale = unitsPerMinute.getOrElse(unit.toLowerCase,
      throw new IllegalArgumentException(s"unknown epoch unit: '$unit'"))
    if (minutes <= 0) 0L
    else unit.toLowerCase match {
      case "hour" => (minutes + 59) / 60
      case "day"  => (minutes + 1439) / 1440
      case _      => math.max(1L, minutes * scale)
    }
  }
}

object ChunkGrid {

  /** Epoch-aligned chunk bounds: when `align`, the grid starts at
    * floor(begin / interval) * interval so chunk boundaries are stable across
    * runs regardless of the queried range (reference `get_chunk_bounds`,
    * meerschaum/core/Pipe/_data.py:728-883). Returns half-open [b, e) pairs
    * covering [begin, end).
    */
  def bounds(begin: Instant, end: Instant, interval: java.time.Duration,
             align: Boolean = true): Seq[(Instant, Instant)] = {
    require(!interval.isZero && !interval.isNegative, "chunk interval must be positive")
    val stepMs  = interval.toMillis
    val beginMs = begin.toEpochMilli
    val endMs   = end.toEpochMilli
    val startMs = if (align) Math.floorDiv(beginMs, stepMs) * stepMs else beginMs
    Iterator.iterate(startMs)(_ + stepMs)
      .takeWhile(_ < endMs)
      .map { b =>
        val lo = math.max(b, beginMs)
        val hi = math.min(b + stepMs, endMs)
        (Instant.ofEpochMilli(lo), Instant.ofEpochMilli(hi))
      }
      .toSeq
  }
}

/** Time-axis precision: unit + interval multiple + rounding mode — the
  * reference's `precision` pipe parameter driving `get_current_timestamp`
  * (meerschaum/utils/dtypes/__init__.py:1138-1236). A pipe with
  * `Precision("minute", 5, "down")` stamps ingest times aligned to 5-minute
  * boundaries. `roundTo` ∈ down | up | closest. */
final case class Precision(unit: String = "minute", interval: Long = 1,
                           roundTo: String = "down") {
  require(interval >= 1, "precision interval must be >= 1")
  require(Set("down", "up", "closest")(roundTo), s"unknown roundTo: $roundTo")
}

object RoundTime {
  /** Round a timestamp down to a unit — reference `round_time`
    * (meerschaum/utils/dtypes/__init__.py:1333-1409). Units as accepted by
    * Spark's `date_trunc`.
    */
  def floor(c: Column, unit: String): Column = date_trunc(unit, c)

  /** Round UP to the unit boundary (exact boundaries stay put) —
    * reference `round_time(..., to='up')`. */
  def ceil(c: Column, unit: String): Column = {
    val f = date_trunc(unit, c)
    when(f === c, c).otherwise(f + expr(s"INTERVAL 1 ${intervalUnit(unit)}"))
  }

  /** Round to the CLOSEST unit boundary, ties up —
    * reference `round_time(..., to='closest')`. */
  def closest(c: Column, unit: String): Column = {
    import org.apache.spark.sql.types.TimestampType
    val f  = date_trunc(unit, c)
    val up = ceil(c, unit)
    val toFloor = unix_micros(c.cast(TimestampType)) - unix_micros(f.cast(TimestampType))
    val toCeil  = unix_micros(up.cast(TimestampType)) - unix_micros(c.cast(TimestampType))
    when(toFloor < toCeil, f).otherwise(up)
  }

  /** Microseconds per fixed-width unit (calendar units like month/year have
    * no fixed width and only support interval = 1 via [[floor]]/[[ceil]]). */
  private def microsPer(unit: String): Long = unit.toLowerCase match {
    case "second" => 1000000L
    case "minute" => 60L * 1000000
    case "hour"   => 3600L * 1000000
    case "day"    => 86400L * 1000000
    case other => throw new IllegalArgumentException(
      s"interval rounding needs a fixed-width unit, got: $other")
  }

  private def toStep(c: Column, unit: String, interval: Long) =
    (unix_micros(c.cast(org.apache.spark.sql.types.TimestampType)),
     lit(microsPer(unit) * interval))

  /** Round down to an INTERVAL MULTIPLE of a unit (e.g. 5 minutes), anchored
    * at the epoch. `interval = 1` delegates to [[floor]], which also accepts
    * calendar units. */
  def floorInterval(c: Column, unit: String, interval: Long): Column =
    if (interval <= 1) floor(c, unit)
    else { val (us, step) = toStep(c, unit, interval)
           timestamp_micros(us - pmod(us, step)) }

  /** Round up to an interval multiple (exact boundaries stay put). */
  def ceilInterval(c: Column, unit: String, interval: Long): Column =
    if (interval <= 1) ceil(c, unit)
    else { val (us, step) = toStep(c, unit, interval)
           timestamp_micros(when(pmod(us, step) === 0, us)
             .otherwise(us - pmod(us, step) + step)) }

  /** Round to the closest interval boundary, ties up. */
  def closestInterval(c: Column, unit: String, interval: Long): Column =
    if (interval <= 1) closest(c, unit)
    else { val (us, step) = toStep(c, unit, interval)
           val down = us - pmod(us, step)
           timestamp_micros(when(us - down < down + step - us, down)
             .otherwise(down + step)) }

  /** Apply a [[Precision]]'s rounding mode. */
  def roundTo(c: Column, p: Precision): Column = p.roundTo match {
    case "down"    => floorInterval(c, p.unit, p.interval)
    case "up"      => ceilInterval(c, p.unit, p.interval)
    case "closest" => closestInterval(c, p.unit, p.interval)
  }

  private def intervalUnit(dateTruncUnit: String): String =
    dateTruncUnit.toLowerCase match {
      case "hour" | "minute" | "second" | "day" | "week" | "month" | "year" =>
        dateTruncUnit.toUpperCase
      case "dd"   => "DAY"
      case "hh"   => "HOUR"
      case "mm" | "mon" => "MONTH"
      case other  => throw new IllegalArgumentException(s"unsupported round unit: $other")
    }

  /** Epoch conversion at microsecond precision — reference `datetime_to_int`
    * (meerschaum/utils/dtypes/__init__.py:1094). Matches DuckDB `epoch_us`.
    * NTZ columns are interpreted as UTC (identity under the pinned session
    * zone). */
  def epochMicros(c: Column): Column =
    unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
}

/** Timezone coercion — the reference's `coerce_timezone`
  * (meerschaum/utils/dtypes/__init__.py:601-657): UTC is canonical; aware
  * values strip to UTC wall time, naive values are interpreted in a stated
  * zone. The session zone is pinned to UTC, so instant⇄NTZ casts are exact.
  */
object CoerceTz {
  import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

  /** Instant (TimestampType) → naive UTC wall time (TimestampNTZ). */
  def stripToUtcNaive(c: Column): Column = c.cast(TimestampNTZType)

  /** Naive wall time in `tz` → instant: reinterpret then convert. */
  def assumeZone(c: Column, tz: String): Column =
    convert_timezone(lit(tz), lit("UTC"), c.cast(TimestampNTZType)).cast(TimestampType)

  /** Move a naive wall time between zones (convert_timezone passthrough). */
  def convertNaive(c: Column, from: String, to: String): Column =
    convert_timezone(lit(from), lit(to), c.cast(TimestampNTZType))
}
