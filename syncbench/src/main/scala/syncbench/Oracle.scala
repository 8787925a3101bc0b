package syncbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Row count plus an order-independent content digest (wrapping sum of
  * 64-bit row hashes). */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  /** Epoch microseconds of a `timestamp_ntz` value. */
  def micros(v: Any): Long = v match {
    case t: LocalDateTime => t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    case other => throw new IllegalArgumentException(s"not a timestamp_ntz value: $other")
  }

  /** 64-bit hash of one row's values, named column by column. */
  def rowHash(cols: Seq[String], values: Seq[Any]): Long = {
    var h = 0x5eedL
    var i = 0
    while (i < cols.length) {
      val c = cols(i)
      val v: Long = values(i) match {
        case null => 0x6e756c6cL
        case x if c == "ts" => micros(x)
        case x: Long => x
        case x: Int => x.toLong
        case x: Double => java.lang.Double.doubleToLongBits(x)
        case x: String =>
          (MurmurHash3.stringHash(x).toLong << 32) ^ (MurmurHash3.stringHash(x, 0x0dd).toLong & 0xffffffffL)
        case x => x.##.toLong
      }
      h = mix(mix(h ^ c.##) ^ v)
      i += 1
    }
    h
  }

  /** The 64-bit finalizer of MurmurHash3. */
  private def mix(x: Long): Long = {
    var z = x * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  def ofRows(cols: Seq[String], rows: Iterable[Row]): Digest =
    rows.foldLeft(Empty)((d, r) => d + Digest(1L, rowHash(cols, r.toSeq)))

  /** Digest of a whole frame, hashed on the executors. */
  def ofFrame(df: DataFrame): Digest = {
    val cols = df.columns.toSeq
    df.rdd.mapPartitions { it =>
      var d = Empty
      it.foreach(r => d = d + Digest(1L, rowHash(cols, r.toSeq)))
      Iterator(d)
    }.fold(Empty)(_ + _)
  }
}

/** A read the workloads issue; bounds are half-open [begin, end). */
sealed trait ReadOp { def kind: String }
object ReadOp {
  /** `getData` over a range, with optional `user_id` IN-list and
    * `event_type` equality params, projected to `select` (all if empty). */
  final case class Range(kind: String, begin: Option[LocalDateTime], end: Option[LocalDateTime],
                         select: Seq[String] = Nil, users: Seq[Int] = Nil,
                         eventType: Option[String] = None) extends ReadOp
  /** The newest `k` rows (`orderDesc` + `limit`). */
  final case class Newest(kind: String, k: Int) extends ReadOp
  /** Params-filtered `rowCount`. */
  final case class Count(kind: String, begin: Option[LocalDateTime], end: Option[LocalDateTime],
                         eventType: Option[String] = None) extends ReadOp
  /** Newest sync time. */
  final case class SyncTime(kind: String) extends ReadOp
}

/** Expected results in plain Spark, without graft. The expected table
  * after `n` batches is the latest version of each `event_id` among batches
  * `0 until n`; a read's expected result is a plain filter over it, and the
  * final-table check is the unbounded all-column read. One aggregation
  * picks, per `event_id`, the latest version below each checked `n`; a
  * second evaluates every range and count check as a conditional sum of
  * row hashes; newest-k checks take one sort each. */
object Oracle {
  /** Expected digest of each check, given as (batches fed, read). */
  def expect(spark: SparkSession, stream: EventStream,
             checks: IndexedSeq[(Int, ReadOp)]): IndexedSeq[Digest] = {
    val unique = checks.distinct
    val projections = (EventStream.Columns +: unique.collect {
      case (_, ReadOp.Range(_, _, _, sel, _, _)) if sel.nonEmpty => sel
    }).distinct
    def hashOf(names: Seq[String]) =
      udf((r: Row) => Digest.rowHash(names, r.toSeq)).apply(struct(names.map(col): _*))
    val feds = unique.map(_._1).distinct.sorted

    val versions = (0 until feds.last).map { i =>
      stream.batch(spark, i).select((Seq(col("event_id"), lit(i).as("batch"), col("ts"),
        col("user_id"), col("event_type")) ++
        projections.zipWithIndex.map { case (p, k) => hashOf(p).as(s"h$k") }): _*)
    }.reduce(_ union _)
    val fields = Seq("event_id", "ts", "user_id", "event_type") ++ projections.indices.map(k => s"h$k")
    // per event_id and checked state: the latest version below it
    val latest = versions.groupBy("event_id").agg(
      max_by(struct(fields.map(col): _*), when(col("batch") < lit(feds.head), col("batch"))).as(s"v${feds.head}"),
      feds.tail.map(f => max_by(struct(fields.map(col): _*),
        when(col("batch") < lit(f), col("batch"))).as(s"v$f")): _*).cache()

    def v(f: Int, c: String) = col(s"v$f.$c")
    def matches(f: Int, b: Option[LocalDateTime], e: Option[LocalDateTime], users: Seq[Int],
                et: Option[String]): Column =
      Seq(Some(col(s"v$f").isNotNull), b.map(v(f, "ts") >= lit(_)), e.map(v(f, "ts") < lit(_)),
        if (users.isEmpty) None else Some(v(f, "user_id").isin(users: _*)),
        et.map(v(f, "event_type") === _)).flatten.reduce(_ && _)
    def wrapped(x: Any): Long = if (x == null) 0L else x.asInstanceOf[java.math.BigDecimal].toBigInteger.longValue
    val sums = unique.flatMap {
      case (f, ReadOp.Range(_, b, e, sel, users, et)) =>
        val h = v(f, s"h${projections.indexOf(if (sel.isEmpty) EventStream.Columns else sel)}")
        val m = matches(f, b, e, users, et)
        Seq(count(when(m, 1)), sum(when(m, h.cast("decimal(38,0)"))))
      case (f, ReadOp.Count(_, b, e, et)) => Seq(count(when(matches(f, b, e, Nil, et), 1)))
      case (f, ReadOp.SyncTime(_)) => Seq(max(v(f, "ts")))
      case _ => Nil
    }
    val row = if (sums.isEmpty) Row() else latest.agg(sums.head, sums.tail: _*).head()
    var at = 0
    def next(): Any = { at += 1; row.get(at - 1) }
    val want = unique.map {
      case (_, _: ReadOp.Range) => Digest(next().asInstanceOf[Long], wrapped(next()))
      case (_, _: ReadOp.Count) => Digest(1L, next().asInstanceOf[Long])
      case (_, _: ReadOp.SyncTime) =>
        Digest(1L, Option(next()).map(Digest.micros).getOrElse(Long.MinValue))
      case (f, ReadOp.Newest(_, k)) =>
        latest.where(col(s"v$f").isNotNull).orderBy(v(f, "ts").desc, v(f, "event_id").desc)
          .limit(k).select(v(f, "h0")).collect()
          .foldLeft(Digest.Empty)((d, r) => d + Digest(1L, r.getLong(0)))
    }
    latest.unpersist()
    val index = unique.zip(want).toMap
    checks.map(index)
  }
}
