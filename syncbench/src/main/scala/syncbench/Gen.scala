package syncbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded `events` stream, cut into diff-sync batches.
  *
  * Row `n` of the stream is a pure function of (seed, n): `event_id` is
  * `idBase + n`, `ts` is `t0 + 6 s·n` plus a jitter below 6 s (so `ts` is
  * strictly increasing), and the other columns come from `xxhash64` of
  * (seed, n, salt). Batch 0 holds `batchRows` new rows; every later batch
  * re-sends the previous batch's last `resent` rows (the backtrack window)
  * followed by `batchRows - resent` new rows. Exactly half of the re-sent
  * rows carry version 1, which changes `value` and nothing else; every
  * other row is version 0. A row is re-sent at most once.
  *
  * The stream starts on March 1st at a seeded hour of a seeded year: the
  * seed changes the rows but not where the monthly storage chunks cut the
  * batches, which sets how much each chunk-scoped rewrite costs. */
final class EventStream(val seed: Long, val batchRows: Int) {
  require(batchRows >= 20, "batches must be big enough to re-send 10%")

  /** Rows each later batch re-sends (10%); even, so "half changed" is exact. */
  val resent: Int = math.max(2, (math.round(batchRows * 0.10 / 2) * 2).toInt)
  private val fresh = batchRows - resent

  private val rnd = new scala.util.Random(seed)
  val idBase: Long = 1000000000000L * (1 + rnd.nextInt(900))
  val t0: LocalDateTime = LocalDateTime.of(2021 + rnd.nextInt(4), 3, 1, rnd.nextInt(24), 0)
  private val t0Ms = t0.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
  private val parity = rnd.nextInt(2)

  /** First stream index that is new in batch `i`. */
  def firstNew(i: Int): Long = if (i == 0) 0L else batchRows.toLong + (i - 1).toLong * fresh
  /** Stream rows after batch `i`: [0, end(i)). */
  def end(i: Int): Long = firstNew(i) + (if (i == 0) batchRows else fresh)
  /** Stream index range of batch `i`: [lo, hi). */
  def range(i: Int): (Long, Long) = (if (i == 0) 0L else firstNew(i) - resent, end(i))
  def resentIn(i: Int): Int = if (i == 0) 0 else resent
  def changedIn(i: Int): Int = resentIn(i) / 2
  /** Rows the engine should insert / update when batch `i` is synced. */
  def expectInserted(i: Int): Long = end(i) - firstNew(i)
  def expectUpdated(i: Int): Long = changedIn(i).toLong

  /** Timestamp of row `n` without its jitter, for choosing read bounds. */
  def tsOf(n: Long): LocalDateTime = t0.plusSeconds(6L * n)

  private def h(salt: Int): Column = xxhash64(lit(seed), col("n"), lit(salt))
  private def pick(salt: Int, m: Int): Column = pmod(h(salt), lit(m.toLong))

  /** Batch `i` as a lazy frame over `spark.range`. */
  def batch(spark: SparkSession, i: Int): DataFrame = {
    val (lo, hi) = range(i)
    val n = col("n")
    val first = firstNew(i)
    val ver =
      if (i == 0) lit(0)
      else when(n < lit(first) && pmod(n + lit(i + parity), lit(2L)) === 0, 1).otherwise(0)
    spark.range(lo, hi).toDF("n").select(
      (lit(idBase) + n).as("event_id"),
      timestamp_millis(lit(t0Ms) + n * 6000L + pick(1, 6000))
        .cast("timestamp_ntz").as("ts"),
      pick(2, EventStream.Users).cast("int").as("user_id"),
      element_at(typedLit(EventStream.TypeWheel), pick(3, EventStream.TypeWheel.length)
        .cast("int") + 1).as("event_type"),
      (pick(4, 100000).cast("double") / 100.0 + ver.cast("double") * 1000.0).as("value"),
      format_string("{\"page\":\"/p/%d\",\"ab\":\"%s\"}", pick(5, 500),
        when(pick(6, 2) === 0, "a").otherwise("b")).as("props"))
  }
}

object EventStream {
  val Users = 20000
  /** Skewed event-type draw: 16 slots over 6 types. */
  val TypeWheel: Seq[String] = Seq("view", "view", "view", "view", "view", "view",
    "click", "click", "click", "click", "scroll", "scroll", "cart", "cart",
    "purchase", "signup")
  val Types: Seq[String] = TypeWheel.distinct
  val Columns: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
}
