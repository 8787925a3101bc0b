package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication with the reference's keep-latest semantics.
  *
  * Reference: `deduplicate_pipe` ranks duplicates with
  * `ROW_NUMBER() OVER (PARTITION BY dt, idx… ORDER BY dt DESC, idx…)` and
  * keeps row 1 (meerschaum/connectors/sql/_pipes.py:3888-4105); the driver
  * path does chunkwise `drop_duplicates(keep='last')`
  * (meerschaum/core/Pipe/_deduplicate.py:14-287).
  *
  * Scale: one hash shuffle on the key columns (identical cost to the groupBy
  * the reference's SQL backend performs); no global sort. For keyless exact
  * dedup use [[distinctRows]], which map-side combines before the shuffle.
  */
object Dedup {

  /** Keep exactly one row per key, the first by `orderBy` columns descending
    * (ties broken by the order columns themselves — pass a unique column last
    * for full determinism).
    */
  def keepLatest(df: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Keep-latest as an AGGREGATE instead of a window rank: max of
    * (orderBy…, full row) per key. Same winner as [[keepLatest]] under a
    * total order, with deterministic whole-row tie-breaks — but partial
    * aggregation combines map-side, so a hot key reaches the reducer as one
    * row per map task instead of its full row set. The max-struct buffer
    * holds strings, which a hash aggregate's fixed-width buffer cannot, so
    * Spark plans it as a `SortAggregate`: each side sorts by the keys
    * (`SortAggregate(key=[k], functions=[max(struct(…, __row))])`). The
    * skew-proof form for dedup at 100 TB; the window form remains for rank
    * semantics beyond top-1. */
  def keepOnePerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[String]): DataFrame = {
    val best = struct((orderBy.map(col) :+
      struct(df.columns.map(col).toIndexedSeq: _*).as("__row")): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max(best).as("__best"))
      .select(col("__best.__row.*"))
  }

  /** Exact whole-row dedup (hash aggregate, partial-agg before shuffle). */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Duplicate count per key — the reference reports how many rows
    * deduplication would remove before doing it. */
  def duplicateCounts(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .where(col("dup_count") > 1)
}
