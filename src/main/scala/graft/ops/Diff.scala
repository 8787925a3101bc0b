package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The incremental-sync delta algebra: full-row diff and unseen/update split.
  *
  * Re-expresses the reference's pandas diff engine
  * (`filter_unseen_df`, meerschaum/utils/dataframe.py:83-444 and
  * `filter_existing`, meerschaum/core/Pipe/_sync.py:665-1008) as Catalyst
  * joins:
  *
  *   - delta   = incoming rows whose FULL canonical row is not present in the
  *               backtrack window of the target (null-safe, all columns);
  *   - unseen  = delta rows whose KEY is not present in the target  → INSERT;
  *   - update  = delta rows whose key IS present (values changed)   → UPDATE.
  *
  * Scale notes: the full-row diff joins on a single 256-bit canonical row
  * hash instead of a multi-column `<=>` condition — one narrow shuffle key,
  * map-side-prunable, and the backtrack side is bounded by the sync window so
  * it is broadcast-able in the common case. Key joins use null-safe equality
  * (`<=>`) only when the pipe declares nullable indices, since `<=>` keys
  * defeat some join optimizations.
  */
object Diff {

  /** Strings the reference treats as NA markers in object columns
    * (meerschaum/utils/dataframe.py:363-366). */
  private val NaStrings = Seq("none", "nan", "na", "nat", "<NA>", "None", "NaN", "NaT")

  /** Canonicalize string columns: NA-marker strings → real NULL, so the diff
    * hash agrees across sources that serialize missing values differently. */
  def canonicalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          when(col(f.name).isin(NaStrings: _*), lit(null: String))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Canonical full-row hash over the given columns (sorted by name so column
    * order never changes the hash). `to_json` gives a deterministic text form
    * that distinguishes NULL (absent key) from empty string, serializes
    * timestamps/decimals/binary canonically, and stays inside whole-stage
    * codegen. 256-bit output keeps collision probability negligible at
    * 100 TB row counts (vs. 64-bit hash(), which would collide at billions
    * of rows).
    */
  def rowHash(columns: Seq[String]): Column =
    sha2(to_json(struct(columns.sorted.map(col): _*)), 256)

  /** 64-bit variant over the same canonical text form — for per-window
    * content SIGNATURES (XOR-aggregated), where 64 bits per row is the
    * right size and sha-256 would be wasted scan cost. Not for the delta
    * join, which keeps the 256-bit key. */
  def rowHash64(columns: Seq[String]): Column =
    xxhash64(to_json(struct(columns.sorted.map(col): _*)))

  /** Rows of `incoming` whose full row does not appear in `existing`
    * (the reference's `filter_unseen_df`). Columns compared = intersection,
    * as in the reference. */
  def filterUnseen(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val common = incoming.columns.filter(existing.columns.contains(_)).toSeq
    if (common.isEmpty) incoming
    else {
      val in  = canonicalize(incoming).withColumn("__graft_hash", rowHash(common))
      val ex  = canonicalize(existing.select(common.map(col): _*))
        .select(rowHash(common).as("__graft_hash")).distinct()
      in.join(ex, Seq("__graft_hash"), "left_anti").drop("__graft_hash")
    }
  }

  /** The backtrack side's key columns are ALIASED (`__graft_bk_*`) before the
    * join: incoming and backtrack routinely share lineage (both read the same
    * scan), and a same-attribute `===` leans on Spark's self-join
    * auto-disambiguation — one rewrite away from a trivially-true predicate
    * (Spark warns on exactly this construction). */
  private def bkName(k: String): String = s"__graft_bk_$k"

  /** The backtrack keys are CANONICALIZED before comparison, mirroring
    * [[filterUnseen]]'s both-sides normalization (the reference's
    * `filter_unseen_df` normalizes both frames): the batch side arrives
    * canonicalized, so a stored NA-marker key ("NaN") must read as NULL
    * here too or the same key would tag as unseen and append a duplicate. */
  private def bkKeys(backtrack: DataFrame, keys: Seq[String]): DataFrame =
    canonicalize(backtrack.select(keys.map(col): _*))
      .select(keys.map(k => col(k).as(bkName(k))): _*).distinct()

  /** [[bkKeys]] plus, per key, the set of `location` values of its rows
    * (a file URI is never an NA marker, so canonicalizing it is inert). */
  private def bkKeysLocated(backtrack: DataFrame, keys: Seq[String],
                            location: String): DataFrame =
    canonicalize(backtrack.select((keys :+ location).map(col): _*))
      .groupBy(keys.map(k => col(k).as(bkName(k))): _*)
      .agg(collect_set(col(location)).as(location))

  private def keyCondition(l: DataFrame, r: DataFrame, keys: Seq[String],
                           nullSafe: Boolean): Column =
    keys.map { k =>
      if (nullSafe) l(k) <=> r(bkName(k)) else l(k) === r(bkName(k))
    }.reduce(_ && _)

  /** Split a delta into (unseen → insert, update → modify) on the pipe's
    * index columns (reference `filter_existing`). `backtrack` is the slice of
    * the target inside the sync window — small relative to the target, so the
    * planner will usually broadcast it.
    */
  def unseenUpdateSplit(delta: DataFrame, backtrack: DataFrame, keys: Seq[String],
                        nullSafe: Boolean = false): (DataFrame, DataFrame) = {
    val bt = bkKeys(backtrack, keys)
    val unseen = delta.join(bt, keyCondition(delta, bt, keys, nullSafe), "left_anti")
    val update = delta.join(bt, keyCondition(delta, bt, keys, nullSafe), "left_semi")
    (unseen, update)
  }

  /** Diff incoming against the backtrack window and TAG each delta row with
    * a boolean `flag` column: true = key exists in the target (update),
    * false = unseen (insert). One left join instead of an anti + a semi —
    * callers get both halves and their counts from a single cached plan,
    * which halves the job count of a sync (the reference pays the same
    * split as two pandas merges; we pay one).
    *
    * `location` names a column of `backtrack` that says where each stored
    * row lives (a file). The output then carries that column as the array
    * of locations of the row's key in the backtrack (null for unseen
    * rows), so the apply can rewrite exactly the files holding updated
    * keys. */
  def tagExisting(incoming: DataFrame, backtrack: DataFrame, keys: Seq[String],
                  nullSafe: Boolean = false,
                  flag: String = "__graft_update",
                  salt: Int = 1,
                  location: Option[String] = None): DataFrame = {
    val delta0 = filterUnseen(backtrack, incoming)
    // salt > 1 spreads a hot key over `salt` reducer partitions (pipes can
    // opt in via extras.skew_salt): the backtrack key set replicates salt×
    // — it is bounded by the sync window, so replication is the cheap side
    // — and each delta row joins exactly one replica. AQE's skew handling
    // only rebalances sort-merge joins; this covers the hash-join path too.
    val delta = if (salt > 1)
      delta0.withColumn("__graft_salt", floor(rand(42) * salt).cast("int"))
    else delta0
    val bt0 = location.map(bkKeysLocated(backtrack, keys, _)).getOrElse(bkKeys(backtrack, keys))
      .withColumn("__graft_seen", lit(1))
    val bt = if (salt > 1)
      bt0.withColumn("__graft_bk_salt",
        explode(sequence(lit(0), lit(salt - 1)).cast("array<int>")))
    else bt0
    val base = keyCondition(delta, bt, keys, nullSafe)
    val cond = if (salt > 1)
      base && delta("__graft_salt") === bt("__graft_bk_salt")
    else base
    val j = delta.join(bt, cond, "left")
    j.select((delta0.columns.map(c => delta(c)).toIndexedSeq :+
      bt("__graft_seen").isNotNull.as(flag)) ++ location.map(l => bt(l).as(l)): _*)
  }

  /** One-shot: diff incoming against the backtrack window and split.
    * Returns (unseen, update). */
  def filterExisting(incoming: DataFrame, backtrack: DataFrame, keys: Seq[String],
                     nullSafe: Boolean = false): (DataFrame, DataFrame) = {
    val tagged = tagExisting(incoming, backtrack, keys, nullSafe)
    (tagged.where(!col("__graft_update")).drop("__graft_update"),
     tagged.where(col("__graft_update")).drop("__graft_update"))
  }
}
