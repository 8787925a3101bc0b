package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.PipeSpec

/** In-memory [[InstanceStore]] — the engine's second backend, proving the
  * instance-connector seam holds (the reference's ValkeyConnector plays
  * this role against SQLConnector: connectors/valkey/_pipes.py:37-139
  * implements the same interface over a KV store). Tables live as eagerly
  * materialized (localCheckpointed) DataFrames in a process-wide registry
  * keyed by (root, target) — two handles on the same root see the same
  * data, mirroring filesystem semantics. Purely for tests/ephemeral
  * pipelines: no chunk layout, no crash persistence; every write rewrites
  * the (small) table. Replaced checkpoint blocks free via ContextCleaner
  * on GC.
  */
final class MemoryStore(spark: SparkSession, root: String, val spec: PipeSpec)
    extends InstanceStore {

  private def key = (root, spec.targetName)
  private def state = MemoryStore.tables.getOrElseUpdate(key, new MemoryStore.State)
  private def dtCol: Option[String] = spec.columns.datetime

  private def put(df: DataFrame): Unit =
    state.synchronized { state.df = Some(df.localCheckpoint(true)) }

  override def exists: Boolean = state.df.isDefined

  override def read: DataFrame =
    state.df.getOrElse(
      throw new IllegalArgumentException(s"pipe ${spec.targetName} does not exist"))

  override def readRange(begin: Option[Any], end: Option[Any],
                         endInclusive: Boolean): DataFrame = {
    val dt = dtCol.getOrElse {
      require(begin.isEmpty && end.isEmpty,
        s"pipe ${spec.targetName} has no datetime axis; bounded reads are undefined")
      return read
    }
    var df = read
    begin.foreach(b => df = df.where(col(dt) >= lit(b)))
    end.foreach(e => df = df.where(if (endInclusive) col(dt) <= lit(e) else col(dt) < lit(e)))
    df
  }

  override def readIn(values: Seq[Any]): DataFrame = {
    val dt = dtCol.getOrElse(
      throw new IllegalArgumentException("readIn requires a datetime axis"))
    if (values.isEmpty) read.where(lit(false))
    else read.where(col(dt).isin(values: _*))
  }

  override def rowCount: Long = if (exists) read.count() else 0L

  override def create(df: DataFrame, cluster: Boolean): Unit = put(df)
  override def overwrite(df: DataFrame): Unit = put(df)

  override def append(df: DataFrame): Unit = state.synchronized {
    if (!exists) put(df)
    else put(read.unionByName(df, allowMissingColumns = true))
  }

  override def upsert(patch: DataFrame, keys: Seq[String],
                      knownChunks: Option[Seq[String]],
                      strayScan: StrayScan): Unit = state.synchronized {
    require(keys.nonEmpty, "upsert requires key columns")
    if (!exists) { create(patch); return }
    val cur = read
    val pk  = patch.select(keys.map(col): _*).distinct()
    val cond = keys.map { k =>
      if (spec.nullIndices) cur(k) <=> pk(k) else cur(k) === pk(k)
    }.reduce(_ && _)
    put(cur.join(pk, cond, "left_anti")
      .unionByName(patch, allowMissingColumns = true))
  }

  override def clear(predicate: Column, boundLo: Option[Any],
                     boundHi: Option[Any]): Unit = state.synchronized {
    if (!exists) return
    // SQL DELETE three-valued logic: NULL-evaluating rows are KEPT; the
    // bounds are chunk-pruning hints on the parquet backend, not extra
    // deletion predicates — the engine's predicate already carries them
    put(read.where(!(predicate <=> lit(true))))
  }

  override def deduplicate(keys: Seq[String], orderBy: Seq[String]): Long =
    state.synchronized {
      require(keys.nonEmpty, "deduplicate requires key columns")
      if (!exists) return 0L
      val order = if (orderBy.nonEmpty) orderBy else keys
      val cur = read
      val before = cur.count()
      val kept = graft.ops.Dedup.keepOnePerKey(cur, keys, order)
      put(kept)
      before - read.count()
    }

  override def drop(): Unit = state.synchronized {
    // EMPTY the state rather than removing it from the registry: another
    // handle may hold this State's monitor as its write lease, and a
    // replacement State object would silently fork the mutual exclusion
    // (two "leased" writers on one pipe)
    state.df = None
    state.maxId = None
  }

  override def syncTime(newest: Boolean): Option[java.time.LocalDateTime] = {
    if (!exists) return None
    val dt = dtCol.getOrElse(return None)
    val agg = if (newest) max(col(dt)) else min(col(dt))
    val row = read.agg(agg.cast("timestamp_ntz").as("t")).head()
    Option(row.getAs[java.time.LocalDateTime]("t"))
  }

  override def syncTimeEpoch(newest: Boolean): Option[Long] = {
    if (!exists) return None
    val dt = dtCol.getOrElse(return None)
    val agg = if (newest) max(col(dt)) else min(col(dt))
    val row = read.agg(agg.cast("long").as("t")).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  override def readMaxId: Option[Long] = state.maxId
  override def writeMaxId(v: Long): Unit = state.synchronized { state.maxId = Some(v) }

  /** JVM-monitor lease (reentrant) — same exclusion contract as the
    * parquet backend's lock file, in-process scope. */
  override def withWriteLease[A](body: => A): A = state.synchronized(body)
}

object MemoryStore {
  private[storage] final class State {
    @volatile var df: Option[DataFrame] = None
    @volatile var maxId: Option[Long] = None
  }
  private val tables =
    scala.collection.concurrent.TrieMap.empty[(String, String), State]

  /** Store factory for [[graft.sync.SyncEngine]]. */
  val factory: (SparkSession, String, PipeSpec) => InstanceStore =
    (s, root, spec) => new MemoryStore(s, root, spec)
}
