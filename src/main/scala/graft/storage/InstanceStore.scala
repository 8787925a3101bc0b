package graft.storage

import org.apache.spark.sql.{Column, DataFrame}

import graft.catalog.PipeSpec

/** The instance-connector seam — the contract a pipe TARGET backend must
  * implement for the sync engine to run against it (the reference's
  * `InstanceConnector` interface, connectors/instance/_InstanceConnector.py:
  * 1-90, which SQLConnector and ValkeyConnector both implement;
  * `connectors/valkey/_pipes.py:37-139` is the reference's own second
  * backend). Everything [[graft.sync.SyncEngine]] and the maintenance ops
  * call goes through this trait; [[PipeStorage]] (parquet) is the
  * production implementation and [[MemoryStore]] the in-memory proof that
  * the boundary holds.
  *
  * Contracts the engine relies on:
  *   - `readRange` end bound is EXCLUSIVE unless `endInclusive`; a bounded
  *     read on a pipe without a datetime axis must throw, not return the
  *     full table.
  *   - `create`/`overwrite`/`append`/`upsert` must leave `read` reflecting
  *     the change when they return (no async visibility).
  *   - `clear` keeps rows whose predicate evaluates NULL (SQL DELETE
  *     three-valued logic).
  *   - `syncTime`/`syncTimeEpoch` are the newest/oldest axis value.
  *   - `readMaxId`/`writeMaxId` persist the autoincrement high-water mark.
  */
trait InstanceStore {
  def spec: PipeSpec

  // ── existence / reads ────────────────────────────────────────────────
  def exists: Boolean
  def read: DataFrame

  /** DDL of the stored schema WITHOUT materializing data. The default goes
    * through `read.schema`, which is only acceptable for backends whose
    * `read` is lazy (parquet: footer metadata); eager backends (KV,
    * in-memory, HTTP) must override with their stored schema — the serving
    * layer calls this before every data response. None = no data yet. */
  def schemaDdl: Option[String] = if (exists) Some(read.schema.toDDL) else None
  def readRange(begin: Option[Any], end: Option[Any],
                endInclusive: Boolean = false): DataFrame
  def readIn(values: Seq[Any]): DataFrame
  def rowCount: Long

  // ── writes ───────────────────────────────────────────────────────────
  def create(df: DataFrame, cluster: Boolean = true): Unit
  def overwrite(df: DataFrame): Unit
  def append(df: DataFrame): Unit
  def upsert(patch: DataFrame, keys: Seq[String],
             knownChunks: Option[Seq[String]] = None,
             strayScan: StrayScan = StrayScan.Full): Unit

  /** Apply one diff: `delta` holds its update and insert rows, told apart
    * by the boolean column `updateFlag` (true = the row's key is stored
    * and the row replaces it). Default: two calls — the update half merges
    * chunk-scoped, the insert half appends (an append never pays a
    * merge). REMOTE backends override to ship the tagged patch in ONE
    * staged upload + ONE commit and split server-side: for a store a
    * network away, the second round trip costs more than the split saves.
    * Either half may be empty (callers skip all-empty calls).
    *
    * `located` is the set of [[rowLocation]] values of the rows the
    * updates replace, as the diff found them in the backtrack slice. A
    * store that supplies locations rewrites exactly those files in one
    * write; the default ignores it (it is only ever set for stores whose
    * `rowLocation` is defined). */
  def applyDelta(delta: DataFrame, updateFlag: String, keys: Seq[String],
                 knownChunks: Option[Seq[String]] = None,
                 strayScan: StrayScan = StrayScan.Full,
                 located: Option[Seq[String]] = None): Unit = {
    import org.apache.spark.sql.functions.col
    upsert(delta.where(col(updateFlag)).drop(updateFlag), keys, knownChunks, strayScan)
    append(delta.where(!col(updateFlag)).drop(updateFlag))
  }

  /** Where a stored row lives, for stores that can rewrite single files:
    * an expression that evaluates, on any frame this store's `read` or
    * `readRange` returns (through projections and filters), to the file
    * holding the row. The sync engine carries it through the diff and
    * hands the update rows' files to [[applyDelta]]. None for stores
    * without files. */
  def rowLocation: Option[Column] = None

  // ── deletion / maintenance ───────────────────────────────────────────
  def clear(predicate: Column, boundLo: Option[Any] = None,
            boundHi: Option[Any] = None): Unit

  /** Structured range delete: half-open axis bounds plus the params DSL,
    * BEFORE compilation to a Catalyst predicate. The default composes the
    * predicate and delegates to [[clear]]; backends that render SQL
    * natively (JDBC) override to push ONE bounded remote `DELETE` instead
    * of materialize-filter-overwrite. */
  def clearStructured(boundLo: Option[Any], boundHi: Option[Any],
                      params: Map[String, Any]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val dt = spec.columns.datetime.getOrElse(
      throw new IllegalArgumentException("clear requires a datetime axis"))
    var pred: Column = lit(true)
    boundLo.foreach(b => pred = pred && col(dt) >= lit(b))
    boundHi.foreach(e => pred = pred && col(dt) < lit(e))
    if (params.nonEmpty) pred = pred && graft.dsl.ParamsFilter.toPredicate(params)
    clear(pred, boundLo, boundHi)
  }

  def deduplicate(keys: Seq[String], orderBy: Seq[String]): Long
  def drop(): Unit

  // ── sync bookkeeping ─────────────────────────────────────────────────
  def syncTime(newest: Boolean = true): Option[java.time.LocalDateTime]
  def syncTimeEpoch(newest: Boolean = true): Option[Long]
  def readMaxId: Option[Long]
  def writeMaxId(v: Long): Unit

  /** The backend's chunk-label expression, when it instruments sync's
    * reporting aggregate with affected-chunk collection; None for backends
    * without a chunked layout (the engine then skips chunk pruning). */
  def chunkLabel: Option[Column] = None

  // ── physical-layout maintenance: meaningful for file-backed stores,
  //    correct as no-ops elsewhere ────────────────────────────────────────
  def compact(): Unit = ()
  def vacuum(): Unit = ()
  def fileCount: Long = 0L
  def sizeBytes: Long = 0L

  /** Run `body` holding this pipe's single-writer lease. Storage mutations
    * take it internally; the engine additionally brackets multi-step
    * read-modify-write sequences (autoincrement id minting) so two writers
    * cannot interleave between the read and the write. Re-entrant. */
  def withWriteLease[A](body: => A): A = body
}
