package graft.sync

import java.time.{Duration, LocalDateTime}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.PipeSpec
import graft.dsl.ParamsFilter
import graft.ops.{Diff, SchemaEvolution, SpecialCols}
import graft.storage.{PipeStorage, StrayScan}

/** The incremental sync pipeline — the reference's `pipe.sync()`
  * (meerschaum/core/Pipe/_sync.py:40-531) and the read path `get_data`
  * (meerschaum/core/Pipe/_data.py:22-318), re-expressed as one Catalyst plan
  * per phase:
  *
  *   enforce dtypes → autotime →
  *   schema evolution (against the target's stored SCHEMA, not its rows) →
  *   backtrack read (dt-bounded target slice) →
  *   full-row delta (anti-join on canonical hash) →
  *   unseen/update split on sync keys →
  *   apply: ONE write rewriting only the files that hold updated keys
  *   (stores with row locations), else upsert the updates and append
  *   the inserts
  *
  * One body runs every mode: a blind sync (`checkExisting = false`)
  * skips the backtrack and the diff and appends, upsert mode skips the
  * diff and upserts the whole batch, and the default diffs. The engine
  * owns the update/insert split; a store only sees upsert, append and,
  * with row locations, the located one-write apply.
  *
  * The backtrack slice is bounded by the batch's own MIN/MAX dt ±1 minute —
  * the reference's heuristic (core/Pipe/_sync.py:860-896) — so the diff join
  * compares the batch against a window, never the whole table; that is what
  * keeps a 100 TB target syncable (the window is broadcast-able in the
  * common case). The schema comes from `InstanceStore.schemaDdl`, so a
  * backend whose `read` fetches the table (KV) moves O(batch + window)
  * rows per sync; the whole target is read only by a type-promotion
  * rewrite and by the backtrack of a batch without an envelope. The HTTP
  * instance ships the stamped batch once and its server runs this
  * pipeline against its own store (`InstanceStore.syncRemote`).
  */
/** Counts are derived from the BACKTRACK-WINDOW tag (the reference's
  * filter_existing split): in upsert mode a key whose existing row lives
  * OUTSIDE the window still replaces it (the stray-scan guard) but reports
  * as `inserted` — the table's row count then grows by less than
  * `inserted`. The reference's counts carry the same window-scoped
  * semantics. */
final case class SyncResult(inserted: Long, updated: Long,
                            attempts: Int = 1,
                            attemptErrors: Seq[String] = Seq.empty) {
  def total: Long = inserted + updated
}

/** Row-level and lifecycle hooks — the reference's `chunk_hook` applied per
  * fetched chunk (core/Pipe/_fetch.py:62-76) and the `@pre_sync_hook` /
  * `@post_sync_hook` plugin decorators (plugins/__init__.py:129-206).
  * `chunkHook` rewrites each fetched frame before it enters the pipeline;
  * `preSync` runs on every batch (fetched or handed in); `postSync` observes
  * the result. */
final case class SyncHooks(
    preSync: (PipeSpec, DataFrame) => DataFrame = (_, df) => df,
    postSync: (PipeSpec, SyncResult) => Unit = (_, _) => (),
    chunkHook: DataFrame => DataFrame = identity)

/** @param catalog when given, dtypes inferred/evolved at sync time are
  *                 persisted back into the registered spec (reference
  *                 core/Pipe/_sync.py:1074-1107); `catalogPath` additionally
  *                 writes the registry to disk after each change.
  * @param retries  sync-level attempts (reference retries each sync 3× with
  *                 quadratic sleep, core/Pipe/_sync.py:333-355).
  * @param clock    injected wall clock for autotime stamping (testable;
  *                 production default is UTC now). */
final class SyncEngine(spark: SparkSession, root: String,
                       hooks: SyncHooks = SyncHooks(),
                       catalog: Option[graft.catalog.PipeCatalog] = None,
                       catalogPath: Option[String] = None,
                       retries: Int = SyncEngine.DefaultRetries,
                       retryBaseSleepMs: Long = SyncEngine.DefaultRetryBaseSleepMs,
                       clock: () => LocalDateTime =
                         () => LocalDateTime.now(java.time.ZoneOffset.UTC),
                       /** the instance-connector seam: swap the pipe
                         * TARGET backend (parquet by default; see
                         * [[graft.storage.MemoryStore.factory]]) */
                       storeFactory: (SparkSession, String, PipeSpec) => graft.storage.InstanceStore =
                         (s, r, sp) => new PipeStorage(s, r, sp)) {

  def storage(spec: PipeSpec): graft.storage.InstanceStore = storeFactory(spark, root, spec)

  /** The engine's wall clock (injected for tests) — shared with maintenance
    * ops so `verify --bound-days` and autotime agree on "now". */
  def now(): LocalDateTime = clock()

  /** Sync entry point: a [[SyncStrategy]] on the spec replaces the engine's
    * sync wholesale (reference plugin `sync()`, core/Pipe/_sync.py:201-261);
    * otherwise the standard diff-then-apply pipeline runs, bracketed by the
    * engine's [[SyncHooks]] and wrapped in a bounded [[Retry]] (the diff
    * pipeline is idempotent, so a partially applied attempt re-converges).
    * A store whose [[graft.storage.InstanceStore.syncRemote]] runs the
    * sync (the HTTP instance) gets the hooks, dtypes and autotime here and
    * runs the pipeline and its retries itself. */
  def sync(spec: PipeSpec, batch0: DataFrame): SyncResult =
    sync(spec, batch0, checkExisting = true)

  /** `checkExisting = false` is the reference's blind-insert mode
    * (`pipe.sync(check_existing=False)`, core/Pipe/_sync.py:54,93): skip
    * the backtrack read and the diff entirely and append the batch as-is —
    * duplicates included, exactly as the reference documents. For
    * append-only streams this removes the whole diff cost from the hot
    * path; note a retry of a partially-applied blind sync re-inserts (the
    * diff pipeline's idempotence is what a blind append gives up), so
    * blind syncs get one attempt. */
  def sync(spec: PipeSpec, batch0: DataFrame, checkExisting: Boolean): SyncResult = {
    val pre = hooks.preSync(spec, batch0)
    val r = spec.strategy.filter(_ => checkExisting) match {
      case Some(st) => withRetries(spec, pre, retries)(st.sync(this, spec, pre))
      case None => syncStamped(spec, pre, checkExisting, if (checkExisting) retries else 1)
    }
    hooks.postSync(spec, r)
    r
  }

  /** `attempt` run up to `attempts` times. Retry leans on the diff
    * pipeline's idempotence — which includes autoincrement minting: ids
    * derive from the COMMITTED high-water mark (advanced only after the
    * data write lands, see [[mint]]), so a retried attempt re-reads the
    * same base and re-mints the SAME ids; rows persisted by a partial
    * attempt dedupe in the diff instead of re-inserting under fresh keys
    * (reference semantics: target-generated keys,
    * connectors/sql/_pipes.py:1639-1800). A blind append gives that
    * idempotence up, so it gets one attempt. The writer lease is held
    * across the WHOLE loop for minting batches, so no other writer can
    * advance the mark between attempts: concurrent minters see disjoint
    * bases and a retry re-reads a stable one (all lease impls are
    * re-entrant per (thread, pipe)).
    *
    * Tradeoff, documented: concurrent minting syncs of ONE pipe serialize
    * for the sync's full duration (not only the short mint window), so a
    * second minter blocks up to the lease acquire timeout and then fails
    * LOUDLY. That is the intended semantics — the alternative
    * (overlapping attempt windows) re-mints ids another writer just
    * advanced past and silently corrupts — and matches the engine's
    * one-writer-per-pipe lease philosophy. Concurrent minting writers
    * should target different pipes. */
  private def withRetries(spec: PipeSpec, batch: DataFrame, attempts: Int)(
      attempt: => SyncResult): SyncResult = {
    def loop() = Retry.withBackoff(attempts, retryBaseSleepMs)(attempt)
    val willMint = spec.autoincrement &&
      spec.columns.primary.exists(pk => !batch.columns.contains(pk))
    val (result, n, errs) = if (willMint) storage(spec).withWriteLease(loop()) else loop()
    result.copy(attempts = n, attemptErrors = errs)
  }

  /** Dtypes and autotime, then the sync where the data lives when the
    * store runs it remotely (it runs its own attempts and mints under its
    * own lease), else [[syncBody]] in `attempts` attempts, each on its
    * own store handle: a swap an attempt left half done is rolled forward
    * before the next one writes. */
  private def syncStamped(spec: PipeSpec, batch0: DataFrame, checkExisting: Boolean,
                          attempts: Int): SyncResult = {
    val stamped = stamp(spec, batch0)
    syncRemote(spec, storage(spec), stamped, checkExisting).getOrElse(
      withRetries(spec, stamped, attempts)(syncBody(spec, storage(spec), stamped, checkExisting)))
  }

  /** Sync a REGISTERED pipe by keys: the spec comes from the catalog with
    * parameter inheritance resolved ([[graft.catalog.PipeCatalog.resolve]]),
    * the way the reference's `pipe.sync()` reads `pipe.parameters` with
    * references applied (core/Pipe/_attributes.py:60-170). */
  def sync(keys: graft.catalog.PipeKeys, batch: DataFrame): SyncResult = {
    val cat = catalog.getOrElse(
      throw new IllegalStateException("sync by keys requires an attached catalog"))
    val spec = cat.resolve(keys).getOrElse(
      throw new IllegalArgumentException(s"pipe not registered: $keys"))
    sync(spec, batch)
  }

  /** [[graft.storage.InstanceStore.syncRemote]] of a stamped batch; when
    * the store ran the sync, the catalog records the schema it reports. */
  private def syncRemote(spec: PipeSpec, store: graft.storage.InstanceStore,
                         batch: DataFrame, checkExisting: Boolean): Option[SyncResult] =
    store.syncRemote(batch, checkExisting, retries, retryBaseSleepMs).map { r =>
      if (catalog.isDefined) persistDtypes(spec, targetSchema(store), inferSpecial(spec, batch))
      r
    }

  /** Client-side ingest steps 1-2: dtype enforcement and autotime stamping
    * with the engine's clock. Lazy: no job. */
  private def stamp(spec: PipeSpec, batch0: DataFrame): DataFrame = {
    // 1. dtype enforcement (reference core/Pipe/_dtypes.py:19-115)
    var batch = if (spec.enforce) SchemaEvolution.enforceDtypes(batch0, spec.dtypes) else batch0

    // 2. autotime stamping (reference core/Pipe/_sync.py:412-433) — the
    //    injected clock, routed through the pipe's precision (interval
    //    rounding, ref utils/dtypes/__init__.py:1138-1236)
    spec.columns.datetime.foreach { dt =>
      if (spec.autotime && !batch.columns.contains(dt)) {
        val stamp: Column = spec.epochUnit match {
          case Some(unit) =>
            val now = graft.dsl.EpochAxis.toUnits(clock(), unit)
            lit(spec.precision.map(graft.dsl.EpochAxis.roundUnits(now, _)).getOrElse(now))
          case None =>
            val nowLit = lit(clock()).cast("timestamp_ntz")
            spec.precision
              .map(p => graft.dsl.RoundTime.roundTo(nowLit, p).cast("timestamp_ntz"))
              .getOrElse(nowLit)
        }
        batch = batch.withColumn(dt, stamp)
      }
    }
    batch
  }

  /** Step 2b of the ingest preamble, on a [[stamp]]ed batch: autoincrement
    * id assignment. Returns the batch plus the PENDING high-water mark for
    * minted ids — committed by the caller only after its data write
    * lands, so a failed attempt leaves the mark untouched and a retry
    * re-mints the same ids. */
  private def mint(spec: PipeSpec, store: graft.storage.InstanceStore,
                   stamped: DataFrame): (DataFrame, Option[Long]) = {
    var batch = stamped
    // 2b. autoincrement surrogate primary key (reference
    //     core/Pipe/__init__.py:278-279 — DB identity): batches without the
    //     pk column get dense sequential ids via TWO-PASS per-partition
    //     offsets (zipWithIndex = one count-per-partition job + one narrow
    //     map) — no single-partition window, so a 100 TB bulk load stays
    //     parallel. Assignment order follows the batch's partition layout,
    //     the same non-promise a DB identity column makes.
    var pendingMaxId: Option[Long] = None
    spec.columns.primary.foreach { pk =>
      if (spec.autoincrement && !batch.columns.contains(pk)) store.withWriteLease {
        // base from the COMMITTED high-water marker (one metadata read),
        // falling back to a table scan only for pre-marker pipes; ids are
        // not time-aligned, so no chunk pruning could bound that scan. The
        // marker is NOT advanced here: the caller commits pendingMaxId
        // after its data write lands, so a failed attempt re-reads the
        // same base and re-mints the SAME ids (retry-idempotent). The
        // writer lease spans the whole minting sync (see withRetries),
        // keeping concurrent minters' bases disjoint.
        val base = store.readMaxId.getOrElse {
          if (store.exists) {
            val r = store.read.agg(max(col(pk).cast("long"))).head()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          } else 0L
        }
        val schema = batch.schema.add(pk, org.apache.spark.sql.types.LongType,
          nullable = false)
        val counted = batch.rdd.zipWithIndex()
        val rdd = counted.map { case (row, i) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (base + 1L + i))
        }
        batch = spark.createDataFrame(rdd, schema)
        // generated pks are all-new keys: every batch row inserts, so the
        // next base is exactly base + batch size. zipWithIndex already ran
        // the per-partition count job; count() here reuses nothing heavier.
        pendingMaxId = Some(base + batch.count())
      }
    }
    (batch, pendingMaxId)
  }

  /** Commit the minted high-water mark AFTER the data write landed. A
    * metadata write this small failing is rare but consequential — a stale
    * mark makes the NEXT batch re-mint ids the persisted rows already
    * carry — so it retries locally and, if it still fails, throws: the
    * sync reports failure, the caller replays the batch, the replay
    * re-mints the SAME ids (base unchanged), dedupes in the diff, and
    * recommits the mark. Only a process death inside this window leaves a
    * stale mark, healed by replaying the same batch before syncing new
    * minting batches (at-least-once replay, the engine's standard failure
    * contract). */
  private def commitMintMark(store: graft.storage.InstanceStore,
                             pending: Option[Long]): Unit =
    pending.foreach { v =>
      var attempt = 0
      var done = false
      while (!done) {
        try { store.writeMaxId(v); done = true }
        catch {
          case e: Exception if attempt < 2 =>
            attempt += 1; Thread.sleep(50L * attempt)
          case e: Exception =>
            throw new IllegalStateException(
              s"data write landed but the autoincrement mark commit failed " +
                s"($v); replay this batch before syncing new minting batches", e)
        }
      }
    }

  /** Special-column inference (reference `get_uuid_cols`/`get_json_cols`,
    * utils/dataframe.py:642-1234): special shapes hiding in string columns
    * are recorded in the catalog. Metadata-only and only computed when a
    * catalog is attached to consume the result — no catalog, no extra job. */
  private def inferSpecial(spec: PipeSpec, batch: DataFrame): Map[String, graft.types.MrsmType] =
    if (catalog.isEmpty) Map.empty
    else {
      val declared = spec.dtypes.keySet ++
        catalog.flatMap(_.get(spec.keys)).map(_.dtypes.keySet).getOrElse(Set.empty)
      SpecialCols.infer(batch, declared)
    }

  /** Blind-append MANY ready batches through ONE storage envelope — the
    * multi-batch form of `sync(check_existing=False)` (the reference's
    * chunked sync loops the same insert path per chunk batch,
    * core/Pipe/_sync.py:54,93). Blind appends are row-additive and
    * order-independent, so the stored rows equal a sequential blind
    * sync per batch; what changes is the COST: the fixed
    * job-ladder overhead (exists/schema/append/bookkeeping, ~1.3 s
    * measured per envelope regardless of batch size) is paid once
    * instead of `batches.size` times — the same ONE-job move that fixed
    * the staged API upload. Batches of drifting width union by name
    * (missing columns null-fill), mirroring what sequential appends
    * would produce via schema evolution. NOT for diff/upsert syncs —
    * those tag against the store between batches — nor for batches
    * whose CONSTRUCTION reads this pipe's stored state (incremental CC,
    * triangle deltas): those depend on the previous batch being applied
    * and must stay sequential. */
  def syncBlindAll(spec: PipeSpec, batches: Seq[DataFrame]): SyncResult = {
    require(batches.nonEmpty, "syncBlindAll requires at least one batch")
    sync(spec, batches.reduce(_.unionByName(_, allowMissingColumns = true)),
      checkExisting = false)
  }

  /** The standard pipeline, as a [[SyncStrategy]] delegates to it: one
    * attempt, the strategy's caller runs the retries. */
  def syncDefault(spec: PipeSpec, batch0: DataFrame): SyncResult =
    syncStamped(spec, batch0, checkExisting = true, attempts = 1)

  /** One attempt of a local sync, in any mode. `checkExisting = false` is
    * the reference's blind insert (`check_existing=False`,
    * core/Pipe/_sync.py:54,93): the ingest preamble and schema evolution
    * still apply, but the backtrack read and the diff are skipped and the
    * batch appends as-is, duplicates included — O(batch) writes, zero
    * data reads of the existing table (counts come from parquet footer
    * metadata). Upsert mode skips the diff and upserts every batch row;
    * the default diffs and applies updates and inserts. */
  private def syncBody(spec: PipeSpec, store: graft.storage.InstanceStore,
                       stamped: DataFrame, checkExisting: Boolean): SyncResult = {
    val (batch, pendingMaxId) = mint(spec, store, stamped)
    // 2c: see [[inferSpecial]]
    lazy val inferredSpecial: Map[String, graft.types.MrsmType] =
      inferSpecial(spec, batch)

    // 3. first sync: create the target outright. The batch materializes
    //    ONCE into the write; the inserted count comes from the written
    //    table (a filterless parquet count is row-metadata cheap) — caching
    //    a create batch just to count it would spill a table's worth of
    //    rows at 100 TB.
    val result = if (!store.exists) {
      val created = if (checkExisting) dedupeBatch(spec, batch) else batch
      // cluster the write only when the batch spans enough chunks to shard
      // (tasks × chunks files): a day's batch into 1-2 chunks skips the
      // shuffle, a multi-year backfill pays one shuffle instead of a
      // files-per-task-per-chunk explosion
      store.create(created, cluster = chunkSpan(spec, batchEnvelope(spec, created)) >= 4)
      val n = store.rowCount
      persistDtypes(spec, created.schema, inferredSpecial)
      SyncResult(inserted = n, updated = 0)
    } else {
      // 4. schema evolution (unless static). Added columns cost NOTHING
      //    here: reads use mergeSchema, so old files simply surface typed
      //    nulls. Only a TYPE PROMOTION (e.g. int val + float batch ->
      //    numeric) rewrites the table, because parquet cannot merge
      //    conflicting physical types. At 100 TB an added column is a
      //    metadata event, not a rewrite. Evolution needs only the
      //    target's SCHEMA; the target's rows are read only by a promotion
      //    rewrite and by the backtrack of a batch without an envelope
      //    (see backtrackSlice) — on the HTTP and KV backends `read`
      //    fetches the whole table.
      val tgtSchema = targetSchema(store)
      val alignedSchema =
        if (spec.static) tgtSchema
        else {
          val u = SchemaEvolution.unifiedSchema(tgtSchema, batch.schema, spec.mixedNumerics)
          val promoted = tgtSchema.fields.exists(f =>
            u.find(_.name == f.name).exists(_.dataType != f.dataType))
          if (promoted) store.overwrite(SchemaEvolution.conform(store.read, u)) // tmp+swap write
          if (promoted || u.length != tgtSchema.length || inferredSpecial.nonEmpty)
            persistDtypes(spec, u, inferredSpecial)
          u
        }
      val batchAligned = SchemaEvolution.conform(batch, alignedSchema)
      if (!checkExisting) {
        val pre = store.rowCount
        store.append(batchAligned)
        SyncResult(inserted = store.rowCount - pre, updated = 0)
      } else diffAndApply(spec, store, alignedSchema, batchAligned)
    }
    // data write then mark: the id high-water mark commits only after the
    // rows land, so a failed write leaves the mark at its old value
    commitMintMark(store, pendingMaxId)
    result
  }

  /** Steps 5-6 on an existing target: tag the batch against the backtrack
    * window, count, apply. One cached plan feeds one aggregate (insert and
    * update counts, affected chunks, located files) and the storage
    * write. */
  private def diffAndApply(spec: PipeSpec, store: graft.storage.InstanceStore,
                           schema: StructType, batch: DataFrame): SyncResult = {
    val keys = syncKeys(spec, batch)
    // the batch's axis envelope, computed ONCE: bounds both the backtrack
    // slice (the diff window) and the stray-chunk guard in storage
    val envelope = batchEnvelope(spec, batch)
    // 5. upsert mode skips the diff (reference sync_pipe:1921-1935): every
    //    row is tagged, and the whole batch upserts. Native upsert applies
    //    arbitrary rows, so the dt-move guard must scan the full key
    //    columns (StrayScan.Full — documented cost of the guarantee).
    // 6. diff mode: delta rows tagged update/insert by ONE left join. A
    //    store with row locations gets the update rows' files from the
    //    aggregate and lands both halves in one write that rewrites only
    //    those files. Otherwise updates merge chunk-scoped and inserts
    //    append; update rows were DETECTED inside the backtrack window, so
    //    their old chunks are provably within it — the stray guard prunes
    //    to that window instead of scanning the table.
    val tagged = tagAgainstTarget(spec, store, backtrackSlice(store, schema, envelope),
      dedupeBatch(spec, batch), keys, diff = !spec.upsert).cache()
    try {
      val (nIns, nUpd, chunks, located) = countsAndChunks(store, tagged, allRows = spec.upsert)
      if (spec.upsert) store.upsert(tagged.drop(UpdFlag), keys, chunks, StrayScan.Full)
      else {
        val delta = tagged.drop(LocCol)
        located.filter(_ => nUpd > 0) match {
          case Some(files) => store.applyDelta(delta, UpdFlag, keys, files)
          case None =>
            val stray = envelope.map { case (lo, hi) => StrayScan.Bounded(lo, hi): StrayScan }
              .getOrElse(StrayScan.Full)
            if (nUpd > 0) store.upsert(delta.where(col(UpdFlag)).drop(UpdFlag), keys, chunks, stray)
            if (nIns > 0) store.append(delta.where(!col(UpdFlag)).drop(UpdFlag))
        }
      }
      SyncResult(nIns, nUpd)
    } finally tagged.unpersist()
  }

  private val UpdFlag = "__graft_update"
  /** Diff-mode column: the store's [[graft.storage.InstanceStore.rowLocation]]
    * values of an update row's key in the backtrack slice. */
  private val LocCol = "__graft_loc"

  /** Write inferred/evolved dtypes back into the registered spec — the
    * reference persists newly detected dtypes into the pipe's parameters at
    * sync time (core/Pipe/_sync.py:1074-1107), so after drift the registry
    * still describes the table. Declared dtypes keep their richer engine
    * type (uuid/json/geometry ride as string/binary physically) as long as
    * the physical type still matches; drifted or new columns record the
    * inferred type. */
  private def persistDtypes(spec: PipeSpec, schema: org.apache.spark.sql.types.StructType,
                            inferred: Map[String, graft.types.MrsmType] = Map.empty): Unit =
    // synchronized on the catalog: fleet syncs (fetchSyncMany) may persist
    // dtypes for different pipes concurrently, and register+save must be
    // atomic or a save snapshotted before another pipe's register could
    // win the file overwrite and drop that registration
    catalog.foreach { cat => cat.synchronized {
      val raw = cat.get(spec.keys)
      // `spec` here may be inheritance-RESOLVED (sync by keys) — richer
      // types it carries (inherited uuid/json) count as declared, but only
      // the RAW registered entry is rewritten, and only its dtypes: writing
      // the resolved spec back would flatten columns/tags/extras and stop
      // the child from following future edits to its references.
      val declared = spec.dtypes ++ raw.map(_.dtypes).getOrElse(Map.empty)
      val merged = schema.fields.map { f =>
        f.name -> (declared.get(f.name) match {
          case Some(t) if t.spark == f.dataType => t
          case _ => inferred.getOrElse(f.name, graft.types.Dtypes.fromSpark(f.dataType))
        })
      }.toMap
      if (raw.isEmpty || merged != raw.get.dtypes) {
        cat.register(raw.getOrElse(spec).copy(dtypes = merged))
        catalogPath.foreach(p => graft.catalog.PipeCatalogStore.save(spark, p, cat))
      }
    } }

  /** Tag batch rows as update (key exists in the backtrack window) or insert.
    * `diff = true` also drops full-row-identical rows first (the delta). */
  private def tagAgainstTarget(spec: PipeSpec, store: graft.storage.InstanceStore,
                               backtrack: DataFrame, batch: DataFrame, keys: Seq[String],
                               diff: Boolean): DataFrame = {
    if (diff) {
      val location = store.rowLocation
      Diff.tagExisting(batch,
        location.map(backtrack.withColumn(LocCol, _)).getOrElse(backtrack),
        keys, spec.nullIndices, UpdFlag, location.map(_ => LocCol))
    } else {
      // backtrack keys aliased before the join — batch and backtrack can
      // share lineage (see Diff's bkKeys rationale)
      val bt = backtrack
        .select(keys.map(k => col(k).as(s"__graft_bk_$k")): _*).distinct()
        .withColumn("__graft_seen", lit(1))
      val cond = keys.map { k =>
        if (spec.nullIndices) batch(k) <=> bt(s"__graft_bk_$k")
        else batch(k) === bt(s"__graft_bk_$k")
      }.reduce(_ && _)
      batch.join(bt, cond, "left")
        .select(batch.columns.map(c => batch(c)).toIndexedSeq :+
          bt("__graft_seen").isNotNull.as(UpdFlag): _*)
    }
  }

  /** Single-aggregate reporting: (inserted, updated, affected chunk labels,
    * located files). Chunk labels are collected for the rows the storage
    * merge will rewrite (all rows in upsert mode, update rows in diff mode)
    * so `upsert` skips its own distinct+collect job; when `tagged` carries
    * update rows' locations, their distinct union rides the same
    * aggregate. */
  private def countsAndChunks(store: graft.storage.InstanceStore, tagged: DataFrame,
                              allRows: Boolean)
      : (Long, Long, Option[Seq[String]], Option[Seq[String]]) = {
    val chunkOf = store.chunkLabel
    val relevant = if (allRows) lit(true) else col(UpdFlag)
    val located = tagged.columns.contains(LocCol)
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(when(col(UpdFlag), 1L).otherwise(0L)).as("nUpd")) ++
      chunkOf.toSeq.flatMap { c => Seq(
        // collect_set state ≤ |distinct chunk labels| — configuration-
        // bounded (≤10k per the reference's partitions-per-sync cap)
        collect_set(when(relevant, c)).as("chunks"),
        max(when(relevant && c.isNull, 1).otherwise(0)).as("hasNullChunk"))
      } ++
      // collect_set state ≤ the distinct location arrays of update keys,
      // bounded by the files of the backtrack window
      (if (located) Seq(flatten(collect_set(col(LocCol))).as("files")) else Nil)
    val row = tagged.agg(aggs.head, aggs.tail: _*).head()
    val n    = row.getLong(0)
    val nUpd = Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val chunks = chunkOf.map { _ =>
      val vals = row.getSeq[String](2)
      // max() is null over an empty delta — treat as "no null-dt rows"
      val hasNull = Option(row.get(3)).exists(_.asInstanceOf[Int] > 0)
      if (hasNull) vals :+ null else vals
    }
    val files = if (located) Some(row.getSeq[String](row.length - 1).distinct) else None
    (n - nUpd, nUpd, chunks, files)
  }

  /** Keys for the unseen/update split; fall back to all columns (pure
    * append-dedup) when the pipe declares no roles. */
  private def syncKeys(spec: PipeSpec, batch: DataFrame): Seq[String] = {
    val declared = spec.columns.syncKeys.filter(batch.columns.contains)
    if (declared.nonEmpty) declared else batch.columns.toSeq
  }

  /** Collapse intra-batch duplicates before diffing (the reference's chunk
    * dedup: one row per key, latest by the dt axis wins). Shaped as a
    * max-struct aggregate, not a window: partial aggregation combines
    * map-side, so a hot key reduces before it shuffles. A max over a
    * struct with string fields has no fixed-width buffer, so Spark plans
    * it as a `SortAggregate` (partial and final), which sorts each
    * partition by the keys; a window would sort the full rows after the
    * shuffle without the map-side reduction. */
  private def dedupeBatch(spec: PipeSpec, batch: DataFrame): DataFrame = {
    val keys = spec.columns.syncKeys.filter(batch.columns.contains)
    if (keys.isEmpty || keys.size == batch.columns.length) batch.distinct()
    else {
      val order = spec.columns.datetime.filter(batch.columns.contains).toSeq
      if (order.isEmpty) batch.dropDuplicates(keys)
      else graft.ops.Dedup.keepOnePerKey(batch, keys, order)
    }
  }

  /** The batch's dt envelope padded ±1 minute (reference
    * core/Pipe/_sync.py:860-896), in axis values — one aggregate job,
    * shared by the backtrack slice and the storage stray-chunk guard.
    * None when the batch has no dt column or only null axis values. */
  /** How many storage chunks the envelope spans — the create path's
    * clustering gate. */
  private def chunkSpan(spec: PipeSpec, env: Option[(Any, Any)]): Long = env match {
    case Some((lo: LocalDateTime, hi: LocalDateTime)) =>
      java.time.Duration.between(lo, hi).toMinutes / math.max(1L, spec.chunkMinutes) + 1
    case Some((lo: Long, hi: Long)) =>
      val per = graft.dsl.EpochAxis.unitsForMinutes(
        spec.epochUnit.getOrElse("second"), spec.chunkMinutes)
      (hi - lo) / math.max(1L, per) + 1
    case _ => 1L
  }

  private def batchEnvelope(spec: PipeSpec, batch: DataFrame): Option[(Any, Any)] =
    spec.columns.datetime.filter(batch.columns.contains).flatMap { dt =>
      if (spec.epochUnit.isDefined) {
        val pad = graft.dsl.EpochAxis.unitsForMinutes(spec.epochUnit.get, 1)
        val row = batch.agg(
          min(col(dt)).cast("long").as("lo"), max(col(dt)).cast("long").as("hi")).head()
        if (row.isNullAt(0) || row.isNullAt(1)) None
        else Some((row.getLong(0) - pad, row.getLong(1) + pad))
      } else {
        val row = batch.agg(
          min(col(dt)).cast("timestamp_ntz").as("lo"),
          max(col(dt)).cast("timestamp_ntz").as("hi")).head()
        (Option(row.getAs[LocalDateTime]("lo")), Option(row.getAs[LocalDateTime]("hi"))) match {
          case (Some(lo), Some(hi)) => Some((lo.minusMinutes(1), hi.plusMinutes(1)))
          case _ => None
        }
      }
    }

  /** Target slice the diff compares against, conformed to `schema`: rows
    * inside the batch's dt envelope. Without an envelope (no dt axis, or
    * all-null) the whole target is the backtrack (small-dimension pipes) —
    * the only diff case that reads the whole target. */
  private def backtrackSlice(store: graft.storage.InstanceStore, schema: StructType,
                             envelope: Option[(Any, Any)]): DataFrame =
    SchemaEvolution.conform(envelope match {
      // the slice goes back to STORAGE with explicit bounds, so the
      // chunk-label range prunes partition directories — at 100 TB the
      // diff reads only the chunks the envelope touches
      case Some((lo, hi)) => store.readRange(Some(lo), Some(hi), endInclusive = true)
      case None           => store.read
    }, schema)

  /** The stored schema through [[graft.storage.InstanceStore.schemaDdl]]:
    * no rows move, whatever the backend's `read` costs. */
  private def targetSchema(store: graft.storage.InstanceStore): StructType =
    StructType.fromDDL(store.schemaDdl.getOrElse(throw new IllegalArgumentException(
      s"pipe ${store.spec.targetName} does not exist")))

  /** Begin bound for the next fetch: newest sync time minus the backtrack
    * window (reference core/Pipe/_fetch.py:144-181). */
  def nextFetchBegin(spec: PipeSpec): Option[LocalDateTime] =
    storage(spec).syncTime(newest = true).map(_.minus(Duration.ofMinutes(spec.backtrackMinutes)))

  /** Fetch-then-sync through a [[graft.sources.Source]] — the reference's
    * `pipe.sync()` with no dataframe given (core/Pipe/_sync.py:271-281 →
    * core/Pipe/_fetch.py:20-97): begin defaults to the stored sync time
    * minus the backtrack window, so late data inside the window is re-read
    * and re-diffed; an empty target fetches unbounded. */
  def fetchSync(spec: PipeSpec, source: graft.sources.Source,
                begin: Option[Any] = None, end: Option[Any] = None,
                params: Map[String, Any] = Map.empty): SyncResult = {
    val effBegin: Option[Any] = begin.orElse {
      if (spec.epochUnit.isDefined)
        storage(spec).syncTimeEpoch(newest = true)
          .map(graft.sources.Backtrack.subtract(spec, _, spec.backtrackMinutes))
      else nextFetchBegin(spec)
    }
    sync(spec, hooks.chunkHook(source.fetch(spark, spec, effBegin, end, params)))
  }

  /** Sync a fleet of pipes concurrently — the reference's pipe-level
    * `--workers` parallelism (actions run syncs through a worker pool sized
    * by `get_num_workers`, core/Pipe/_sync.py:1033-1071). Spark job
    * submission is thread-safe: concurrent syncs interleave their stages on
    * the cluster, keeping executors busy while another pipe is in
    * driver-side planning or a remote fetch. Per-pipe failures are captured,
    * not thrown — one failing pipe must not abort the fleet (each pipe's own
    * bounded retry has already run inside its sync). */
  def fetchSyncMany(jobs: Seq[(PipeSpec, graft.sources.Source)],
                    workers: Int = 4): Map[String, Either[Throwable, SyncResult]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(workers, jobs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = jobs.map { case (spec, src) =>
        Future {
          // keyed by the LOSSLESS key tuple, not targetName: name
          // sanitization collapses e.g. ('db','a.b') and ('db','a_b') to
          // one map entry and one pipe's result would silently vanish
          val k = (Seq(spec.keys.connector, spec.keys.metric) ++
            spec.keys.location.toSeq).mkString(":")
          k -> (try Right(fetchSync(spec, src))
                catch { case e: Throwable => Left(e) })
        }
      }
      Await.result(Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** Per-id as-of incremental sync — the reference's `join_fetch`
    * (connectors/sql/_fetch.py:449-521): fetch only rows newer than each
    * id's own sync time (plus rows for unseen ids). A JDBC source gets the
    * VALUES join pushed into the remote query; any other source is fetched
    * and filtered with a broadcast join in Spark. Falls back to the plain
    * backtrack fetch when the pipe is empty, has no id role, or the id
    * cardinality exceeds `maxIds` (the reference's 250-value pushdown
    * heuristic, config/_default.py:247 — past that the VALUES list hurts the
    * remote planner more than it saves). */
  def joinFetchSync(spec: PipeSpec, source: graft.sources.Source,
                    params: Map[String, Any] = Map.empty,
                    newIds: Boolean = true, maxIds: Int = 250): SyncResult = {
    val store = storage(spec)
    val idColOpt = spec.columns.roles.get("id")
    val dtColOpt = spec.columns.datetime
    if (!store.exists || idColOpt.isEmpty || dtColOpt.isEmpty)
      return fetchSync(spec, source, params = params)
    val (idCol, dtCol) = (idColOpt.get, dtColOpt.get)
    val stDf = store.read.groupBy(col(idCol)).agg(max(col(dtCol)).as("__graft_st"))

    // Spark-side exact filter — used for non-SQL sources and as the
    // high-cardinality fallback (identical semantics, the full remote read
    // is the honest cost once the VALUES list would out-punish the remote
    // planner)
    def localFilter(fetched: DataFrame): SyncResult = {
      // the bookmark's join column is RENAMED, not joined via usingColumns:
      // `fetched` can share lineage with stDf (both read this store), and a
      // usingColumns self-join on shared lineage leans on Spark's
      // auto-disambiguation — one rewrite away from a silent cross join.
      // NO broadcast hint: this is the HIGH-CARDINALITY fallback, so the
      // per-id aggregate is exactly the side that can outgrow a broadcast
      // table — the planner broadcasts it when it fits and shuffles when
      // it doesn't, both correct.
      val bk = stDf.withColumnRenamed(idCol, "__graft_bk_id")
      val cond = col(dtCol) > col("__graft_st") ||
        (if (newIds) col("__graft_st").isNull else lit(false))
      sync(spec, fetched.join(bk,
          fetched(idCol) === bk("__graft_bk_id"), "left")
        .where(cond).drop("__graft_bk_id", "__graft_st"))
    }

    // the chunk hook applies on EVERY fetch path (fetchSync wraps it too) —
    // a hook-dependent pipe must not ingest raw rows on this one
    source match {
      case sql: graft.sources.SqlDefinitionSource =>
        val times = stDf.limit(maxIds + 1).collect()
        if (times.isEmpty) return fetchSync(spec, source, params = params)
        if (times.length > maxIds)
          localFilter(hooks.chunkHook(sql.fetch(spark, spec, None, None, params)))
        else {
          val pairs = times.map(r => (r.get(0), r.get(1))).toSeq
          sync(spec, hooks.chunkHook(
            sql.fetchJoinIncremental(spark, spec, pairs, params, newIds)))
        }
      case other => localFilter(hooks.chunkHook(other.fetch(spark, spec, None, None, params)))
    }
  }

  /** Rows as JSON documents — the reference's `get_pipe_docs`
    * (connectors/sql/_pipes.py:1265-1297). Same read surface as
    * [[getData]], serialized row-per-line. */
  def getDocs(spec: PipeSpec,
              select: Seq[String] = Seq.empty,
              begin: Option[LocalDateTime] = None,
              end: Option[LocalDateTime] = None,
              params: Map[String, Any] = Map.empty,
              limit: Option[Int] = None): org.apache.spark.sql.Dataset[String] =
    getData(spec, select = select, begin = begin, end = end,
      params = params, limit = limit).toJSON

  /** Deduplicate the stored pipe — reference `pipe.deduplicate()`
    * (core/Pipe/_deduplicate.py:14-287). Keys are the datetime axis plus the
    * pipe's index roles; ties inside a key group break by `extraOrder`
    * columns descending (pass a value/sequence column for a deterministic
    * survivor). Only the chunks that lose rows are rewritten. */
  def deduplicate(spec: PipeSpec, extraOrder: Seq[String] = Seq.empty): Long = {
    val store = storage(spec)
    if (!store.exists) return 0L
    val cols  = targetSchema(store).fieldNames.toSeq
    val keys  = (spec.columns.datetime.toSeq ++ spec.columns.syncKeys)
      .distinct.filter(cols.contains)
    val order = (spec.columns.datetime.toSeq ++ extraOrder)
      .distinct.filter(cols.contains)
    store.deduplicate(if (keys.nonEmpty) keys else cols,
                      if (order.nonEmpty) order else keys)
  }

  /** Epoch-axis form of [[nextFetchBegin]] (value in the pipe's axis units). */
  def nextFetchBeginEpoch(spec: PipeSpec): Option[Long] = {
    val unit = spec.epochUnit.getOrElse(
      throw new IllegalArgumentException("nextFetchBeginEpoch requires spec.epochUnit"))
    storage(spec).syncTimeEpoch(newest = true)
      .map(_ - graft.dsl.EpochAxis.unitsForMinutes(unit, spec.backtrackMinutes))
  }

  /** Translate a bound to the pipe's axis: a datetime bound on an
    * epoch-integer axis converts to axis units, the way the reference
    * accepts `--begin 2026-05-30` against an int axis
    * (tests/test_pipe_data.py:276-320, `datetime_to_int`). */
  private def axisBound(spec: PipeSpec, dtB: Option[LocalDateTime],
                        epochB: Option[Long]): Option[Any] =
    spec.epochUnit match {
      case Some(unit) =>
        epochB.orElse(dtB.map(graft.dsl.EpochAxis.toUnits(_, unit)))
      case None =>
        // an epoch bound against a timestamp axis is a caller bug — dropping
        // it silently would turn a bounded clear() into a full-table delete
        require(epochB.isEmpty,
          s"pipe ${spec.keys} has a timestamp axis; epoch bounds need spec.epochUnit")
        dtB
    }

  /** The read path: projection, half-open time bounds, params DSL, order,
    * limit (reference core/Pipe/_data.py:22-318). Rows come back ordered
    * by the axis, then the sync keys (descending with `orderDesc`). With
    * a `limit` the order and limit plan as one top-k job; without one, a
    * small frame is sorted in one partition ([[onePartitionIfSmall]]) and
    * a larger one by Spark's distributed sort. */
  def getData(
      spec: PipeSpec,
      select: Seq[String] = Seq.empty,
      omit: Seq[String] = Seq.empty,
      begin: Option[LocalDateTime] = None,
      end: Option[LocalDateTime] = None,
      beginEpoch: Option[Long] = None,
      endEpoch: Option[Long] = None,
      params: Map[String, Any] = Map.empty,
      orderDesc: Boolean = false,
      limit: Option[Int] = None): DataFrame = {

    // bounded reads go through readRange: the chunk-label predicate prunes
    // partition directories before any file is opened
    var df = storage(spec).readRange(
      axisBound(spec, begin, beginEpoch), axisBound(spec, end, endEpoch))
    // dtype enforcement on READ (reference core/Pipe/_data.py:310-314): the
    // result carries the declared dtypes, one codegen'd projection
    if (spec.enforce && spec.dtypes.nonEmpty)
      df = SchemaEvolution.enforceDtypes(df, spec.dtypes)
    if (params.nonEmpty) df = df.where(ParamsFilter.toPredicate(params))
    if (select.nonEmpty) df = df.select(select.map(col): _*)
    if (omit.nonEmpty)   df = df.drop(omit: _*)

    val orderCols = (spec.columns.datetime.toSeq ++
      spec.columns.syncKeys.filterNot(spec.columns.datetime.contains))
      .filter(df.columns.contains)
    if (orderCols.nonEmpty) {
      val ordering = orderCols.map(c => if (orderDesc) col(c).desc else col(c).asc)
      // with a limit, orderBy plans one top-k job
      val small = if (limit.isEmpty) onePartitionIfSmall(df) else None
      df = small.map(_.sortWithinPartitions(ordering: _*)).getOrElse(df.orderBy(ordering: _*))
    }
    limit.map(df.limit).getOrElse(df)
  }

  /** `df` in one partition when it is small enough to sort in one task:
    * a frame that already has one partition coalesces (no shuffle), one
    * whose plan estimates at most AQE's `advisoryPartitionSizeInBytes`
    * repartitions to one (its scan stays parallel). Sorting that one
    * partition is the total order, so no range exchange is planned and no
    * sampling job re-runs the scan and filter before the sort. None for
    * larger frames, which keep the distributed sort: a path-based parquet
    * relation estimates the whole table's bytes, so a 100 TB pipe stays
    * distributed. */
  private def onePartitionIfSmall(df: DataFrame): Option[DataFrame] = {
    val qe = df.queryExecution
    // an adaptive plan holds exchanges, which would run to report their
    // partitions; any other plan builds its RDD without a job
    val parts = qe.executedPlan match {
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => None
      case p => Some(p.execute().getNumPartitions)
    }
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (parts.contains(1)) Some(df.coalesce(1))
    else if (qe.optimizedPlan.stats.sizeInBytes <= advisory) Some(df.repartition(1))
    else None
  }

  /** Chunked read — the reference's `get_data(as_iterator=True)`
    * (core/Pipe/_data.py:321-410): one bounded frame per epoch-aligned chunk
    * of `spec.chunkMinutes`. Each frame is a partition-pruned plan; callers
    * drive them lazily (Spark's native distribution makes this a maintenance
    * surface, not a memory-management necessity as in pandas). */
  def getChunks(spec: PipeSpec,
                begin: java.time.Instant, end: java.time.Instant):
      Seq[((java.time.Instant, java.time.Instant), DataFrame)] =
    graft.dsl.ChunkGrid.bounds(begin, end,
        java.time.Duration.ofMinutes(spec.chunkMinutes))
      .map { case (lo, hi) =>
        ((lo, hi), getData(spec,
          begin = Some(java.time.LocalDateTime.ofInstant(lo, java.time.ZoneOffset.UTC)),
          end   = Some(java.time.LocalDateTime.ofInstant(hi, java.time.ZoneOffset.UTC))))
      }

  def rowCount(spec: PipeSpec,
               begin: Option[LocalDateTime] = None,
               end: Option[LocalDateTime] = None,
               params: Map[String, Any] = Map.empty): Long = {
    var df = storage(spec).readRange(
      axisBound(spec, begin, None), axisBound(spec, end, None))
    if (params.nonEmpty) df = df.where(ParamsFilter.toPredicate(params))
    df.count()
  }

  /** Params-filtered sync time for multiplexed pipes — the reference's
    * `get_sync_time(params=...)` (tests/test_sync.py:1448-1476): the newest
    * (or oldest) axis value among rows matching the params DSL. */
  def syncTime(spec: PipeSpec, params: Map[String, Any] = Map.empty,
               newest: Boolean = true): Option[LocalDateTime] = {
    require(spec.epochUnit.isEmpty,
      s"pipe ${spec.keys} has an integer axis; use syncTimeEpoch")
    val store = storage(spec)
    if (params.isEmpty) return store.syncTime(newest)
    if (!store.exists) return None
    val dt = spec.columns.datetime.getOrElse(return None)
    val agg = if (newest) max(col(dt)) else min(col(dt))
    val row = store.read.where(ParamsFilter.toPredicate(params))
      .agg(agg.cast("timestamp_ntz").as("t")).head()
    Option(row.getAs[LocalDateTime]("t"))
  }

  /** Epoch-axis twin of the params-filtered [[syncTime]] (axis units). */
  def syncTimeEpoch(spec: PipeSpec, params: Map[String, Any] = Map.empty,
                    newest: Boolean = true): Option[Long] = {
    require(spec.epochUnit.isDefined, "syncTimeEpoch requires spec.epochUnit")
    val store = storage(spec)
    if (params.isEmpty) return store.syncTimeEpoch(newest)
    if (!store.exists) return None
    val dt = spec.columns.datetime.getOrElse(return None)
    val agg = if (newest) max(col(dt)) else min(col(dt))
    val row = store.read.where(ParamsFilter.toPredicate(params))
      .agg(agg.cast("long").as("t")).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Range delete — the reference's `pipe.clear(begin, end, params)`
    * (core/Pipe/_clear.py:15-71): half-open on the axis (datetime bounds
    * translate on epoch axes, like [[getData]]), optionally narrowed by the
    * params DSL. Chunk-scoped in storage. */
  def clear(spec: PipeSpec,
            begin: Option[LocalDateTime] = None,
            end: Option[LocalDateTime] = None,
            beginEpoch: Option[Long] = None,
            endEpoch: Option[Long] = None,
            params: Map[String, Any] = Map.empty): Unit = {
    val lo = axisBound(spec, begin, beginEpoch)
    val hi = axisBound(spec, end, endEpoch)
    // the structured form keeps the bounds+params symbolic all the way to
    // the backend: parquet composes the Catalyst predicate (bounds also
    // prune the affected-chunk discovery scan to the window's partition
    // directories), JDBC renders ONE bounded remote DELETE
    storage(spec).clearStructured(lo, hi, params)
  }
}

object SyncEngine {
  /** Sync attempts and the backoff base of an engine built without them. */
  val DefaultRetries = 3
  val DefaultRetryBaseSleepMs = 1000L
}
