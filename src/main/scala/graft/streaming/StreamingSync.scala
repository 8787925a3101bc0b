package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.catalog.PipeSpec
import graft.sync.{SyncEngine, SyncResult}

/** Continuous incremental sync as Structured Streaming — the Spark-native
  * form of the reference's job loop (a scheduler repeatedly calling
  * `pipe.sync()`: meerschaum/jobs/_Job.py:69+, utils/schedule.py:75-270).
  *
  * Each micro-batch flows through the exact same batch sync pipeline
  * (enforce → evolve → diff → unseen/update → one located write, or
  * upsert + append on stores without row locations), so
  * re-delivered rows are idempotent by construction — the reference's
  * "diff-then-apply makes redelivery safe" property
  * (meerschaum/core/Pipe/_sync.py:40-531) carries over verbatim. The sink is
  * `foreachBatch`, which is how Spark expresses an idempotent MERGE sink.
  *
  * Late data: the reference re-reads a backtrack window each cycle
  * (core/Pipe/_fetch.py:100-181, default 1440 min). In streaming form that is
  * a watermark of the same width plus stateful key-dedup —
  * [[withWatermarkDedup]] — while the `foreachBatch` path gets the same
  * guarantee from the diff itself.
  *
  * Scale: state is bounded by (watermark width × key cardinality), never by
  * history; the per-batch diff joins only against the batch's own dt
  * envelope, so a 100 TB target costs one partition-pruned slice per batch.
  */
object StreamingSync {

  /** Schema for streaming a parquet directory (file streams need an explicit
    * read schema). */
  def parquetSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(dir).schema

  /** Build a file-based micro-batch stream over a directory of parquet parts.
    * `maxFilesPerTrigger` bounds batch size (the reference's 100k-row chunk
    * knob, config/_default.py:113). */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** Run a streaming sync: every micro-batch is synced through `engine`
    * (diff + merge ⇒ idempotent). Returns the started query; callers
    * `awaitTermination()`. With `Trigger.AvailableNow` this drains the
    * source and stops — the reference's `--loop` over a bounded backlog.
    *
    * `transform` runs inside the stream (row-level fixups such as epoch
    * decoding) and stays a streaming-safe projection.
    *
    * `checkExisting = false` blind-appends each micro-batch (the reference's
    * `--skip-check-existing`): the right sink when the stream itself already
    * guarantees uniqueness (e.g. [[withWatermarkDedup]] upstream) — no diff
    * read of the target per batch.
    */
  def run(
      engine: SyncEngine,
      spec: PipeSpec,
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      transform: DataFrame => DataFrame = identity,
      checkExisting: Boolean = true,
      outputMode: Option[String] = None,
      onBatch: SyncResult => Unit = _ => ()): StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
    outputMode.foreach(writer.outputMode) // e.g. "update" for *GroupsWithState
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // watermark-driven sinks legitimately produce empty micro-batches
        // (nothing finalized yet / no-data flush ticks) — syncing one would
        // create a zero-file parquet table that poisons the next read.
        // persist() so the isEmpty probe and the sync don't each re-execute
        // the batch plan (for stateful aggregation streams that plan is the
        // whole aggregate).
        val b = transform(batch).persist()
        try {
          if (!b.isEmpty)
            onBatch(engine.sync(spec, b, checkExisting = checkExisting))
        } finally b.unpersist()
        ()
      }
      .start()
  }

  /** Stateful late-data dedup: watermark of the backtrack width + drop
    * duplicate keys within it. Use on append-only streams where the diff sink
    * is not in play (reference semantics: rows re-fetched inside the
    * backtrack window must not duplicate — core/Pipe/_fetch.py:100-181).
    */
  def withWatermarkDedup(stream: DataFrame, dtCol: String, keys: Seq[String],
                         delay: String = "24 hours"): DataFrame =
    stream
      .withColumn(dtCol, col(dtCol).cast("timestamp"))
      .withWatermark(dtCol, delay)
      .dropDuplicatesWithinWatermark(keys.toArray)

  /** Continuously-maintained per-id sync times — the reference's per-id
    * bookmark state (core/Pipe/_sync.py:534-616, `get_sync_time` per id)
    * kept as STREAMING state: one `GroupState[Long]` per id holding its
    * max-seen timestamp, emitted whenever it advances. State size is
    * O(id cardinality) — scalars, not history — and survives restarts via
    * the checkpoint, which is exactly the shape that scales to a 100 TB
    * stream (the alternative, re-aggregating history per batch, does not).
    */
  def runningSyncTimes(stream: DataFrame, idCol: String,
                       dtCol: String): Dataset[(Long, java.sql.Timestamp)] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = stream
      .select(col(idCol).cast("long").as("id"),
              col(dtCol).cast("timestamp").as("dt"))
      // a null id fails primitive-Long decoding and a null/uncastable dt
      // NPEs in the state function — either would kill the whole query for
      // one bad row; rows without both values carry no bookmark information
      .where(col("id").isNotNull && col("dt").isNotNull)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, java.sql.Timestamp)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) =>
          // state in MICROseconds: Timestamp.getTime truncates to millis,
          // which both corrupts the emitted bookmark and can mis-order two
          // events inside the same millisecond
          val incoming = rows.map { r =>
            val i = r._2.toInstant
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }.max
          val prior = state.getOption.getOrElse(Long.MinValue)
          if (incoming > prior) {
            state.update(incoming)
            Iterator((id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
              incoming / 1000000L, (incoming % 1000000L) * 1000L))))
          } else Iterator.empty
      }
  }

  /** Tumbling-window counts with late-data tolerance — the streaming form of
    * the reference's chunk iteration (core/Pipe/_data.py:639-932): windowed
    * partial aggregates survive restarts via checkpointed state. */
  def windowedCounts(stream: DataFrame, dtCol: String, width: String,
                     delay: String = "24 hours"): DataFrame =
    stream
      .withColumn(dtCol, col(dtCol).cast("timestamp"))
      .withWatermark(dtCol, delay)
      .groupBy(window(col(dtCol), width))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("chunk_start"), col("cnt"))

  /** Stream-static enrichment: join each micro-batch against a slowly- (or
    * never-) changing dimension table — the streaming face of the
    * reference's `join_fetch` dimension lookup
    * (core/Pipe/_fetch.py `join_fetch` params). The static side is
    * BROADCAST: a stream-static join must not shuffle the unbounded side on
    * the join key every micro-batch, and dimensions are small by
    * definition. Stateless (no watermark needed) — each batch joins
    * independently, so this composes with append-mode sinks and the
    * exactly-once `run` merge. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       joinOn: Column): DataFrame =
    stream.join(broadcast(dim), joinOn, "inner")

  /** Streaming gap-based sessions: Spark's `session_window` with a
    * watermark — the streaming face of `Relational.sessionBounds`. State
    * per key is ONE open session; the session closes and emits once the
    * watermark passes its end + gap, so state never grows with history. */
  def sessionCounts(stream: DataFrame, dtCol: String, keyCol: String,
                    gap: String, delay: String = "24 hours"): DataFrame =
    stream
      .withColumn(dtCol, col(dtCol).cast("timestamp"))
      .withWatermark(dtCol, delay)
      .groupBy(col(keyCol), session_window(col(dtCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
}

