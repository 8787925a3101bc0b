package graft

/** Targeted WARN-flood suppression for the driver-captured tails of Bench
  * and Verify.
  *
  * Two benign-by-construction messages used to drown real warnings:
  *
  *  1. "RDD … was locally checkpointed, its lineage has been truncated"
  *     — fired by the batch-boundary sweep unpersisting blocks of
  *     ALREADY-FINISHED queries (r12 verdict: 318 lines/run). Pure noise
  *     here; the sweep never needs to recompute a finished query.
  *  2. WindowExec's "No Partition Defined for Window operation" — every
  *     unpartitioned window in this engine runs over a BOUNDED input
  *     (value grids, model artifacts) and `GlobalWindowAuditSpec` fails
  *     the build if any query grows one beyond its documented budget, so
  *     the log category carries no signal the spec doesn't carry better.
  *
  * The r12/r13 fix set the whole `org.apache.spark.rdd` package to ERROR,
  * which also hid unrelated legitimate warnings (block replication
  * failures, locality problems) — ADVICE r13 flagged it. This filter
  * matches the two MESSAGES instead: every other WARN from those classes
  * still reaches the tail.
  */
object LogHygiene {
  /** True for the benign messages the filter drops. */
  private[graft] def drop(m: String): Boolean =
    (m.contains("locally checkpointed") &&
      m.contains("lineage has been truncated")) ||
    m.contains("No Partition Defined for Window operation") ||
    // Structural streaming notices (r14 verdict item 6): AQE is NEVER
    // supported in stateful streaming — Spark emits one WARN per
    // streaming query construction (MicroBatchExecution /
    // ResolveWriteToStream) regardless of configuration, so the
    // category carries zero signal. Matching the exact phrases keeps
    // every other AQE warning visible.
    m.contains("Disabling AQE since AQE is not supported in stateful") ||
    m.contains("spark.sql.adaptive.enabled is not supported in streaming") ||
    // DAGScheduler's stop-side race: a finished streaming query's
    // cancelJobGroup fires after its jobs already completed — by
    // construction there is nothing to cancel, and the message carries
    // no signal a hung cancellation wouldn't surface elsewhere (the
    // stream's own awaitTermination would fail first).
    m.contains("Failed to cancel job group") ||
    // The ANN family ships model artifacts (PQ codebooks, rotated
    // centroids, per-query ADC tables) as PLAN LITERALS by design —
    // the bounded-configuration alternative to per-row joins — so
    // task binaries legitimately cross the 1000 KiB notice threshold
    // (≤ ~6 MiB, sized by m·ks·dim configuration, never by data). An
    // unbounded-literal regression would surface in PLANS.md (the
    // literal prints in the plan), which the audit reads every round.
    m.contains("Broadcasting large task binary") ||
    // Concurrent materialization of frames sharing a cached upstream
    // (the r16 §2.6 overlapped-writes groups): two driver threads can
    // race to compute the same cached partition; BlockManager keeps the
    // first copy and logs this per block. Benign for cached RDD blocks
    // only — the winning block is what both readers consume — so the
    // match is scoped to `rdd_` block ids: a re-add of a broadcast,
    // shuffle or stream block still reaches the log.
    (m.startsWith("Block rdd_") &&
      m.endsWith("already exists on this machine; not re-adding it"))

  private val installed = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Attach the filter to the root and every named logger config; later
    * calls in the same JVM are no-ops. */
  def install(): Unit = if (installed.compareAndSet(false, true)) {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.filter.AbstractFilter

    val noisy = new AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
      override def filter(e: LogEvent): Filter.Result =
        if (e != null && e.getMessage != null &&
            drop(e.getMessage.getFormattedMessage)) onMatch else onMismatch
    }
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        // attach at the LoggerConfig level (root + every named config):
        // LoggerConfig filters run on the constructed LogEvent for every
        // route to an appender, unlike context-wide filters which some
        // fast paths skip
        cfg.getRootLogger.addFilter(noisy)
        cfg.getLoggers.values().forEach(_.addFilter(noisy))
        ctx.updateLoggers()
      case _ => // non-core LoggerContext (shouldn't happen under Spark) — leave logs as-is
    }
  }
}
