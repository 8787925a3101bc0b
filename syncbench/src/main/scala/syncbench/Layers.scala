package syncbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run, from the spans and the Spark work
  * attributed to them. Sync metrics are per counted sync (per batch); read
  * metrics are per counted read. Layer times are inclusive span durations,
  * except `sync.self_s`, the sync span's own time outside store calls. */
object Layers {
  def compute(spans: Seq[Span], listener: SpanListener, rec: Recorder,
              bytesPerRow: Double, files: Long, wallS: Double, busyS: Double,
              gcS: Double, cores: Int, api: Boolean): ListMap[String, (Double, String)] = {
    val tree = new SpanTree(spans)
    val self = tree.self
    def roots(ops: collection.Set[String]) = spans.filter(s => s.parent == 0 && ops(s.op))
    val syncRoots = roots(rec.syncOps)
    val readRoots = roots(rec.readOps)
    val syncTree = syncRoots.flatMap(r => tree.subtree(r.id))
    val readTree = readRoots.flatMap(r => tree.subtree(r.id))
    val n = math.max(1, syncRoots.length).toDouble
    val rows = math.max(1L, rec.syncRowsOffered).toDouble
    def named(ss: Seq[Span], name: String) = ss.filter(_.name == name)
    def secs(ss: Seq[Span]) = ss.map(_.dur).sum / 1e9
    def work(ss: Seq[Span]) = listener.workOf(ss.map(_.id))
    def under(ss: Seq[Span], name: String) = named(ss, name).flatMap(s => tree.subtree(s.id))

    val syncSelf = work(syncRoots)
    val syncAll = work(syncTree)
    val stRead = named(syncTree, "storage.read")
    val stWrite = named(syncTree, "storage.write")
    val writeWork = work(under(syncTree, "storage.write"))
    val serverS = secs(named(syncTree, "server.store"))
    val plans = named(readTree, "read.plan")
    val execs = named(readTree, "read.exec")
    def meanMs(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.dur).sum / 1e6 / ss.length
    ListMap(
      "sync.self_s" -> (syncRoots.map(s => self(s.id)).sum / 1e9 / n, "s/batch"),
      "sync.shuffle_bytes_per_row" -> (syncSelf.shuffleWriteBytes / rows, "B/row"),
      "sync.input_rows_per_batch_row" -> (syncAll.inputRecords / rows, "ratio"),
      "sync.jobs_per_batch" -> (syncAll.jobs / n, "jobs/batch"),
      "sync.tasks_per_batch" -> (syncAll.tasks / n, "tasks/batch"),
      "storage.read_s" -> (secs(stRead) / n, "s/batch"),
      "storage.read.calls_per_batch" -> (stRead.length / n, "calls/batch"),
      "storage.write_s" -> (secs(stWrite) / n, "s/batch"),
      "storage.write.output_bytes" -> (writeWork.outputBytes / n, "B/batch"),
      "storage.write_amp" -> (writeWork.outputBytes /
        math.max(1.0, rec.syncRowsWritten * bytesPerRow), "ratio"),
      "server.store_s" -> (serverS / n, "s/batch"),
      "server.calls_per_batch" -> (named(syncTree, "server.store").length / n, "calls/batch"),
      "api.wire_s" -> (if (api) (secs(stRead) + secs(stWrite) - serverS) / n else 0.0, "s/batch"),
      "read.plan_ms" -> (meanMs(plans), "ms"),
      "read.exec_ms" -> (meanMs(execs), "ms"),
      "read.input_rows_per_row_returned" -> (work(readTree).inputRecords /
        math.max(1L, rec.readRowsReturned).toDouble, "ratio"),
      "storage.files" -> (files.toDouble, "count"),
      "spark.busy_share" -> (busyS / (wallS * cores), "ratio"),
      "jvm.gc_s" -> (gcS, "s"))
  }

  /** Largest gap, over every counted operation, between the operation's
    * wall time and the sum of the self times in its span tree. Zero when
    * sibling spans never overlap. */
  def closureResidualMs(spans: Seq[Span], rec: Recorder): Double = {
    val tree = new SpanTree(spans)
    spans.filter(s => s.parent == 0 && (rec.syncOps(s.op) || rec.readOps(s.op)))
      .map(r => math.abs(tree.closureResidual(r.id)) / 1e6)
      .foldLeft(0.0)(math.max)
  }
}
