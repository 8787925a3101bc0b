package graft

import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.sync.SyncEngine

/** Restart-recovery for a streaming sync (r12 verdict item 3): a query
  * killed mid-run and restarted from the SAME checkpoint dir must
  *   (a) keep its streaming query id (offset-log REUSE, not a fresh query),
  *   (b) continue the offset log past the pre-kill batches,
  *   (c) end exactly-once — redelivered files dedup through the diff sink.
  */
class StreamingRestartSpec extends SparkSpec {

  test("kill + restart resumes the offset log and stays exactly-once") {
    val s = spark
    import java.nio.file.{Files, Paths}
    val root = tmpDir()
    val eng  = new SyncEngine(s, root)
    val spec = PipeSpec(PipeKeys("stream", "restart_spec"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))
    val srcDir = s"$root/source"
    Files.createDirectories(Paths.get(srcDir))

    val base = s.range(0, 400).select(col("id"),
      expr("timestampadd(MINUTE, cast(id as int), timestamp'2024-01-01 00:00:00')")
        .cast("timestamp_ntz").as("ts"),
      (col("id") % 7).as("v"))
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val tmp = s"$root/stage_$name"
      base.where(col("id") >= lo && col("id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$srcDir/$name"))
    }
    stage(0, 100, "a.parquet"); stage(100, 200, "b.parquet")

    val schema = s.read.parquet(srcDir).schema
    val ckpt = s"$root/ckpt"
    def mkStream = graft.streaming.StreamingSync.parquetStream(
      s, srcDir, schema, maxFilesPerTrigger = Some(1))

    // phase 1: stop posted from a separate thread after the first commit
    val qRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.streaming.StreamingQuery]()
    val stopOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = graft.streaming.StreamingSync.run(eng, spec, mkStream, ckpt,
      onBatch = _ => if (stopOnce.compareAndSet(false, true)) {
        val t = new Thread(() => {
          var q = qRef.get()
          while (q == null) { Thread.sleep(5); q = qRef.get() }
          q.stop()
        })
        t.setDaemon(true); t.start()
      })
    qRef.set(q1)
    try q1.awaitTermination()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }

    def metadataId(): String = {
      val raw = new String(Files.readAllBytes(Paths.get(s"$ckpt/metadata")), "UTF-8")
      val m = """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(raw)
      m.map(_.group(1)).getOrElse(fail(s"no id in checkpoint metadata: $raw"))
    }
    def offsetBatches(): Set[Long] = {
      val dir = new java.io.File(s"$ckpt/offsets")
      assert(dir.isDirectory, "offset log missing after phase 1")
      dir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toLong).toSet
    }
    val id1 = metadataId()
    val offsets1 = offsetBatches()
    assert(offsets1.nonEmpty, "phase 1 committed no batches")

    // phase 2: remaining backlog + a byte-identical redelivery of a
    // phase-1 file under a NEW name (FileStreamSource tracks names)
    Files.copy(Paths.get(s"$srcDir/b.parquet"),
      Paths.get(s"$srcDir/b_redelivered.parquet"))
    stage(200, 300, "c.parquet"); stage(300, 400, "d.parquet")
    val q2 = graft.streaming.StreamingSync.run(eng, spec, mkStream, ckpt)
    q2.awaitTermination()

    // (a) same query id — the restart REUSED the checkpoint
    assert(metadataId() === id1,
      "restart minted a fresh streaming query id instead of resuming")
    // (b) offset log continued: the phase-1 batch files survive and new
    // higher batch ids exist (not a restart from batch 0)
    val offsets2 = offsetBatches()
    assert(offsets1.subsetOf(offsets2), "phase-1 offset entries were lost")
    assert(offsets2.max > offsets1.max, "no new batches after restart")
    // (c) exactly-once: every row once despite the kill + redelivery
    val out = eng.getData(spec)
    assert(out.count() === 400L)
    assert(out.select("id").distinct().count() === 400L)
    assert(out.agg(sum(col("id"))).head().getLong(0) === (0L until 400L).sum)
  }

  test("q_streaming_restart_e2e's quarter staging names an empty quarter") {
    val tmp = tmpDir()
    spark.range(0, 8).where(col("id") % 4 =!= 3)
      .withColumn("__q", col("id") % 4)
      .write.partitionBy("__q").mode("overwrite").parquet(tmp)
    assert(SparkEntry.stagedQuarterFile(tmp, 1).getName.endsWith(".parquet"))
    val e = intercept[IllegalStateException](SparkEntry.stagedQuarterFile(tmp, 3))
    assert(e.getMessage.contains("quarter 3"), e.getMessage)
  }
}
