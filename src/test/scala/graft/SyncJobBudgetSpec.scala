package graft

import java.time.LocalDateTime

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.JobCount.{describe, jobsOf}
import graft.sync.{SyncEngine, SyncResult}

/** Pins the cost of a steady-state sync — a batch with both updates and
  * inserts against an existing table. The Spark job count is pinned for
  * a diff sync on the parquet store, on `MemoryStore` and on the HTTP
  * instance (`ApiStore`), client and server side, and for a blind and an
  * upsert-mode sync on parquet; on parquet, so are the files and bytes a
  * run of small diff syncs writes.
  * Every job the sync starts counts: AQE query stages, broadcasts, the
  * counts aggregate and the storage write ([[JobCount]]); the server
  * shares the session but runs on its own request threads, so its jobs
  * are the others that start while the sync runs. */
class SyncJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** `event_id` n at minute n of March 2024; `version(n)` = 1 changes
    * the value. */
  private def events(lo: Int, hi: Int, version: Int => Int): DataFrame = {
    val t0 = LocalDateTime.of(2024, 3, 1, 0, 0)
    (lo until hi).map { n =>
      (n.toLong, java.sql.Timestamp.valueOf(t0.plusMinutes(n.toLong)),
        n % 97, n.toDouble + 1000.0 * version(n))
    }.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** The jobs of the third sync of a pipe — on the sync's thread and the
    * others that ran meanwhile: a create, a warming sync (it fills what
    * steady state keeps warm, the schema caches), then the counted sync
    * of 2200 rows, 200 of them re-sent and 100 of those changed. A diff
    * sync reports 2000 inserts and 100 updates. */
  private def steadyStateJobs(eng: SyncEngine, name: String, upsert: Boolean = false,
                              checkExisting: Boolean = true,
                              expected: (Long, Long) = (2000L, 100L))
      : (Seq[String], Seq[String]) = {
    val spec = PipeSpec(PipeKeys("budget", name),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
      upsert = upsert)
    def sync(b: DataFrame) = eng.sync(spec, b, checkExisting)
    sync(events(0, 2000, _ => 0))
    sync(events(1800, 4000, n => if (n < 2000 && n % 2 == 0) 1 else 0))
    val (r, jobs, others) = jobsOf(spark)(
      sync(events(3800, 6000, n => if (n < 4000 && n % 2 == 0) 1 else 0)))
    assert((r.inserted, r.updated) == expected)
    (jobs, others)
  }

  test("a parquet diff sync with updates and inserts runs at most 12 jobs") {
    val (jobs, _) = steadyStateJobs(new SyncEngine(spark, tmpDir()), "events")
    assert(jobs.size <= 12, s"diff sync ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  test("a parquet blind sync runs at most 1 job") {
    val (jobs, _) = steadyStateJobs(new SyncEngine(spark, tmpDir()), "blind",
      checkExisting = false, expected = (2200L, 0L))
    assert(jobs.size <= 1, s"blind sync ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  /** Upsert mode tags every batch row against the backtrack window, so
    * the 200 re-sent rows all report as updates. */
  test("a parquet upsert-mode sync runs at most 13 jobs") {
    val (jobs, _) = steadyStateJobs(new SyncEngine(spark, tmpDir()), "upsert",
      upsert = true, expected = (2000L, 200L))
    assert(jobs.size <= 13, s"upsert sync ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  test("a MemoryStore diff sync runs at most 14 jobs") {
    val (jobs, _) = steadyStateJobs(new SyncEngine(spark, tmpDir(),
      storeFactory = graft.storage.MemoryStore.factory), "memory")
    assert(jobs.size <= 14, s"diff sync ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  /** The client stages the batch (one job) and makes one call; the server
    * runs the parquet engine's diff sync on the staged rows, under the
    * parquet budget. */
  test("an ApiStore diff sync runs at most 1 client job and 12 server jobs") {
    val eng = new SyncEngine(spark, tmpDir(),
      storeFactory = graft.storage.ApiStore.factory(TestPipeServer.server.url))
    val (jobs, server) = steadyStateJobs(eng, "api_events")
    assert(jobs.size <= 1, s"diff sync ran ${jobs.size} client jobs: ${describe(jobs)}")
    assert(server.size <= 12, s"diff sync ran ${server.size} server jobs: ${describe(server)}")
  }

  /** `body`'s result and the bytes its tasks wrote. */
  private def written(body: => SyncResult): (SyncResult, Long) = {
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.outputMetrics.bytesWritten))
    }
    GraftTestBus.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftTestBus.waitUntilListenerBusEmpty(spark.sparkContext)
      (r, bytes.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Each located write replaces the files holding its updated keys and
    * adds its delta, sized to its bytes: one file for a 2k-row delta, not
    * one per shuffle partition, each repeating its column dictionaries.
    * All rows fall in one 30-day chunk. */
  test("five 2k-row diff syncs add at most one file each and keep write_amp ≤ 2.1") {
    val eng = new SyncEngine(spark, tmpDir())
    val spec = PipeSpec(PipeKeys("budget", "layout"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
    eng.sync(spec, events(0, 2000, _ => 0))
    val store = eng.storage(spec)
    // each batch re-sends the previous one's last 10%, every other re-sent
    // row changed (5% updates)
    val runs = (1 to 5).map { b =>
      val (lo, hi) = (b * 2000 - 200, (b + 1) * 2000)
      val before = store.fileCount
      val (r, bytes) = written(eng.sync(spec,
        events(lo, hi, n => if (n < b * 2000 && n % 2 == 0) 1 else 0)))
      assert((r.inserted, r.updated) == ((2000L, 100L)))
      val added = store.fileCount - before
      assert(added <= 1, s"sync $b added $added files")
      (r.total, bytes)
    }
    assert(store.rowCount == 12000L)
    val bytesPerRow = store.sizeBytes.toDouble / store.rowCount
    val amp = runs.map(_._2).sum / (runs.map(_._1).sum * bytesPerRow)
    assert(amp <= 2.1, s"write_amp $amp (${runs.map(_._2)} bytes)")
  }
}
