package graft

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.JobCount.{describe, jobsOf}
import graft.sync.SyncEngine

/** Pins the cost of the read path, next to [[SyncJobBudgetSpec]]: the
  * Spark jobs an ordered `getData`, a newest-rows read and a sync time
  * start ([[JobCount]]), and the remote SELECTs of an ordered JDBC read. */
class ReadJobBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `event_id` n at minute 10·n from March 25th 2024; `version(n)` = 1
    * changes the value. */
  private def events(lo: Int, hi: Int, version: Int => Int): DataFrame = {
    val t0 = LocalDateTime.of(2024, 3, 25, 0, 0)
    (lo until hi).map { n =>
      (n.toLong, java.sql.Timestamp.valueOf(t0.plusMinutes(10L * n)),
        n % 97, n.toDouble + 1000.0 * version(n))
    }.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  private val t0 = LocalDateTime.of(2024, 3, 25, 0, 0)

  /** A pipe of 3000 rows over March and April 2024, several files per
    * monthly chunk: a create and two diff syncs with updates. */
  private def pipe(eng: SyncEngine, name: String): PipeSpec = {
    val spec = PipeSpec(PipeKeys("rbudget", name),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
    eng.sync(spec, events(0, 1000, _ => 0))
    eng.sync(spec, events(900, 2000, n => if (n < 1000 && n % 2 == 0) 1 else 0))
    eng.sync(spec, events(1900, 3000, n => if (n < 2000 && n % 2 == 0) 1 else 0))
    spec
  }

  private def ascending(rows: Array[org.apache.spark.sql.Row]): Boolean =
    rows.map(r => (r.getAs[LocalDateTime]("ts"), r.getAs[Long]("event_id")))
      .sliding(2).forall {
        case Array((t1, k1), (t2, k2)) => t1.isBefore(t2) || (t1 == t2 && k1 < k2)
        case _ => true
      }

  test("an ordered parquet getData and its collect run at most 2 jobs") {
    val eng = new SyncEngine(spark, tmpDir())
    val spec = pipe(eng, "ordered")
    assert(eng.storage(spec).fileCount >= 4)
    val (lo, hi) = (t0.plusDays(5), t0.plusDays(6))
    val (rows, jobs, _) = jobsOf(spark)(
      eng.getData(spec, begin = Some(lo), end = Some(hi)).collect())
    assert(rows.length == 144 && ascending(rows))
    assert(jobs.size <= 2, s"ordered read ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  test("the newest rows with a limit run 1 job") {
    val eng = new SyncEngine(spark, tmpDir())
    val spec = pipe(eng, "newest")
    val (rows, jobs, _) = jobsOf(spark)(
      eng.getData(spec, orderDesc = true, limit = Some(100)).collect())
    assert(rows.map(_.getAs[Long]("event_id")).toSeq == (2999L to 2900L by -1L))
    assert(jobs.size == 1, s"newest read ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  test("a parquet syncTime and syncTimeEpoch read footers and run no job") {
    val eng = new SyncEngine(spark, tmpDir())
    val spec = pipe(eng, "footers")
    val ((newest, oldest), jobs, _) = jobsOf(spark)(
      (eng.syncTime(spec), eng.syncTime(spec, newest = false)))
    assert(newest.contains(t0.plusMinutes(10L * 2999)) && oldest.contains(t0))
    assert(jobs.isEmpty, s"syncTime ran ${jobs.size} jobs: ${describe(jobs)}")

    val epoch = PipeSpec(PipeKeys("rbudget", "footers_epoch"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")),
      epochUnit = Some("second"), chunkMinutes = 1440)
    def secs(lo: Int, hi: Int) = (lo until hi).map(n => (n.toLong, 1711324800L + 600L * n))
      .toDF("event_id", "ts")
    eng.sync(epoch, secs(0, 500))
    eng.sync(epoch, secs(450, 1000))
    val ((eNew, eOld), eJobs, _) = jobsOf(spark)(
      (eng.syncTimeEpoch(epoch), eng.syncTimeEpoch(epoch, newest = false)))
    assert(eNew.contains(1711324800L + 600L * 999) && eOld.contains(1711324800L))
    assert(eJobs.isEmpty, s"syncTimeEpoch ran ${eJobs.size} jobs: ${describe(eJobs)}")
  }

  /** The JDBC scan reads one partition; sorting it where it is needs no
    * range exchange, whose sampling job would run the SELECT a second
    * time. The scan node's output row count covers every execution of
    * its RDD, so it equals the rows returned only when the SELECT ran
    * once. */
  test("an ordered JDBC read runs its remote SELECT once") {
    val eng = new SyncEngine(spark, tmpDir(),
      storeFactory = graft.storage.JdbcStore.factory("jdbc:derby:memory:rbudget;create=true"))
    val spec = PipeSpec(PipeKeys("rbudget", "jdbc"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
    eng.sync(spec, events(0, 1000, _ => 0))
    eng.sync(spec, events(900, 2000, n => if (n < 1000 && n % 2 == 0) 1 else 0))
    val df = eng.getData(spec, begin = Some(t0.plusDays(2)))
    val (rows, jobs, _) = jobsOf(spark)(df.collect())
    assert(rows.length == 2000 - 288 && ascending(rows))
    val scanned = collect(df.queryExecution.executedPlan) {
      case s: RowDataSourceScanExec => s: SparkPlan
    }.map(_.metrics("numOutputRows").value).sum
    assert(scanned == rows.length, s"the JDBC scan produced $scanned rows for ${rows.length}")
    assert(jobs.size == 1, s"ordered JDBC read ran ${jobs.size} jobs: ${describe(jobs)}")
  }
}
