package graft

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.sync.SyncEngine

/** Pins the Spark job count of a steady-state diff sync — a batch with
  * both updates and inserts against an existing table — on the parquet
  * store and on the HTTP instance (`ApiStore`, client side). Every job the
  * sync starts counts: AQE query stages, broadcasts, the counts aggregate
  * and the storage write. Jobs are attributed through a thread-local
  * property, which Spark carries into its broadcast and query-stage
  * threads, so only the sync's own jobs are counted. */
class SyncJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Tag = "graft.test.budget"

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

  /** Jobs `body` starts, each named by the description of the SQL
    * execution that ran it. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val token = java.util.UUID.randomUUID().toString
    val jobs  = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == token))
          jobs.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.put(s.executionId.toString, s.description)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(Tag, token)
    try {
      val a = body
      GraftTestBus.waitUntilListenerBusEmpty(spark.sparkContext)
      (a, jobs.asScala.toSeq.map(id => Option(execs.get(id)).getOrElse(s"execution $id")))
    } finally {
      spark.sparkContext.setLocalProperty(Tag, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** The jobs of the third sync of a pipe: a create, a warming diff sync
    * (it fills what steady state keeps warm, the schema caches), then the
    * counted diff sync with 2000 inserts and 100 updates. */
  private def steadyStateJobs(eng: SyncEngine, name: String): Seq[String] = {
    val spec = PipeSpec(PipeKeys("budget", name),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))
    eng.sync(spec, events(0, 2000, _ => 0))
    eng.sync(spec, events(1800, 4000, n => if (n < 2000 && n % 2 == 0) 1 else 0))
    val (r, jobs) = jobsOf(
      eng.sync(spec, events(3800, 6000, n => if (n < 4000 && n % 2 == 0) 1 else 0)))
    assert((r.inserted, r.updated) == ((2000L, 100L)))
    jobs
  }

  private def describe(jobs: Seq[String]): String =
    jobs.groupBy(identity).map { case (d, js) => s"${js.size} × $d" }.mkString("; ")

  test("a parquet diff sync with updates and inserts runs at most 12 jobs") {
    val jobs = steadyStateJobs(new SyncEngine(spark, tmpDir()), "events")
    assert(jobs.size <= 12, s"diff sync ran ${jobs.size} jobs: ${describe(jobs)}")
  }

  /** Client-side jobs only: the server runs its store calls on its own
    * request threads, which do not carry the sync's job property. */
  test("an ApiStore diff sync with updates and inserts runs at most 13 client jobs") {
    val eng = new SyncEngine(spark, tmpDir(),
      storeFactory = graft.storage.ApiStore.factory(TestPipeServer.server.url))
    val jobs = steadyStateJobs(eng, "api_events")
    assert(jobs.size <= 13, s"diff sync ran ${jobs.size} client jobs: ${describe(jobs)}")
  }
}
