package syncbench

import java.time.LocalDateTime

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.server.PipeServer
import graft.storage.{ApiStore, InstanceStore, PipeStorage}
import graft.sync.SyncEngine

/** One workload's shape: the stream it syncs, its set-up, and the reads it
  * issues.
  *
  * @param setupBatches batches synced to build the pipe during set-up
  * @param timedSyncs   diff syncs in the measured phase, a fixed count so
  *                     every seed and every commit ends on the same table
  * @param afterSync    reads issued after each sync of batch `b`
  * @param readCycle    length of the read loop's cycle of read kinds
  * @param readLoop     a closed read loop run for `--seconds` after the
  *                     syncs: the `k`-th read against a pipe holding `fed`
  *                     batches */
final case class Shape(name: String, batchRows: Int, setupBatches: Int, api: Boolean,
                       timedSyncs: Int,
                       afterSync: (EventStream, Int) => Seq[ReadOp],
                       readCycle: Int,
                       readLoop: (EventStream, Int, Int, scala.util.Random) => ReadOp)

object Shape {
  private def day(t: LocalDateTime): LocalDateTime = t.toLocalDate.atStartOfDay

  /** The read mix: a fixed 8-step cycle of read kinds whose days, users and
    * types are drawn from the seed. */
  def readMix(s: EventStream, fed: Int, k: Int, rnd: scala.util.Random): ReadOp = {
    val first = day(s.tsOf(0)).plusDays(1)
    val last = day(s.tsOf(s.end(fed - 1) - 1))
    val days = math.max(1, java.time.Duration.between(first, last).toDays.toInt)
    def aDay = first.plusDays(rnd.nextInt(days).toLong)
    val rare = Seq("purchase", "signup", "cart")
    k % 8 match {
      case 0 | 6 => val d = aDay; ReadOp.Range("day", Some(d), Some(d.plusDays(1)))
      case 1 | 7 =>
        val d = aDay
        ReadOp.Range("day_users", Some(d), Some(d.plusDays(1)),
          select = Seq("event_id", "ts", "user_id", "value"),
          users = Seq.fill(50)(rnd.nextInt(EventStream.Users)).distinct)
      case 2 => ReadOp.Range("type_full", None, None, select = Seq("event_id", "ts", "value"),
        eventType = Some(rare(rnd.nextInt(rare.length))))
      case 3 => ReadOp.Newest("newest_100", 100)
      case 4 => ReadOp.Count("count_type", None, None,
        Some(EventStream.Types(rnd.nextInt(EventStream.Types.length))))
      case _ => ReadOp.SyncTime("sync_time")
    }
  }

  /** The remote dashboard's refresh of a pipe holding `fed` batches: the
    * newest day via `getData`, then the sync time. */
  def refresh(s: EventStream, fed: Int): Seq[ReadOp] =
    Seq(ReadOp.Range("newest_day", Some(s.tsOf(s.end(fed - 1) - 1).minusDays(1)), None),
      ReadOp.SyncTime("sync_time"))

  /** 100k-row diff syncs into parquet storage, a fixed three of them after
    * two set-up syncs, so the table always ends at 550k rows (38 days over
    * the March and April storage chunks); then the read mix against it. */
  val SyncBulk = Shape("sync_bulk", 100000, 2, api = false, timedSyncs = 3,
    (_, _) => Nil, 8, readMix _)

  /** 10k-row diff syncs over HTTP, a fixed three after two set-up syncs,
    * each followed by one dashboard refresh; then the dashboard keeps
    * refreshing the final table. */
  val ApiSync = Shape("api_sync", 10000, 2, api = true, timedSyncs = 3,
    (s, b) => refresh(s, b + 1), 2, (s, fed, k, _) => refresh(s, fed)(k % 2))

  val All: Seq[Shape] = Seq(SyncBulk, ApiSync)
}

/** A pipe under test: the engine, its spec and, for the HTTP instance, the
  * in-process server and the stores it created. */
final class Pipe(val engine: SyncEngine, val spec: PipeSpec, server: Option[PipeServer],
                 serverStores: TrieMap[String, InstanceStore]) {
  /** The store holding the data: server-side for the HTTP instance. */
  def dataStore: InstanceStore =
    if (server.isDefined) serverStores(spec.targetName) else engine.storage(spec)
  def close(): Unit = server.foreach(_.stop())
}

object Pipe {
  val Spec: PipeSpec = PipeSpec(PipeKeys("bench", "events"),
    columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "event_id")))

  def open(spark: SparkSession, tracer: Tracer, root: String, api: Boolean): Pipe = {
    val local = (s: SparkSession, r: String, sp: PipeSpec) => new PipeStorage(s, r, sp): InstanceStore
    if (!api) new Pipe(new SyncEngine(spark, root,
      storeFactory = TracedStore.factory(local, tracer, "storage")), Spec, None, TrieMap.empty)
    else {
      val created = TrieMap.empty[String, InstanceStore]
      val serverFactory = TracedStore.factory((s, r, sp) => {
        val st = local(s, r, sp); created.put(sp.targetName, st); st
      }, tracer, "server.store", sticky = true)
      val server = new PipeServer(spark, s"$root/server", serverFactory)
      val engine = new SyncEngine(spark, s"$root/client",
        storeFactory = TracedStore.factory(ApiStore.factory(server.url), tracer, "storage"))
      new Pipe(engine, Spec, Some(server), created)
    }
  }
}

/** Everything one run measured. */
final class Recorder {
  val syncLat = mutable.ArrayBuffer.empty[Double]   // s
  var syncRowsOffered = 0L
  var syncRowsWritten = 0L                          // inserted + updated
  val readLat = mutable.ArrayBuffer.empty[Double]   // ms
  val readKinds = mutable.ArrayBuffer.empty[String]
  var readRowsReturned = 0L
  var readWall = 0.0                                // s
  var attempted = 0L
  var failed = 0L
  var retries = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val syncOps = mutable.Set.empty[String]
  val readOps = mutable.Set.empty[String]
  /** (batches fed, read, digest the engine returned) */
  val checks = mutable.ArrayBuffer.empty[(Int, ReadOp, Digest)]

  def problem(s: String): Unit = {
    failed += 1
    if (problems.length < 20) problems += s
  }
}
