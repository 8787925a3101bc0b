package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.storage.{ApiStore, InstanceStore, PipeStorage, ValkeyStore}
import graft.sync.{SyncEngine, SyncResult}

/** A diff sync needs the target's schema, not the target: on the HTTP and
  * Valkey backends `read` fetches the whole table, so a steady-state diff
  * sync of a pipe with a dt axis must not call it. The engine's store
  * factory is wrapped in a dynamic proxy that counts every trait call the
  * engine makes (calls a store makes on itself are not seen). The HTTP
  * instance runs the sync on its server: there the proxy wraps the
  * server's store factory, and the client's engine may make no row read
  * and exactly one `syncRemote` call per sync. */
class SyncTargetReadSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private type Factory = (SparkSession, String, PipeSpec) => InstanceStore

  /** `base` with every store it makes wrapped in a counting proxy. */
  private def counting(base: Factory, calls: ConcurrentHashMap[String, AtomicInteger]): Factory =
    (s, r, sp) => {
      val inner = base(s, r, sp)
      val handler = new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          calls.computeIfAbsent(m.getName, _ => new AtomicInteger).incrementAndGet()
          try m.invoke(inner, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
        }
      }
      Proxy.newProxyInstance(classOf[InstanceStore].getClassLoader,
        Array(classOf[InstanceStore]), handler).asInstanceOf[InstanceStore]
    }

  private def parquet: Factory = (s, r, sp) => new PipeStorage(s, r, sp)

  /** Calls the HTTP instance's server makes on its stores. */
  private val serverCalls = new ConcurrentHashMap[String, AtomicInteger]()
  private lazy val server = new graft.server.PipeServer(spark,
    java.nio.file.Files.createTempDirectory("graft-target-read").toString,
    counting(parquet, serverCalls))
  override def afterAll(): Unit = { server.stop(); super.afterAll() }
  private def api: Factory = ApiStore.factory(server.url)
  private def valkey: Factory =
    ValkeyStore.factory(TestMiniValkey.server.host, TestMiniValkey.server.port)

  /** `event_id` n at minute n of March 2024; `version(n)` = 1 changes the
    * value. */
  private def events(lo: Int, hi: Int, version: Int => Int): DataFrame = {
    val t0 = LocalDateTime.of(2024, 3, 1, 0, 0)
    (lo until hi).map { n =>
      (n.toLong, java.sql.Timestamp.valueOf(t0.plusMinutes(n.toLong)),
        n % 7, n.toDouble + 1000.0 * version(n))
    }.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** Create, then two diff syncs each re-sending the previous batch's last
    * 10% with every other re-sent row changed. */
  private val Batches: Seq[() => DataFrame] = Seq(
    () => events(0, 400, _ => 0),
    () => events(360, 800, n => if (n < 400 && n % 2 == 0) 1 else 0),
    () => events(760, 1200, n => if (n < 800 && n % 2 == 0) 1 else 0))

  private def rows(df: DataFrame): Seq[Row] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq.sortBy(_.toString)

  private def snapshot(calls: ConcurrentHashMap[String, AtomicInteger]): Map[String, Int] =
    calls.asScala.map { case (k, v) => k -> v.get }.toMap

  /** Sync `batches` through a fresh pipe; returns each sync's counts, the
    * final table, and the calls the engine made during the diff syncs and
    * the calls the HTTP instance's server made in the same span. */
  private def run(base: Factory, spec: PipeSpec, batches: Seq[() => DataFrame])
      : (Seq[(Long, Long)], Seq[Row], Map[String, Int], Map[String, Int]) = {
    val calls = new ConcurrentHashMap[String, AtomicInteger]()
    val eng = new SyncEngine(spark, tmpDir(), storeFactory = counting(base, calls))
    val first = eng.sync(spec, batches.head())
    calls.clear()
    serverCalls.clear()
    val rest = batches.tail.map(b => eng.sync(spec, b()))
    val (diffCalls, diffServerCalls) = (snapshot(calls), snapshot(serverCalls))
    val counts = (first +: rest).map((r: SyncResult) => (r.inserted, r.updated))
    (counts, rows(eng.getData(spec)), diffCalls, diffServerCalls)
  }

  /** The client side of a sync over the HTTP instance: one `syncRemote`
    * per sync and no row read. */
  private def assertRemote(calls: Map[String, Int], syncs: Int): Unit = {
    assert(calls.getOrElse("syncRemote", 0) == syncs, s"engine store calls: $calls")
    assert(calls.getOrElse("read", 0) == 0, s"engine store calls: $calls")
    assert(calls.getOrElse("readRange", 0) == 0, s"engine store calls: $calls")
  }

  private def spec(name: String, roles: Map[String, String]): PipeSpec =
    PipeSpec(PipeKeys("target_read", name), columns = ColumnRoles(roles))

  private val withAxis = Map("datetime" -> "ts", "primary" -> "event_id")

  for ((backend, factory) <- Seq("ApiStore" -> (() => api), "ValkeyStore" -> (() => valkey)))
    test(s"a steady-state diff sync over $backend reads the schema, never the whole table") {
      val sp = spec(s"steady_${backend.toLowerCase}", withAxis)
      val (counts, table, clientCalls, serverSide) = run(factory(), sp, Batches)
      val (pCounts, pTable, _, _) = run(parquet, sp, Batches)
      val calls = if (backend == "ApiStore") {
        assertRemote(clientCalls, syncs = 2)
        serverSide
      } else clientCalls
      assert(calls.getOrElse("read", 0) == 0, s"engine store calls: $calls")
      assert(calls.getOrElse("schemaDdl", 0) >= 2, s"engine store calls: $calls")
      assert(calls.getOrElse("readRange", 0) >= 2, s"engine store calls: $calls")
      assert(counts == Seq((400L, 0L), (400L, 20L), (400L, 20L)))
      assert(counts == pCounts)
      assert(table.size == 1200)
      assert(table == pTable)
    }

  test("a type-promoting batch over ApiStore rewrites the table and syncs like parquet") {
    val sp = spec("promote", withAxis)
    val promoting: Seq[() => DataFrame] = Seq(
      () => events(0, 100, _ => 0), // user_id: int
      () => events(90, 200, n => if (n < 100) 1 else 0)
        .withColumn("user_id", col("user_id").cast("double") + 0.5))
    val (counts, table, clientCalls, calls) = run(api, sp, promoting)
    val (pCounts, pTable, _, _) = run(parquet, sp, promoting)
    assertRemote(clientCalls, syncs = 1)
    assert(counts == Seq((100L, 0L), (100L, 10L)))
    assert(counts == pCounts)
    assert(table == pTable)
    assert(table.head.schema("user_id").dataType != org.apache.spark.sql.types.IntegerType)
    assert(table.head.schema("user_id").dataType == pTable.head.schema("user_id").dataType)
    // the promotion rewrite is a read case: the old rows are re-typed
    assert(calls.getOrElse("read", 0) >= 1 && calls.getOrElse("overwrite", 0) == 1,
      s"engine store calls: $calls")
  }

  test("a pipe without a dt axis diffs against the whole table over ApiStore") {
    val sp = spec("no_axis", Map("primary" -> "event_id"))
    val noAxis = Batches.map(b => () => b().drop("ts"))
    val (counts, table, clientCalls, calls) = run(api, sp, noAxis)
    val (pCounts, pTable, _, _) = run(parquet, sp, noAxis)
    assertRemote(clientCalls, syncs = 2)
    assert(counts == Seq((400L, 0L), (400L, 20L), (400L, 20L)))
    assert(counts == pCounts)
    assert(table == pTable)
    assert(calls.getOrElse("read", 0) >= 2, s"engine store calls: $calls")
  }

  for ((backend, factory) <- Seq("ApiStore" -> (() => api), "ValkeyStore" -> (() => valkey)))
    test(s"a deduplicate over $backend reads the schema, never the whole table") {
      val sp = spec(s"dedup_${backend.toLowerCase}", withAxis)
      def dedup(base: Factory): (Long, Seq[Row], Map[String, Int]) = {
        val calls = new ConcurrentHashMap[String, AtomicInteger]()
        val eng = new SyncEngine(spark, tmpDir(), storeFactory = counting(base, calls))
        eng.sync(sp, events(0, 400, _ => 0))
        eng.storage(sp).append(events(0, 40, _ => 1)) // out-of-band duplicates
        calls.clear()
        val removed = eng.deduplicate(sp, extraOrder = Seq("value"))
        val dedupCalls = calls.asScala.map { case (k, v) => k -> v.get }.toMap
        (removed, rows(eng.getData(sp)), dedupCalls)
      }
      val (removed, table, calls) = dedup(factory())
      val (pRemoved, pTable, _) = dedup(parquet)
      assert(calls.getOrElse("read", 0) == 0, s"engine store calls: $calls")
      assert(calls.getOrElse("deduplicate", 0) == 1, s"engine store calls: $calls")
      assert(removed == 40L && removed == pRemoved)
      assert(table.size == 400)
      assert(table == pTable)
    }

  test("ApiStore.readIn of no values is an empty frame of the stored schema, without a job") {
    val store = api(spark, tmpDir(), spec("read_in_empty", withAxis))
    val stored = events(0, 50, _ => 0)
    store.create(stored)
    val ddl = store.schemaDdl // warm the schema cache
    val (empty, jobs, others) = JobCount.jobsOf(spark)(store.readIn(Seq.empty))
    assert(jobs.isEmpty && others.isEmpty, JobCount.describe(jobs ++ others))
    assert(ddl.map(org.apache.spark.sql.types.StructType.fromDDL).contains(empty.schema))
    assert(empty.schema.fieldNames.toSeq == stored.columns.toSeq)
    assert(empty.isEmpty)
  }
}
