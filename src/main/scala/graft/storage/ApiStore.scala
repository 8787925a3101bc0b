package graft.storage

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Duration, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SparkSession

import graft.catalog.PipeSpec
import graft.server.PipeServer
import graft.sources.HttpFetch
import graft.sync.SyncResult

/** HTTP-backed [[InstanceStore]] — the client half of the API instance
  * connector (the reference's `connectors/api/_pipes.py:368-489`, which
  * implements the same instance interface as SQLConnector so a REMOTE
  * server can be the pipes backend). Every method maps onto one
  * [[graft.server.PipeServer]] route; running the engine's backend
  * contract suite over this store is the proof that the instance seam
  * survives serialization across a process boundary.
  *
  * Sync runs on the server, as in the reference (`connectors/api/
  * _pipes.py:189-368` posts the frame and the API's own pipe syncs it):
  * the client engine applies the pre-sync hook, dtype enforcement and
  * autotime, then [[syncRemote]] stages the batch once and one `sync`
  * call runs the server's engine — diff, one located write, minting and
  * retries under the server store's lease. The client fetches no rows
  * and takes no HTTP lease for it; the schema the server returns feeds
  * the client catalog's dtype persistence. The other methods serve reads
  * and [[graft.sync.SyncStrategy]] code.
  *
  * Scale shape: writes are executor-parallel (each partition POSTs its
  * own staged part; one call applies it on the server), so patch
  * data never funnels through the client driver. Reads materialize
  * eagerly (fetch + localCheckpoint) to give the same snapshot semantics
  * as the other backends — a lazy HTTP scan could observe its own sync's
  * mutation mid-plan. The schema comes from [[schemaDdl]] (cached
  * process-wide, one GET at most); bulk analytical reads belong on the
  * parquet backend directly, exactly as in the reference deployment.
  *
  * Errors surface as the server-side exception class where the engine's
  * contracts depend on it (IllegalArgument/IllegalState), else IOException.
  */
final class ApiStore(spark: SparkSession, baseUrl: String, root: String,
                     val spec: PipeSpec) extends InstanceStore {

  import ApiStore._
  import PipeServer.{encodeAny, jsonOptsJava}

  private def target = spec.targetName
  private def dtCol: Option[String] = spec.columns.datetime

  ApiStore.ensureRegistered(spark, baseUrl, root, spec)

  private def u(op: String, q: (String, String)*): String = {
    val qs = (Seq("root" -> root, "target" -> target) ++ q)
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    s"$baseUrl/pipes/$op?$qs"
  }

  /** Instance-level request wrapper: a server that restarted (losing its
    * in-memory registry) answers every route with "not registered" even
    * though this client registered earlier — the process-wide cache then
    * pins the failure forever. Self-heal: invalidate the cache entry,
    * re-register, retry ONCE. */
  private def call(method: String, url: String): String =
    try ApiStore.call(method, url)
    catch {
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("is not registered")) =>
        ApiStore.registered.remove((baseUrl, root, target))
        ApiStore.ensureRegistered(spark, baseUrl, root, spec)
        ApiStore.call(method, url)
    }

  // ── reads ──────────────────────────────────────────────────────────────

  override def exists: Boolean = call("GET", u("exists")).toBoolean

  /** Schema DDL cached PROCESS-WIDE by (server, root, target): the engine
    * asks for the schema before every fetch (3-4 server footer reads per
    * sync at ~100-250 ms each) and creates a FRESH store handle per
    * operation, so a per-handle cache re-paid the GET on every handle
    * (r11 verdict: two ~100 ms schema calls per sync). Every write path
    * through ANY handle of this process invalidates the shared key; a
    * FOREIGN writer mutating concurrently is already excluded by the lease
    * model (and would race the data reads themselves, not just the
    * schema) — the same argument the old per-handle cache leaned on,
    * and the same keying [[ApiStore.registered]] already uses. */
  private def schemaKey = (baseUrl, root, target)
  private def invalidateSchema(): Unit = {
    ApiStore.schemaCache.remove(schemaKey); ()
  }

  /** One schema-route GET — the trait default would full-fetch the table. */
  override def schemaDdl: Option[String] =
    ApiStore.schemaCache.get(schemaKey) match {
      case Some(v) => v
      case None =>
        val (code, body) = request("GET", u("schema"))
        val v =
          if (code == 200) Some(body)
          else if (code == 404) None
          else Some(call("GET", u("schema"))) // surface mapped server errors
        ApiStore.schemaCache.put(schemaKey, v)
        v
    }

  private def storedSchema: StructType =
    StructType.fromDDL(schemaDdl.getOrElse(call("GET", u("schema"))))

  /** The rows one data route answers: one executor task pulls them (the
    * driver does not), without a shuffle job, then an eager checkpoint
    * gives snapshot semantics (class doc). The one fetch task holds one
    * task slot while a server sharing this Spark context (an in-process
    * PipeServer) answers it with jobs of its own. */
  private def fetchDf(dataUrl: String): DataFrame = {
    val schema = storedSchema
    val lines = spark.createDataset(
        spark.sparkContext.parallelize(Seq(dataUrl), 1))(Encoders.STRING)
      .flatMap(HttpFetch.lines(_))(Encoders.STRING)
    lines.select(from_json(col("value"), schema, jsonOptsJava).as("r"))
      .select("r.*").localCheckpoint(true)
  }

  private def rangeUrl(begin: Option[Any], end: Option[Any],
                       endInclusive: Boolean): String = {
    val bq = begin.map(encodeAny).toSeq.flatMap { case (k, v) =>
      Seq("begin" -> v, "beginK" -> k) }
    val eq = end.map(encodeAny).toSeq.flatMap { case (k, v) =>
      Seq("end" -> v, "endK" -> k) }
    u("data", (bq ++ eq :+ ("endIncl" -> endInclusive.toString)): _*)
  }

  override def read: DataFrame = {
    if (!exists) throw new IllegalArgumentException(
      s"pipe $target does not exist")
    fetchDf(u("data"))
  }

  override def readRange(begin: Option[Any], end: Option[Any],
                         endInclusive: Boolean): DataFrame = {
    if (dtCol.isEmpty) {
      require(begin.isEmpty && end.isEmpty,
        s"pipe $target has no datetime axis; bounded reads are undefined")
      return read
    }
    if (!exists) throw new IllegalArgumentException(
      s"pipe $target does not exist")
    fetchDf(rangeUrl(begin, end, endInclusive))
  }

  override def readIn(values: Seq[Any]): DataFrame = {
    val _ = dtCol.getOrElse(
      throw new IllegalArgumentException("readIn requires a datetime axis"))
    if (!exists) throw new IllegalArgumentException(
      s"pipe $target does not exist")
    if (values.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), storedSchema)
    val enc0 = values.map(encodeAny)
    val kinds = enc0.map(_._1).distinct
    require(kinds.size == 1, s"mixed value kinds in readIn: $kinds")
    fetchDf(u("in", "values" -> enc0.map(_._2).mkString(","), "kind" -> kinds.head))
  }

  override def rowCount: Long = call("GET", u("count")).toLong

  // ── writes ─────────────────────────────────────────────────────────────

  /** Executor-parallel staged upload + one atomic commit (see class doc).
    *
    * Idempotent under task retry and speculation: every POST is keyed by
    * (partition, task-attempt, batch-seq) — a re-executed task stages under
    * a FRESH attempt id instead of appending to a shared file — and each
    * attempt seals itself with a `stage_done` marker carrying its batch
    * count. Commit then applies exactly ONE complete attempt per partition
    * (any complete attempt of a partition holds the same rowset), so a
    * retried or speculated task can never double its rows into the patch. */
  private def upload(df: DataFrame, mode: String,
                     extra: Seq[(String, String)] = Seq.empty): Unit = {
    val wid = java.util.UUID.randomUUID().toString
    stage(df, wid)
    call("POST", u("commit", (Seq("wid" -> wid, "mode" -> mode,
      "schema" -> df.schema.toDDL) ++ extra): _*))
    invalidateSchema()
  }

  /** Stage one DataFrame's rows under `wid` (no commit). */
  private def stage(df: DataFrame, wid: String): Unit = {
    val stageBase  = u("stage", "wid" -> wid)
    val doneBase   = u("stage_done", "wid" -> wid)
    val cols = df.columns
    // Cap upload streams: staging is network-bound, and every partition
    // costs two fixed-price POSTs plus a staged file the commit must list
    // and re-read — 32 shuffle partitions of a 10k-row patch were measured
    // SLOWER end-to-end than 8 coalesced streams (empty-partition POST
    // overhead, 4x the staged files). coalesce() narrows without a shuffle.
    val jsonDs = df
      .select(to_json(struct(cols.map(col).toIndexedSeq: _*), jsonOptsJava).as("j"))
      .select("j").as(Encoders.STRING)
    val streams = math.max(1,
      math.min(ApiStore.UploadParallelism, jsonDs.rdd.getNumPartitions))
    jsonDs.coalesce(streams)
      .foreachPartition { (it: Iterator[String]) =>
        val tc  = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val att = tc.taskAttemptId() // globally unique per attempt (zombies included)
        var n = 0
        it.grouped(10000).foreach { b =>
          HttpFetch.post(s"$stageBase&pid=$pid&att=$att&seq=$n", b.mkString("\n"))
          n += 1
        }
        // seal even when n=0 — commit must be able to tell "this attempt
        // completed with no rows" from "this attempt died mid-stage"
        HttpFetch.post(s"$doneBase&pid=$pid&att=$att&n=$n", "")
      }
  }

  override def create(df: DataFrame, cluster: Boolean): Unit =
    upload(df, "create")
  override def overwrite(df: DataFrame): Unit = upload(df, "overwrite")
  override def append(df: DataFrame): Unit = upload(df, "append")

  override def upsert(patch: DataFrame, keys: Seq[String],
                      knownChunks: Option[Seq[String]],
                      strayScan: StrayScan): Unit = {
    require(keys.nonEmpty, "upsert requires key columns")
    val strayQ = strayScan match {
      case StrayScan.Full => Seq("stray" -> "full")
      case StrayScan.Off  => Seq("stray" -> "off")
      case StrayScan.Bounded(lo, hi) =>
        val (lk, lv) = encodeAny(lo); val (hk, hv) = encodeAny(hi)
        Seq("stray" -> "bounded", "sLo" -> lv, "sLoK" -> lk,
            "sHi" -> hv, "sHiK" -> hk)
    }
    val kcQ = knownChunks.map(c => Seq("kc" -> c.mkString("\n"))).getOrElse(Seq.empty)
    upload(patch, "upsert", Seq("keys" -> keys.mkString(",")) ++ strayQ ++ kcQ)
  }

  /** The whole sync runs on the server: the batch stages once (the
    * per-partition, per-attempt upload above) and one `sync` call runs the
    * server's engine over its own store — the diff against the backtrack
    * window, the apply as one write, autoincrement minting under the
    * server store's lease, and the attempts of the engine's retry loop,
    * as many and as spaced as the client engine's. The stored schema
    * comes back with the counts and refreshes the schema cache. */
  override def syncRemote(batch: DataFrame, checkExisting: Boolean, retries: Int,
                          retryBaseSleepMs: Long): Option[SyncResult] = {
    val wid = java.util.UUID.randomUUID().toString
    stage(batch, wid)
    val out = graft.Session.mapper.readTree(call("POST", u("sync", "wid" -> wid,
      "schema" -> batch.schema.toDDL, "check" -> checkExisting.toString,
      "retries" -> retries.toString, "retrySleepMs" -> retryBaseSleepMs.toString)))
    ApiStore.schemaCache.put(schemaKey, Some(out.get("schema").asText()))
    Some(SyncResult(out.get("inserted").asLong(), out.get("updated").asLong(),
      out.get("attempts").asInt(),
      out.get("attemptErrors").elements().asScala.map(_.asText()).toSeq))
  }

  // ── deletion / maintenance ─────────────────────────────────────────────

  override def clear(predicate: Column, boundLo: Option[Any],
                     boundHi: Option[Any]): Unit = {
    // the predicate crosses the wire as its SQL form — the engine builds
    // clear predicates from params/bounds (literals + comparisons), which
    // round-trip through expr() exactly
    val sqlQ = Seq("sql" ->
      org.apache.spark.sql.GraftColumnBridge.expressionNow(predicate).sql)
    val loQ = boundLo.map(encodeAny).toSeq.flatMap { case (k, v) =>
      Seq("lo" -> v, "loK" -> k) }
    val hiQ = boundHi.map(encodeAny).toSeq.flatMap { case (k, v) =>
      Seq("hi" -> v, "hiK" -> k) }
    call("POST", u("clear", (sqlQ ++ loQ ++ hiQ): _*))
    invalidateSchema()
  }

  override def deduplicate(keys: Seq[String], orderBy: Seq[String]): Long = {
    require(keys.nonEmpty, "deduplicate requires key columns")
    val n = call("POST", u("dedup", "keys" -> keys.mkString(","),
      "orderBy" -> orderBy.mkString(","))).toLong
    invalidateSchema()
    n
  }

  override def drop(): Unit = { call("DELETE", u("drop")); invalidateSchema() }

  override def compact(): Unit = { call("POST", u("compact")); () }
  override def vacuum(): Unit = { call("POST", u("vacuum")); () }

  // ── sync bookkeeping ───────────────────────────────────────────────────

  override def syncTime(newest: Boolean): Option[LocalDateTime] =
    Some(call("GET", u("sync_time", "newest" -> newest.toString)))
      .filter(_.nonEmpty).map(LocalDateTime.parse)

  override def syncTimeEpoch(newest: Boolean): Option[Long] =
    Some(call("GET", u("sync_time", "newest" -> newest.toString,
      "epoch" -> "true"))).filter(_.nonEmpty).map(_.toLong)

  override def readMaxId: Option[Long] =
    Some(call("GET", u("maxid"))).filter(_.nonEmpty).map(_.toLong)

  override def writeMaxId(v: Long): Unit = {
    call("POST", u("maxid", "v" -> v.toString)); ()
  }

  /** Server-held TTL'd advisory lease — the HTTP form of the parquet
    * store's lock file. Re-entrant per (thread, server, root, target);
    * contention past the acquire timeout fails loudly, and a broken lease
    * (server forgot us past the TTL) warns on release like the parquet
    * backend. */
  override def withWriteLease[A](body: => A): A = {
    val key = s"$baseUrl|$root|$target"
    val held = ApiStore.heldLeases.get()
    if (held.contains(key)) return body
    val token = java.util.UUID.randomUUID().toString
    val acquireUrl = u("lock", "op" -> "acquire", "token" -> token,
      "ttlMs" -> PipeStorage.leaseStaleMs.toString)
    val deadline = System.currentTimeMillis() + PipeStorage.leaseAcquireTimeoutMs
    var acquired = false
    while (!acquired) {
      val (code, _) = request("POST", acquireUrl)
      if (code == 200) acquired = true
      else if (code == 409) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"could not acquire writer lease on $target within " +
            s"${PipeStorage.leaseAcquireTimeoutMs}ms — a concurrent writer holds it")
        Thread.sleep(25)
      } else throw new java.io.IOException(s"lease acquire -> HTTP $code")
    }
    held += key
    // HEARTBEAT: the server lock is a hard TTL — a leased operation longer
    // than leaseStaleMs would silently lose mutual exclusion mid-write
    // without renewal (the parquet backend heartbeats for the same reason).
    // A failed renew means the lease is gone; stop beating (release warns).
    val renewUrl = u("lock", "op" -> "renew", "token" -> token,
      "ttlMs" -> PipeStorage.leaseStaleMs.toString)
    val beatBroken = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = PipeStorage.leaseScheduler.scheduleAtFixedRate(
      () => try {
        if (!beatBroken.get() && request("POST", renewUrl)._1 != 200)
          beatBroken.set(true)
      } catch { case _: Exception => () },
      PipeStorage.leaseStaleMs / 3, PipeStorage.leaseStaleMs / 3,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      held -= key
      beat.cancel(false)
      val (code, _) = request("POST",
        u("lock", "op" -> "release", "token" -> token))
      if (code == 410) System.err.println(
        s"[graft] WARNING: writer lease on $target was broken while held — " +
        "a concurrent writer may have interleaved")
    }
  }
}

object ApiStore {

  /** Store factory for [[graft.sync.SyncEngine]] — point the engine at a
    * running [[graft.server.PipeServer]] and every pipe under the engine's
    * root lives on that instance. */
  def factory(baseUrl: String): (SparkSession, String, PipeSpec) => InstanceStore =
    (s, root, spec) => new ApiStore(s, baseUrl, root, spec)

  private val heldLeases = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  /** Concurrent staged-upload streams per patch (executor-side POSTs). */
  private val UploadParallelism = 8

  /** Spec registration is idempotent server-side; cache by value so the
    * common handle-per-op pattern costs one POST per distinct spec. */
  private val registered =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), PipeSpec]

  /** Process-wide schema-DDL cache (see instance doc on [[ApiStore.schemaDdl]]).
    * Value None = server answered 404 (pipe has no schema yet). */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Option[String]]
  private def ensureRegistered(spark: SparkSession, baseUrl: String,
                               root: String, spec: PipeSpec): Unit = {
    val key = (baseUrl, root, spec.targetName)
    if (!registered.get(key).contains(spec)) {
      val json = PipeServer.specToJson(spark, spec)
      val url = s"$baseUrl/pipes/register?root=${enc(root)}"
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) throw new java.io.IOException(
        s"register $url -> HTTP ${resp.statusCode()}: ${resp.body()}")
      registered.put(key, spec)
      ()
    }
  }

  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** Raw request: (status, body). */
  private def request(method: String, url: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case "POST"   => b.POST(HttpRequest.BodyPublishers.noBody())
      case m        => throw new IllegalArgumentException(m)
    }
    val resp = client.send(req.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Request + server-exception mapping (class doc). */
  private def call(method: String, url: String): String = {
    val (code, body) = request(method, url)
    if (code / 100 == 2) body
    else if (code == 500) {
      val i = body.indexOf(": ")
      val (cls, msg) =
        if (i >= 0) (body.take(i), body.drop(i + 2)) else ("", body)
      cls match {
        case "java.lang.IllegalArgumentException" =>
          throw new IllegalArgumentException(msg)
        case "java.lang.IllegalStateException" =>
          throw new IllegalStateException(msg)
        case _ => throw new java.io.IOException(s"$method $url -> $body")
      }
    } else throw new java.io.IOException(s"$method $url -> HTTP $code: $body")
  }
}
