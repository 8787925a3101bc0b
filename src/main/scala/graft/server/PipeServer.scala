package graft.server

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{PipeCatalogStore, PipeSpec}
import graft.storage.{InstanceStore, PipeStorage, StrayScan}
import graft.sync.SyncEngine

/** HTTP pipe-instance server — the serving half of the reference's API
  * connector (the reference runs a FastAPI app, `meerschaum/api/`, whose
  * pipe routes — register / sync-in / data-out / sync_time / rowcount /
  * clear / drop — are consumed by `connectors/api/_pipes.py:368-489`; a
  * remote instance is then a first-class pipes backend). This server
  * exposes the SAME seam our engine already standardizes on: every route
  * maps 1:1 onto an [[InstanceStore]] method, so any registered backend
  * (parquet by default) is served without route-specific logic, and the
  * [[graft.storage.ApiStore]] client implements `InstanceStore` against
  * these routes — the HTTP round-trip is the proof the seam serializes.
  *
  * Route map (all under `/pipes/<op>`, identity via `root`+`target` query
  * params — the four-key identity is inside the registered spec):
  *   - POST `register` (body: SpecRow JSON)  → bind spec+store
  *   - GET  `exists` | `count` | `schema` | `sync_time` | `maxid`
  *   - GET  `data?begin&beginK&end&endK&endIncl` → ND-JSON rows
  *   - GET  `in?values&kind` → ND-JSON rows
  *   - POST `stage?wid&pid&att&seq` (body: ND-JSON) → buffer one batch of
  *     one task attempt; POST `stage_done?wid&pid&att&n` seals the attempt
  *   - POST `commit?wid&mode&keys&stray…` → one store write of the staged
  *     rows; POST `sync?wid&schema&check&retries&retrySleepMs` → the
  *     server's `SyncEngine.sync` of them into the store, with the client
  *     engine's attempts and backoff (the engine defaults when absent),
  *     answering the `SyncResult` and stored DDL.
  *     Both take one complete sealed attempt per partition (retry- and
  *     speculation-safe) and remove the staged parts either way
  *   - POST `clear?sql&lo…` | `dedup?keys&orderBy` | `maxid?v`
  *   - POST `lock?op&token&ttlMs` → TTL'd advisory writer lease
  *   - POST `compact` | `vacuum`;  DELETE `drop`
  *
  * Scale shape: uploads are executor-parallel (each task POSTs its own
  * `stage` part; `commit` or `sync` is one driver call that applies the
  * whole batch under the server store's write lease), so row data never
  * funnels through the CLIENT driver. The server itself materializes
  * responses — the same driver-funnel the reference API accepts
  * (`_pipes.py:430-470`); a production deployment shards by pipe across
  * server instances, which this design permits because all state is
  * per-(root, target).
  */
final class PipeServer(
    spark: SparkSession, baseDir: String,
    storeFactory: (SparkSession, String, PipeSpec) => InstanceStore =
      (s, r, sp) => new PipeStorage(s, r, sp),
    bindPort: Int = 0) {

  import PipeServer._

  private val stores = TrieMap.empty[(String, String), (PipeSpec, InstanceStore)]
  /** Advisory writer leases: (root, target) → (token, expiresAtMs). */
  private val locks = TrieMap.empty[(String, String), (String, Long)]
  private val lockGate = new Object

  // TCP_NODELAY on response sockets: the JDK server writes headers and body
  // as separate sends, and with Nagle on, the body segment waits for the
  // client's delayed ACK — a flat ~40 ms tax on EVERY small response
  // (measured: `exists` 45 ms → 3 ms). Must be set before server creation.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", bindPort), 0)
  val port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  /** Per-client-root server directory — roots are arbitrary client paths,
    * so they map to a digest dir instead of being trusted as paths. */
  private def rootDir(clientRoot: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(clientRoot.getBytes(UTF_8)).map("%02x".format(_)).mkString
    s"$baseDir/$d"
  }

  private def store(root: String, target: String): (PipeSpec, InstanceStore) =
    stores.getOrElse((root, target),
      throw new IllegalArgumentException(
        s"pipe '$target' is not registered on this instance"))

  server.createContext("/pipes", (x: HttpExchange) =>
    try {
      val op = x.getRequestURI.getPath.stripPrefix("/pipes").stripPrefix("/")
      val q  = params(x)
      handle(x, op, q)
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        respond(x, 500, msg)
    } finally x.close())
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
    r => { val t = new Thread(r, "graft-pipe-server"); t.setDaemon(true); t }))
  server.start()

  def stop(): Unit = server.stop(0)

  // ── dispatch ───────────────────────────────────────────────────────────

  private def handle(x: HttpExchange, op: String, q: Map[String, String]): Unit = {
    val method = x.getRequestMethod
    def root   = q("root")
    def target = q("target")
    (method, op) match {
      case ("POST", "register") =>
        val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
        val spec = specFromJson(spark, body)
        stores.put((root, spec.targetName),
          (spec, storeFactory(spark, rootDir(root), spec)))
        respond(x, 200, "ok")

      case ("GET", "exists") =>
        respond(x, 200, store(root, target)._2.exists.toString)

      case ("GET", "schema") =>
        val (_, st) = store(root, target)
        st.schemaDdl match {
          case Some(ddl) => respond(x, 200, ddl)
          case None      => respond(x, 404, "no data")
        }

      case ("GET", "count") =>
        respond(x, 200, store(root, target)._2.rowCount.toString)

      case ("GET", "sync_time") =>
        val (_, st) = store(root, target)
        val newest = q.getOrElse("newest", "true").toBoolean
        val out =
          if (q.getOrElse("epoch", "false").toBoolean)
            st.syncTimeEpoch(newest).map(_.toString)
          else st.syncTime(newest).map(_.toString)
        respond(x, 200, out.getOrElse(""))

      case ("GET", "maxid") =>
        respond(x, 200, store(root, target)._2.readMaxId.map(_.toString).getOrElse(""))

      case ("POST", "maxid") =>
        store(root, target)._2.writeMaxId(q("v").toLong)
        respond(x, 200, "ok")

      case ("GET", "data") =>
        val (_, st) = store(root, target)
        val df = st.readRange(
          q.get("begin").map(decodeAny(q("beginK"), _)),
          q.get("end").map(decodeAny(q("endK"), _)),
          endInclusive = q.getOrElse("endIncl", "false").toBoolean)
        respondNdjson(x, df)

      case ("GET", "in") =>
        val (_, st) = store(root, target)
        val vals = q.get("values").filter(_.nonEmpty)
          .map(_.split(",").toSeq.map(decodeAny(q("kind"), _)))
          .getOrElse(Seq.empty)
        respondNdjson(x, st.readIn(vals))

      case ("POST", "stage") =>
        // one file per (partition, attempt, batch) — concurrent POSTs from
        // retried/speculative tasks land in distinct files, never appended
        val dir = stagingDir(q("wid"))
        val (pid, att, seq) = (q("pid").toLong, q("att").toLong, q("seq").toLong)
        val f = new java.io.File(dir, s"p${pid}_a${att}_s$seq.part")
        val out = new java.io.FileOutputStream(f, false)
        try x.getRequestBody.transferTo(out) finally out.close()
        respond(x, 200, "ok")

      case ("POST", "stage_done") =>
        // seals one attempt of one partition: `n` is its batch count
        val dir = stagingDir(q("wid"))
        val (pid, att) = (q("pid").toLong, q("att").toLong)
        java.nio.file.Files.write(
          new java.io.File(dir, s"p${pid}_a$att.done").toPath,
          q("n").getBytes(UTF_8))
        respond(x, 200, "ok")

      case ("POST", "commit") =>
        val (_, st) = store(root, target)
        withStaged(q("wid"), StructType.fromDDL(q("schema"))) { df =>
          q("mode") match {
            case "create"    => st.create(df)
            case "overwrite" => st.overwrite(df)
            case "append"    => st.append(df)
            case "upsert" =>
              val stray = q.getOrElse("stray", "full") match {
                case "off"  => StrayScan.Off
                case "full" => StrayScan.Full
                case "bounded" => StrayScan.Bounded(
                  decodeAny(q("sLoK"), q("sLo")), decodeAny(q("sHiK"), q("sHi")))
              }
              st.upsert(df, q("keys").split(",").toSeq,
                q.get("kc").filter(_.nonEmpty).map(_.split("\n").toSeq.filter(_.nonEmpty)),
                stray)
            case m => throw new IllegalArgumentException(s"unknown mode: $m")
          }
        }
        respond(x, 200, "ok")

      case ("POST", "sync") =>
        val (spec, st) = store(root, target)
        val r = withStaged(q("wid"), StructType.fromDDL(q("schema"))) { df =>
          new SyncEngine(spark, rootDir(root),
            retries = q.get("retries").fold(SyncEngine.DefaultRetries)(_.toInt),
            retryBaseSleepMs = q.get("retrySleepMs")
              .fold(SyncEngine.DefaultRetryBaseSleepMs)(_.toLong),
            storeFactory = (_, _, _) => st)
            .sync(spec, df, checkExisting = q("check").toBoolean)
        }
        respond(x, 200, graft.Session.mapper.writeValueAsString(Map(
          "inserted" -> r.inserted, "updated" -> r.updated, "attempts" -> r.attempts,
          "attemptErrors" -> r.attemptErrors.asJava, "schema" -> st.schemaDdl.getOrElse("")).asJava))

      case ("POST", "clear") =>
        val (_, st) = store(root, target)
        st.clear(expr(q("sql")),
          q.get("lo").map(decodeAny(q("loK"), _)),
          q.get("hi").map(decodeAny(q("hiK"), _)))
        respond(x, 200, "ok")

      case ("POST", "dedup") =>
        val (_, st) = store(root, target)
        val removed = st.deduplicate(q("keys").split(",").toSeq,
          q.get("orderBy").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty))
        respond(x, 200, removed.toString)

      case ("DELETE", "drop") =>
        store(root, target)._2.drop()
        respond(x, 200, "ok")

      case ("POST", "compact") =>
        store(root, target)._2.compact(); respond(x, 200, "ok")

      case ("POST", "vacuum") =>
        store(root, target)._2.vacuum(); respond(x, 200, "ok")

      case ("POST", "lock") =>
        val key = (root, target)
        val token = q("token")
        q("op") match {
          case "acquire" =>
            val ttl = q.getOrElse("ttlMs", "600000").toLong
            val now = System.currentTimeMillis()
            val ok = lockGate.synchronized {
              locks.get(key) match {
                case Some((t, exp)) if t != token && exp > now => false
                case _ => locks.put(key, (token, now + ttl)); true
              }
            }
            if (ok) respond(x, 200, "ok") else respond(x, 409, "held")
          case "renew" =>
            // heartbeat: extend OUR lease (token must still match — an
            // expired-and-reclaimed lock belongs to someone else). An
            // expired-but-unclaimed lock renews fine: nobody was harmed.
            val ttl = q.getOrElse("ttlMs", "600000").toLong
            val ok = lockGate.synchronized {
              locks.get(key) match {
                case Some((t, _)) if t == token =>
                  locks.put(key, (token, System.currentTimeMillis() + ttl)); true
                case _ => false
              }
            }
            if (ok) respond(x, 200, "ok") else respond(x, 410, "not held")
          case "release" =>
            val mine = lockGate.synchronized {
              locks.get(key) match {
                case Some((t, _)) if t == token => locks.remove(key); true
                case _ => false
              }
            }
            if (mine) respond(x, 200, "ok") else respond(x, 410, "not held")
          case o => throw new IllegalArgumentException(s"unknown lock op: $o")
        }

      case (m, o) =>
        respond(x, 400, s"unknown route: $m /pipes/$o")
    }
  }

  // ── helpers ────────────────────────────────────────────────────────────

  private[graft] val stageDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_server_stage")
    d.toFile.deleteOnExit(); d
  }
  private def stagingDir(wid: String): java.io.File = {
    require(wid.matches("[A-Za-z0-9-]+"), s"bad write id: $wid")
    val d = stageDir.resolve(wid).toFile
    d.mkdirs(); d
  }

  /** `body` over the rows staged under `wid` (see [[selectStaged]]); the
    * staging dir is removed either way. */
  private def withStaged[A](wid: String, schema: StructType)(body: DataFrame => A): A =
    try {
      val files = selectStaged(wid).map(_.getAbsolutePath)
      body(if (files.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
           else spark.read.schema(schema).options(jsonOpts).json(files: _*))
    } finally { val d = stagingDir(wid); d.listFiles().foreach(_.delete()); d.delete(); () }

  /** Part files of exactly ONE sealed attempt per partition. A partition
    * with parts but no attempt that both sealed (`.done`) and has all its
    * `n` batches means every stage task for it died mid-upload — commit
    * must fail loudly, not apply a truncated patch. */
  private def selectStaged(wid: String): Seq[java.io.File] = {
    val all = stagingDir(wid).listFiles().toSeq
    val Part = "p(\\d+)_a(\\d+)_s(\\d+)\\.part".r
    val Done = "p(\\d+)_a(\\d+)\\.done".r
    val parts = all.flatMap(f => f.getName match {
      case Part(p, a, s) => Some(((p.toLong, a.toLong), (s.toLong, f)))
      case _ => None
    }).groupMap(_._1)(_._2)
    val sealedN = all.flatMap(f => f.getName match {
      case Done(p, a) => Some((p.toLong, a.toLong) ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8).trim.toLong)
      case _ => None
    }).toMap
    val byPid = (parts.keySet ++ sealedN.keySet).groupBy(_._1)
    byPid.toSeq.sortBy(_._1).flatMap { case (pid, attempts) =>
      val complete = attempts.toSeq.sorted.reverse.find { k =>
        sealedN.get(k).exists(_ == parts.getOrElse(k, Seq.empty).size.toLong)
      }
      complete match {
        case Some(k) => parts.getOrElse(k, Seq.empty).sortBy(_._1).map(_._2)
        case None => throw new IllegalStateException(
          s"staged write $wid: partition $pid has no complete sealed attempt")
      }
    }
  }

  private def params(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val a = kv.split("=", 2)
        (URLDecoder.decode(a(0), UTF_8), URLDecoder.decode(a(1), UTF_8))
      }.toMap

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) x.getResponseBody.write(b)
  }

  /** Rows out as ND-JSON — the server-side driver funnel the reference API
    * also accepts (connectors/api/_pipes.py:430-470 pulls chunk pages the
    * same way); the CLIENT stays executor-parallel on its side. */
  private def respondNdjson(x: HttpExchange, df: DataFrame): Unit = {
    val cols = df.columns
    val lines = df
      .select(to_json(struct(cols.map(col).toIndexedSeq: _*), jsonOptsJava).as("j"))
      .collect().map(_.getString(0))
    respond(x, 200, lines.mkString("\n"))
  }
}

object PipeServer {
  /** Wire format for timestamp-NTZ axes: full microseconds, both
    * directions — to_json's default drops sub-millis and the diff would
    * see phantom updates. */
  private[graft] val NtzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
  private[graft] val jsonOpts: Map[String, String] =
    Map("timestampNTZFormat" -> NtzFmt, "timestampFormat" -> NtzFmt)
  private[graft] val jsonOptsJava: java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    jsonOpts.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Typed scalar wire codec for bounds / IN-lists / stray-scan edges —
    * the kinds the engine actually passes as `Any` (datetime axes, epoch
    * longs, numeric or string keys). */
  private[graft] def encodeAny(v: Any): (String, String) = v match {
    case d: LocalDateTime          => ("ts", d.toString)
    case t: java.sql.Timestamp     => ("ts", t.toLocalDateTime.toString)
    case n: Long                   => ("long", n.toString)
    case n: Int                    => ("long", n.toString)
    case n: Double                 => ("double", n.toString)
    case other                     => ("str", String.valueOf(other))
  }
  private[graft] def decodeAny(kind: String, v: String): Any = kind match {
    case "ts"     => LocalDateTime.parse(v)
    case "long"   => v.toLong
    case "double" => v.toDouble
    case "str"    => v
    case k => throw new IllegalArgumentException(s"unknown value kind: $k")
  }

  /** Spec wire form: the catalog's persisted SpecRow JSON (one line) —
    * the same flat form `PipeCatalogStore` writes to disk, so the wire and
    * the registry never diverge. */
  private[graft] def specToJson(spark: SparkSession, spec: PipeSpec): String = {
    import spark.implicits._
    Seq(PipeCatalogStore.toRow(spec)).toDS().toJSON.head()
  }
  private[graft] def specFromJson(spark: SparkSession, json: String): PipeSpec = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders
      .product[PipeCatalogStore.SpecRow].schema
    PipeCatalogStore.fromRow(
      spark.read.schema(schema).json(Seq(json).toDS())
        .as[PipeCatalogStore.SpecRow].head())
  }
}
