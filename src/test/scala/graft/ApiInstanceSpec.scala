package graft

import graft.sync.SyncEngine

/** One live [[graft.server.PipeServer]] shared by the HTTP-backend suites
  * (daemon threads; dies with the test JVM). */
object TestPipeServer {
  lazy val server = new graft.server.PipeServer(TestSpark.spark,
    java.nio.file.Files.createTempDirectory("graft-api-server").toString)
}

/** The HTTP instance backend — the SAME behavior suite as the parquet and
  * in-memory backends, but every store call crosses a process-boundary
  * seam (HTTP + ND-JSON + DDL schema transfer). Reference: the api
  * connector implements the instance interface over FastAPI routes
  * (connectors/api/_pipes.py:368-489). */
class ApiStoreSyncEngineSpec extends SyncEngineSuite {
  override protected def fileBacked = false
  protected def mkEngine(root: String) =
    new SyncEngine(spark, root,
      storeFactory = graft.storage.ApiStore.factory(TestPipeServer.server.url))
}

/** HTTP-seam specifics the shared suite doesn't reach: the typed wire
  * codec, the advisory lease, and server-side error mapping. */
class ApiInstanceSpec extends SparkSpec {
  import java.time.LocalDateTime
  import org.apache.spark.sql.functions._
  import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
  import spark.implicits._

  private def mkStore(name: String, roles: Map[String, String] = Map(
      "datetime" -> "dt", "id" -> "id")) =
    new graft.storage.ApiStore(spark, TestPipeServer.server.url, tmpDir(),
      PipeSpec(PipeKeys("api", name), columns = ColumnRoles(roles)))

  private def df3 = Seq(
      ("2024-01-01 00:00:00", 1L, 1.5),
      ("2024-01-02 00:00:00", 2L, 2.5),
      ("2024-01-03 00:00:00", 3L, 3.5))
    .toDF("dts", "id", "val")
    .withColumn("dt", to_timestamp_ntz(col("dts"))).drop("dts")
    .select("dt", "id", "val")

  test("spec round-trips the wire as the catalog's SpecRow JSON") {
    val spec = PipeSpec(PipeKeys("a", "b", Some("loc")),
      columns = ColumnRoles(Map("datetime" -> "dt", "primary" -> "pk")),
      dtypes = Map("v" -> graft.types.Dtypes.parse("float")),
      upsert = true, nullIndices = true, backtrackMinutes = 7,
      epochUnit = Some("second"), tags = Seq("t1", "t2"),
      extras = Map("owner" -> "ops"))
    val json = graft.server.PipeServer.specToJson(spark, spec)
    assert(graft.server.PipeServer.specFromJson(spark, json) == spec)
  }

  test("readRange honors endInclusive and the typed ts codec over HTTP") {
    val st = mkStore("range")
    st.create(df3)
    val b = Some(LocalDateTime.parse("2024-01-01T00:00:00"))
    val e = Some(LocalDateTime.parse("2024-01-02T00:00:00"))
    assert(st.readRange(b, e).count() == 1)
    assert(st.readRange(b, e, endInclusive = true).count() == 2)
    // sub-millisecond precision survives the ND-JSON round trip
    val fine = Seq(("2024-01-05 00:00:00.000001", 9L, 9.0))
      .toDF("dts", "id", "val")
      .withColumn("dt", to_timestamp_ntz(col("dts"))).drop("dts")
      .select("dt", "id", "val")
    st.append(fine)
    val got = st.readIn(Seq(LocalDateTime.parse("2024-01-05T00:00:00.000001")))
    assert(got.count() == 1 && got.select("id").as[Long].head() == 9L)
  }

  test("sync bookkeeping over HTTP: sync_time, epoch, maxid, dedup count") {
    val st = mkStore("book")
    st.create(df3.unionAll(df3)) // duplicated rows
    assert(st.syncTime(newest = true).contains(LocalDateTime.parse("2024-01-03T00:00:00")))
    assert(st.syncTime(newest = false).contains(LocalDateTime.parse("2024-01-01T00:00:00")))
    // epoch bookmark is an epoch-axis contract (both file/memory backends
    // reject it on an NTZ axis the same way)
    val epochStore = new graft.storage.ApiStore(spark, TestPipeServer.server.url,
      tmpDir(), PipeSpec(PipeKeys("api", "book_epoch"),
        columns = ColumnRoles(Map("datetime" -> "ts", "id" -> "id")),
        epochUnit = Some("second")))
    epochStore.create(Seq((100L, 1L), (200L, 2L)).toDF("ts", "id"))
    assert(epochStore.syncTimeEpoch(newest = true).contains(200L))
    assert(epochStore.syncTimeEpoch(newest = false).contains(100L))
    assert(st.readMaxId.isEmpty)
    st.writeMaxId(41L)
    assert(st.readMaxId.contains(41L))
    assert(st.deduplicate(Seq("dt", "id"), Seq("dt")) == 3L)
    assert(st.rowCount == 3L)
  }

  test("server errors surface as the engine's contract exception types") {
    val st = mkStore("errs", roles = Map("id" -> "id")) // no datetime axis
    st.create(df3.select("id", "val"))
    intercept[IllegalArgumentException] {
      st.readRange(Some(LocalDateTime.parse("2024-01-01T00:00:00")), None)
    }
    // an UNREGISTERED pipe: the server answers 500 with the contract
    // exception class for the client to map
    val resp = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"${TestPipeServer.server.url}/pipes/count?root=unseen&target=nope"))
        .GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 500 &&
      resp.body().startsWith("java.lang.IllegalArgumentException"))
  }

  private def http(method: String, url: String, body: String = ""): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
    val req = (if (method == "POST")
      b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)) else b.GET()).build()
    val resp = java.net.http.HttpClient.newHttpClient()
      .send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  test("commit applies exactly one sealed attempt per partition (task-retry safe)") {
    val root = tmpDir()
    val st = new graft.storage.ApiStore(spark, TestPipeServer.server.url, root,
      PipeSpec(PipeKeys("api", "stagedup"),
        columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id"))))
    st.create(df3)
    val base = TestPipeServer.server.url
    val tq = s"root=${enc(root)}&target=${enc(st.spec.targetName)}"
    val wid = "retry-test-1"
    val row = (id: Long) => s"""{"dt":"2024-02-0${id}T00:00:00.000000","id":$id,"val":$id.5}"""
    // attempt 7 staged one batch then DIED (no done marker)
    assert(http("POST", s"$base/pipes/stage?$tq&wid=$wid&pid=0&att=7&seq=0",
      Seq(row(4), row(5)).mkString("\n"))._1 == 200)
    // retry attempt 8 staged the same partition fully and sealed it
    assert(http("POST", s"$base/pipes/stage?$tq&wid=$wid&pid=0&att=8&seq=0",
      Seq(row(4), row(5)).mkString("\n"))._1 == 200)
    assert(http("POST", s"$base/pipes/stage_done?$tq&wid=$wid&pid=0&att=8&n=1")._1 == 200)
    val ddl = enc(df3.schema.toDDL)
    assert(http("POST",
      s"$base/pipes/commit?$tq&wid=$wid&mode=append&schema=$ddl")._1 == 200)
    // the dead attempt's rows must NOT double in: 3 baseline + 2, not + 4
    assert(st.rowCount == 5L)

    // a partition whose every attempt died mid-stage must fail the commit
    val wid2 = "retry-test-2"
    assert(http("POST", s"$base/pipes/stage?$tq&wid=$wid2&pid=0&att=9&seq=0",
      row(6))._1 == 200)
    val (code, msg) = http("POST",
      s"$base/pipes/commit?$tq&wid=$wid2&mode=append&schema=$ddl")
    assert(code == 500 && msg.contains("no complete sealed attempt"), msg)
    assert(st.rowCount == 5L, "a failed commit must not apply rows")
  }

  /** Stages two rows under `wid`, one partition: a dead attempt 7 (one
    * part, never sealed), then each of `sealedAttempts` staging the same
    * rows and sealing them. */
  private def stageAttempts(tq: String, wid: String, sealedAttempts: Seq[Int]): Unit = {
    val base = TestPipeServer.server.url
    val row = (id: Long) => s"""{"dt":"2024-02-0${id}T00:00:00.000000","id":$id,"val":$id.5}"""
    val rows = Seq(row(4), row(5)).mkString("\n")
    assert(http("POST", s"$base/pipes/stage?$tq&wid=$wid&pid=0&att=7&seq=0", rows)._1 == 200)
    sealedAttempts.foreach { att =>
      assert(http("POST", s"$base/pipes/stage?$tq&wid=$wid&pid=0&att=$att&seq=0", rows)._1 == 200)
      assert(http("POST", s"$base/pipes/stage_done?$tq&wid=$wid&pid=0&att=$att&n=1")._1 == 200)
    }
  }

  test("sync applies a duplicated task attempt exactly once") {
    val root = tmpDir()
    val st = new graft.storage.ApiStore(spark, TestPipeServer.server.url, root,
      PipeSpec(PipeKeys("api", "sync_dup"),
        columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id"))))
    st.create(df3)
    val tq = s"root=${enc(root)}&target=${enc(st.spec.targetName)}"
    // a retried task (7 died) and a speculative duplicate (8 and 9 both
    // sealed): a blind sync does not dedupe, so only the staging can
    stageAttempts(tq, "sync-dup-1", Seq(8, 9))
    val (code, body) = http("POST", s"${TestPipeServer.server.url}/pipes/sync?$tq" +
      s"&wid=sync-dup-1&schema=${enc(df3.schema.toDDL)}&check=false")
    assert(code == 200, body)
    val out = graft.Session.mapper.readTree(body)
    assert(out.get("inserted").asLong() == 2L && out.get("updated").asLong() == 0L, body)
    assert(st.rowCount == 5L)
    assert(!new java.io.File(TestPipeServer.server.stageDir.toFile, "sync-dup-1").exists)
  }

  test("sync with a partition that has no sealed attempt fails and applies nothing") {
    val root = tmpDir()
    val st = new graft.storage.ApiStore(spark, TestPipeServer.server.url, root,
      PipeSpec(PipeKeys("api", "sync_unsealed"),
        columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id"))))
    st.create(df3)
    def table = st.read.orderBy("id").collect().toSeq
    val before = table
    val tq = s"root=${enc(root)}&target=${enc(st.spec.targetName)}"
    stageAttempts(tq, "sync-unsealed-1", Seq.empty)
    val (code, msg) = http("POST", s"${TestPipeServer.server.url}/pipes/sync?$tq" +
      s"&wid=sync-unsealed-1&schema=${enc(df3.schema.toDDL)}&check=true")
    assert(code == 500 && msg.startsWith("java.lang.IllegalStateException") &&
      msg.contains("no complete sealed attempt"), msg)
    assert(st.rowCount == 3L)
    assert(table == before)
    assert(!new java.io.File(TestPipeServer.server.stageDir.toFile, "sync-unsealed-1").exists)
  }

  /** The server runs the client engine's attempts: against a store whose
    * writes fail, a client with `retries = 1` makes exactly one attempt
    * and one with `retries = 2` two (the server's default is 3). */
  test("a remote sync runs the client engine's retries and backoff") {
    import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
    val creates = new java.util.concurrent.atomic.AtomicInteger
    val failing: (org.apache.spark.sql.SparkSession, String, PipeSpec) =>
        graft.storage.InstanceStore = (s, r, sp) => {
      val inner = new graft.storage.PipeStorage(s, r, sp)
      Proxy.newProxyInstance(classOf[graft.storage.InstanceStore].getClassLoader,
        Array(classOf[graft.storage.InstanceStore]), new InvocationHandler {
          def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            if (m.getName == "create") {
              creates.incrementAndGet()
              throw new IllegalStateException("store write failed")
            } else
              try m.invoke(inner, (if (args == null) Array.empty[AnyRef] else args): _*)
              catch { case e: InvocationTargetException => throw e.getCause }
        }).asInstanceOf[graft.storage.InstanceStore]
    }
    val srv = new graft.server.PipeServer(spark, tmpDir(), failing)
    try Seq(1, 2).foreach { retries =>
      creates.set(0)
      val eng = new SyncEngine(spark, tmpDir(), retries = retries, retryBaseSleepMs = 1,
        storeFactory = graft.storage.ApiStore.factory(srv.url))
      val spec = PipeSpec(PipeKeys("api", "sync_retries"),
        columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id")))
      val e = intercept[IllegalStateException](eng.sync(spec, df3))
      assert(e.getMessage.contains("store write failed"), e.getMessage)
      assert(creates.get == retries, s"retries = $retries made ${creates.get} attempts")
    } finally srv.stop()
  }

  test("a sync over HTTP persists the same catalog dtypes as a local sync") {
    import graft.types.MrsmType
    def dtypes(storeFactory: Option[(org.apache.spark.sql.SparkSession, String, PipeSpec) =>
        graft.storage.InstanceStore]): Map[String, MrsmType] = {
      val cat = new graft.catalog.PipeCatalog()
      val eng = storeFactory.map(f => new SyncEngine(spark, tmpDir(), catalog = Some(cat),
        storeFactory = f)).getOrElse(new SyncEngine(spark, tmpDir(), catalog = Some(cat)))
      val spec = PipeSpec(PipeKeys("api", "catalog_dtypes"),
        columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id")))
      def rows(v: org.apache.spark.sql.Column, day: Int) =
        Seq((s"2024-01-0$day 00:00:00", day.toLong, s"""{"k":$day}""")).toDF("dts", "id", "doc")
          .withColumn("dt", to_timestamp_ntz(col("dts"))).drop("dts").withColumn("val", v)
      eng.sync(spec, rows(lit(10L), 1))
      // int val promotes to numeric; a string column is added
      eng.sync(spec, rows(lit(1.5), 2).withColumn("extra", lit("x")))
      cat.get(spec.keys).get.dtypes
    }
    val remote = dtypes(Some(graft.storage.ApiStore.factory(TestPipeServer.server.url)))
    assert(remote == dtypes(None))
    assert(remote("doc") == MrsmType.MJson && remote("extra") == MrsmType.MStr)
    assert(remote("val").isInstanceOf[MrsmType.MNumeric])
  }

  test("client self-heals registration after a server restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-restart").toString
    val s1 = new graft.server.PipeServer(spark, dir)
    val spec = PipeSpec(PipeKeys("api", "heal"),
      columns = ColumnRoles(Map("datetime" -> "dt", "id" -> "id")))
    val st = new graft.storage.ApiStore(spark, s1.url, tmpDir(), spec)
    st.create(df3)
    assert(st.rowCount == 3L)
    val port = s1.port
    s1.stop()
    // rebind the same port: same baseUrl, fresh (empty) in-memory registry
    val s2 = {
      var srv: graft.server.PipeServer = null
      var tries = 0
      while (srv == null) {
        try srv = new graft.server.PipeServer(spark, dir, bindPort = port)
        catch { case e: java.net.BindException =>
          tries += 1; if (tries > 50) throw e; Thread.sleep(100) }
      }
      srv
    }
    try {
      // the cached registration is stale; the call must re-register and
      // succeed instead of failing forever with "not registered"
      assert(st.rowCount == 3L)
    } finally s2.stop()
  }

  test("HTTP lease heartbeat renews past the server TTL") {
    import graft.storage.PipeStorage
    val saved = (PipeStorage.leaseStaleMs, PipeStorage.leaseAcquireTimeoutMs)
    PipeStorage.leaseStaleMs = 400L
    PipeStorage.leaseAcquireTimeoutMs = 200L
    try {
      val st = mkStore("renew")
      @volatile var intruded = false
      st.withWriteLease {
        Thread.sleep(900) // 2× the TTL: only the heartbeat keeps the lease
        val t = new Thread(() =>
          try st.withWriteLease { intruded = true }
          catch { case _: IllegalStateException => () })
        t.start(); t.join(5000)
      }
      assert(!intruded, "a renewed lease must not be acquirable by a second writer")
    } finally {
      PipeStorage.leaseStaleMs = saved._1
      PipeStorage.leaseAcquireTimeoutMs = saved._2
    }
  }

  test("HTTP writer lease serializes two client threads") {
    val st1 = mkStore("lease")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t1 = new Thread(() => st1.withWriteLease {
      events.add("a-in"); Thread.sleep(300); events.add("a-out")
    })
    t1.start(); Thread.sleep(60) // let A acquire first
    val t2 = new Thread(() => st1.withWriteLease {
      events.add("b-in"); events.add("b-out")
    })
    t2.start(); t1.join(10000); t2.join(10000)
    assert(events.toArray.toSeq == Seq("a-in", "a-out", "b-in", "b-out"),
      s"lease did not serialize: ${events.toArray.toSeq}")
  }
}
