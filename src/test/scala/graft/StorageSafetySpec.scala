package graft

import org.apache.spark.sql.functions._

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.storage.PipeStorage
import graft.sync.SyncEngine

/** Regression tests for the storage-core review findings: three-valued-logic
  * deletion in clear, crash-recovery of interrupted swaps, negative-epoch
  * chunk labels, pointer atomicity, and bounded reads on keyless pipes. */
class ClearNullSemanticsSpec extends SparkSpec {
  import spark.implicits._

  test("clear keeps rows whose predicate evaluates to NULL (SQL DELETE semantics)") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "clearnull"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 1L, Some("x")),
      (java.sql.Timestamp.valueOf("2024-01-05 11:00:00"), 2L, None),
      (java.sql.Timestamp.valueOf("2024-01-05 12:00:00"), 3L, Some("y"))
    ).toDF("ts", "id", "status")
    eng.sync(spec, df)
    // DELETE WHERE status = 'x': the NULL-status row evaluates NULL → KEPT
    eng.storage(spec).clear(col("status") === lit("x"))
    val left = eng.getData(spec).select($"id").as[Long].collect().toSet
    assert(left == Set(2L, 3L), "NULL-evaluating rows must survive a clear")
  }

  test("segment-pipe clear keeps NULL-evaluating rows too") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "clearnullseg"),
      columns = ColumnRoles(Map("primary" -> "id"))) // keyless axis → segments
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y"))).toDF("id", "status")
    eng.sync(spec, df)
    eng.storage(spec).clear(col("status") === lit("x"))
    assert(eng.getData(spec).select($"id").as[Long].collect().toSet == Set(2L, 3L))
  }
}

class SwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def mkPipe(root: String) = {
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "swap"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))
    val df = Seq.tabulate(50) { i =>
      (java.sql.Timestamp.valueOf(f"2024-0${i % 3 + 1}%d-10 10:00:00"), i.toLong, s"v$i")
    }.toDF("ts", "id", "v")
    eng.sync(spec, df)
    (eng, spec)
  }

  test("vacuum after a simulated mid-swap crash must not destroy the only copy") {
    val root = java.nio.file.Files.createTempDirectory("graft_swapcrash").toString
    val (eng, spec) = mkPipe(root)
    val before = eng.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq

    // simulate the crash window: move a live chunk dir into the backup dir
    // and write the intent file, exactly as swapChunks does before a crash
    // that hits between the backup move and the tmp move-in; the tmp holds
    // the complete rewritten chunk (here: identical content)
    val base = java.nio.file.Paths.get(new graft.storage.PipeStorage(spark, root, spec).basePath)
    val dataDir = base.resolve("data")
    val chunk = java.nio.file.Files.list(dataDir)
      .filter(p => p.getFileName.toString.startsWith("__graft_chunk="))
      .findFirst().get()
    val chunkName = chunk.getFileName.toString
    val tmp = base.resolve(".merge_tmp")
    java.nio.file.Files.createDirectories(tmp)
    // tmp part = copy of the live chunk (the "rewritten" output)
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val rel = src.relativize(p)
        val d = dst.resolve(rel.toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
        else java.nio.file.Files.copy(p, d)
      }
    }
    copyTree(chunk, tmp.resolve(chunkName))
    java.nio.file.Files.write(base.resolve(".swap_intent"),
      s".merge_tmp\nR $chunkName".getBytes("UTF-8"))
    // crash point: superseded live chunk deleted, tmp not yet moved in
    def deleteTree(p: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    deleteTree(chunk)

    // a NEW storage handle (fresh session state) must recover, and vacuum
    // must not delete the only surviving copy
    val eng2 = new SyncEngine(spark, root)
    eng2.storage(spec).vacuum()
    val after = eng2.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq
    assert(after == before, "recovery must roll the interrupted swap forward")
  }

  test("crash AFTER parts moved in but BEFORE intent cleanup keeps the new data") {
    // the advisor's window: every tmp part already renamed into data/, the
    // tmp holds no parts anymore, and the intent is still present. The old
    // heuristic (live + no tmp part + no backup → delete) destroyed the
    // only copy here; tagged intents must keep it.
    val root = java.nio.file.Files.createTempDirectory("graft_swapcrash2").toString
    val (eng, spec) = mkPipe(root)
    val before = eng.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq
    val base = java.nio.file.Paths.get(new graft.storage.PipeStorage(spark, root, spec).basePath)
    val chunkNames = java.nio.file.Files.list(base.resolve("data"))
      .filter(p => p.getFileName.toString.startsWith("__graft_chunk="))
      .map[String](_.getFileName.toString).toArray.toSeq.map(_.toString)
    assert(chunkNames.nonEmpty)
    // tmp exists but is drained (parts all moved in); intent lists them as R
    java.nio.file.Files.createDirectories(base.resolve(".merge_tmp"))
    java.nio.file.Files.write(base.resolve(".swap_intent"),
      (".merge_tmp" +: chunkNames.map("R " + _)).mkString("\n").getBytes("UTF-8"))

    val eng2 = new SyncEngine(spark, root)
    eng2.storage(spec).vacuum()
    val after = eng2.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq
    assert(after == before,
      "recovery must keep swapped-in chunks when the tmp part already moved")
  }

  test("PRE-TAG (legacy) intent files recover under the old backup protocol") {
    // an intent written by the previous release: bare dir names, old copy
    // in .swap_backup, new part in tmp. The tagged parser must NOT run
    // (it would treat every line as unknown and then delete backup+tmp —
    // both copies gone); the legacy roll-forward restores from tmp.
    val root = java.nio.file.Files.createTempDirectory("graft_swaplegacy").toString
    val (eng, spec) = mkPipe(root)
    val before = eng.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq
    val base = java.nio.file.Paths.get(new graft.storage.PipeStorage(spark, root, spec).basePath)
    val chunk = java.nio.file.Files.list(base.resolve("data"))
      .filter(p => p.getFileName.toString.startsWith("__graft_chunk="))
      .findFirst().get()
    val chunkName = chunk.getFileName.toString
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val rel = src.relativize(p)
        val d = dst.resolve(rel.toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
        else java.nio.file.Files.copy(p, d)
      }
    }
    val tmp = base.resolve(".merge_tmp")
    java.nio.file.Files.createDirectories(tmp)
    copyTree(chunk, tmp.resolve(chunkName))
    // legacy intent: NO R/C tags
    java.nio.file.Files.write(base.resolve(".swap_intent"),
      s".merge_tmp\n$chunkName".getBytes("UTF-8"))
    // old protocol: live moved OUT into the backup dir before the crash
    val backup = base.resolve(".swap_backup")
    java.nio.file.Files.createDirectories(backup)
    java.nio.file.Files.move(chunk, backup.resolve(chunkName))

    val eng2 = new SyncEngine(spark, root)
    eng2.storage(spec).vacuum()
    val after = eng2.getData(spec).orderBy($"id")
      .select($"id", $"v").as[(Long, String)].collect().toSeq
    assert(after == before, "legacy intent must roll forward, not destroy")
  }

  test("C-tagged (cleared) chunks roll forward to deletion on recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_swapcrash3").toString
    val (eng, spec) = mkPipe(root)
    val base = java.nio.file.Paths.get(new graft.storage.PipeStorage(spark, root, spec).basePath)
    val chunk = java.nio.file.Files.list(base.resolve("data"))
      .filter(p => p.getFileName.toString.startsWith("__graft_chunk="))
      .findFirst().get()
    val chunkName = chunk.getFileName.toString
    val beforeIds = eng.getData(spec).select($"id").as[Long].collect().toSet
    java.nio.file.Files.createDirectories(base.resolve(".clear_tmp"))
    java.nio.file.Files.write(base.resolve(".swap_intent"),
      s".clear_tmp\nC $chunkName".getBytes("UTF-8"))

    val eng2 = new SyncEngine(spark, root)
    eng2.storage(spec).vacuum()
    assert(!java.nio.file.Files.exists(base.resolve("data").resolve(chunkName)),
      "a C-tagged chunk must be deleted by roll-forward recovery")
    val after = eng2.getData(spec).select($"id").as[Long].collect().toSet
    assert(after.subsetOf(beforeIds) && after != beforeIds)
  }
}

class NegativeEpochLabelSpec extends SparkSpec {
  import spark.implicits._

  test("bounded reads agree with storage labels for negative epoch values") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "negepoch"),
      columns = ColumnRoles(Map("datetime" -> "t", "primary" -> "id")),
      epochUnit = Some("minute"), chunkMinutes = 2)
    val df = Seq((-3L, 1L), (-2L, 2L), (-1L, 3L), (0L, 4L), (1L, 5L), (2L, 6L))
      .toDF("t", "id")
    eng.sync(spec, df)
    val store = eng.storage(spec)
    // pre-epoch rows must be visible through the label-pruned range read
    val got = store.readRange(Some(-3L), Some(3L)).select($"id")
      .as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val neg = store.readRange(Some(-3L), Some(0L)).select($"id")
      .as[Long].collect().toSet
    assert(neg == Set(1L, 2L, 3L))
  }
}

class KeylessBoundsSpec extends SparkSpec {
  import spark.implicits._

  test("bounded reads on a pipe without a datetime axis refuse instead of lying") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "nodt"),
      columns = ColumnRoles(Map("primary" -> "id")))
    eng.sync(spec, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      eng.storage(spec).readRange(Some(java.time.LocalDateTime.now()), None).count()
    }
    // unbounded reads still work
    assert(eng.storage(spec).readRange(None, None).count() == 2)
  }
}

class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("two conflicting numerics WIDEN instead of degrading to string") {
    import graft.types.Dtypes
    import graft.types.MrsmType._
    val w = Dtypes.promote(MNumeric(38, 10), MNumeric(20, 5))
    assert(w == MNumeric(38, 10)) // max int digits (28) + max scale (10), capped 38
    assert(Dtypes.promote(MNumeric(10, 2), MNumeric(12, 6)) == MNumeric(14, 6))
  }

  test("PQ rejects codebooks beyond tinyint range instead of wrapping codes") {
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(8)((i % 7).toFloat))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.ops.SimilaritySearch.pqCodebooks(vecs, "vec_id", "embedding",
        m = 4, ks = 256)
    }
  }

  test("banded LSH rejects 64-bit band masks instead of going quadratic") {
    val vecs = Seq((0L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.ops.ApproxDedup.embeddingNearDups(vecs, "vec_id", "embedding",
        planes = graft.ops.SimilaritySearch.srpPlanes(4, 64), bands = 1, threshold = 0.5)
    }
  }

  test("saltedJoin refuses right/full outer joins that would duplicate rows") {
    val l = Seq((1L, "a")).toDF("k", "v")
    val r = Seq((2L, "b")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      graft.ops.Skew.saltedJoin(l, r, Seq("k"), salt = 4, joinType = "full_outer")
    }
  }

  test("big-endian multi-geometry members decode correctly") {
    import java.nio.{ByteBuffer, ByteOrder}
    // MULTIPOINT with ONE big-endian member: outer LE header, member BE
    val buf = ByteBuffer.allocate(1 + 4 + 4 + (1 + 4 + 16))
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(4).putInt(1) // LE MULTIPOINT, 1 member
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.put(0.toByte).putInt(1)           // BE POINT member
    buf.putDouble(30.0).putDouble(10.0)
    val wkt = graft.types.GeoWkb.wkbToWkt(buf.array())
    assert(wkt == "MULTIPOINT ((30.0 10.0))", s"got $wkt")
  }
}

/** Single-writer lease: two interleaved writers cannot both commit a
  * snapshot pointer or mint overlapping autoincrement ids. */
class WriterLeaseSpec extends SparkSpec {
  import spark.implicits._

  test("leased read-modify-write of the HWM serializes across threads") {
    val root = tmpDir()
    val spec = PipeSpec(PipeKeys("lease", "hwm"),
      columns = ColumnRoles(Map("primary" -> "id")))
    def mkStore() = new PipeStorage(spark, root, spec)
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        val st = mkStore() // each writer gets its OWN handle (own process in prod)
        (0 until 25).foreach { _ =>
          st.withWriteLease {
            val base = st.readMaxId.getOrElse(0L)
            Thread.sleep(1) // widen the race window
            st.writeMaxId(base + 1)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(mkStore().readMaxId.contains(50L),
      s"lost updates: ${mkStore().readMaxId}")
  }

  test("concurrent snapshot appends lose no segments") {
    val root = tmpDir()
    val spec = PipeSpec(PipeKeys("lease", "snap"),
      columns = ColumnRoles(Map("primary" -> "pk")))
    new SyncEngine(spark, root).sync(spec, Seq((0L, "seed")).toDF("pk", "v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          val st = new PipeStorage(spark, root, spec)
          (1 to 4).foreach { i =>
            st.append(Seq((t * 100L + i, s"w$t-$i")).toDF("pk", "v"))
          }
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"append failed: ${errs.peek()}")
    val got = new PipeStorage(spark, root, spec).read
    assert(got.count() == 9, "a concurrent append lost a segment commit")
    assert(got.select("pk").distinct().count() == 9)
  }

  test("two concurrent autoincrement syncs mint disjoint id ranges") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("lease", "ids"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")),
      autoincrement = true)
    eng.sync(spec, Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "seed"))
      .toDF("ts", "v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          eng.sync(spec, Seq.tabulate(20)(i =>
            (java.sql.Timestamp.valueOf(f"2024-01-02 ${t}%02d:${i}%02d:00"), s"w$t-$i"))
            .toDF("ts", "v"))
          ()
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"sync failed: ${errs.peek()}")
    val ids = eng.getData(spec).select($"id".cast("long")).as[Long].collect()
    assert(ids.length == 41 && ids.distinct.length == 41,
      s"overlapping minted ids: ${ids.sorted.toSeq}")
  }

  test("two concurrent BLIND autoincrement syncs mint disjoint id ranges") {
    // the blind path takes the mint lease inside syncBlind itself (not via
    // sync()'s retry wrapper) — this pins the disjoint-base guarantee there
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("lease", "blind_ids"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")),
      autoincrement = true)
    eng.sync(spec, Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "seed"))
      .toDF("ts", "v"), checkExisting = false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          eng.sync(spec, Seq.tabulate(20)(i =>
            (java.sql.Timestamp.valueOf(f"2024-01-02 ${t}%02d:${i}%02d:00"), s"b$t-$i"))
            .toDF("ts", "v"), checkExisting = false)
          ()
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"blind sync failed: ${errs.peek()}")
    val ids = eng.getData(spec).select($"id".cast("long")).as[Long].collect()
    assert(ids.length == 41 && ids.distinct.length == 41,
      s"overlapping minted ids: ${ids.sorted.toSeq}")
  }

  test("a live foreign lease makes writers fail loudly; a stale one is broken") {
    val root = tmpDir()
    val spec = PipeSpec(PipeKeys("lease", "loud"),
      columns = ColumnRoles(Map("primary" -> "pk")))
    val st = new PipeStorage(spark, root, spec)
    st.create(Seq((1L, "a")).toDF("pk", "v"))
    val lock = java.nio.file.Paths.get(st.basePath, ".writer_lock")
    // live foreign lease → loud failure once the acquire timeout passes
    java.nio.file.Files.write(lock,
      s"other ${System.currentTimeMillis()}".getBytes("UTF-8"))
    val saved = graft.storage.PipeStorage.leaseAcquireTimeoutMs
    graft.storage.PipeStorage.leaseAcquireTimeoutMs = 300L
    try {
      intercept[IllegalStateException] {
        st.append(Seq((2L, "b")).toDF("pk", "v"))
      }
    } finally graft.storage.PipeStorage.leaseAcquireTimeoutMs = saved
    // stale lease (older than leaseStaleMs) → broken, write proceeds
    java.nio.file.Files.write(lock, "dead 1000".getBytes("UTF-8"))
    st.append(Seq((3L, "c")).toDF("pk", "v"))
    assert(st.read.count() == 2)
    assert(!java.nio.file.Files.exists(lock), "lease must release after the write")
  }

  test("heartbeat never clobbers a broken lease; release leaves it intact") {
    val root = tmpDir()
    val spec = PipeSpec(PipeKeys("lease", "beat"),
      columns = ColumnRoles(Map("primary" -> "pk")))
    val st = new PipeStorage(spark, root, spec)
    val saved = PipeStorage.leaseStaleMs
    PipeStorage.leaseStaleMs = 300L // beat every 100ms
    try {
      val lock = java.nio.file.Paths.get(st.basePath, ".writer_lock")
      st.withWriteLease {
        // simulate a breaker claiming the path mid-hold (as after a long
        // GC stall): the foreign token must SURVIVE our heartbeat and
        // our release — a blind overwrite would evict the new holder
        java.nio.file.Files.createDirectories(lock.getParent)
        java.nio.file.Files.write(lock,
          s"foreign ${System.currentTimeMillis()}".getBytes("UTF-8"))
        Thread.sleep(350) // several beat periods
        val content = new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
        assert(content.startsWith("foreign"),
          s"heartbeat clobbered a broken lease: $content")
      }
      val after = new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      assert(after.startsWith("foreign"),
        "release must not delete a lease it no longer owns")
      java.nio.file.Files.delete(lock)
    } finally PipeStorage.leaseStaleMs = saved
  }

  test("drop is leased: a live foreign lease blocks it; afterwards it removes the pipe") {
    val root = tmpDir()
    val spec = PipeSpec(PipeKeys("lease", "dropguard"),
      columns = ColumnRoles(Map("primary" -> "pk")))
    val st = new PipeStorage(spark, root, spec)
    st.create(Seq((1L, "a")).toDF("pk", "v"))
    val lock = java.nio.file.Paths.get(st.basePath, ".writer_lock")
    java.nio.file.Files.write(lock,
      s"other ${System.currentTimeMillis()}".getBytes("UTF-8"))
    val saved = PipeStorage.leaseAcquireTimeoutMs
    PipeStorage.leaseAcquireTimeoutMs = 300L
    try {
      intercept[IllegalStateException] { st.drop() }
      assert(st.exists, "drop under a foreign lease must not delete data")
    } finally PipeStorage.leaseAcquireTimeoutMs = saved
    java.nio.file.Files.delete(lock)
    st.drop()
    assert(!st.exists)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(st.basePath)),
      "drop must remove the pipe directory")
  }
}

/** The schema cache's cross-process staleness fingerprint (ADVICE r14):
  * the write-lease model permits SERIALIZED writers in different
  * processes, so a column appended by another process must not stay
  * invisible behind this process's cached explicit-schema reads. */
class SchemaCacheFingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("cached schema self-invalidates when a foreign writer widens the table") {
    val root = tmpDir()
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "fpcache"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "a"),
      (java.sql.Timestamp.valueOf("2024-02-06 10:00:00"), 2L, "b")
    ).toDF("ts", "id", "v")
    eng.sync(spec, df)
    val store = eng.storage(spec)
    assert(store.read.count() == 2) // populates the schema cache
    // FOREIGN writer (a serialized writer in another process — its JVM
    // holds its own cache, ours hears nothing): a WIDER file lands inside
    // an existing chunk dir, bypassing this process's bookkeeping
    val dataDir = new java.io.File(s"$root/${spec.targetName}/data")
    val chunk = dataDir.listFiles()
      .filter(_.getName.startsWith("__graft_chunk=")).head
    Seq((java.sql.Timestamp.valueOf("2024-01-06 10:00:00"), 3L, "c", 42L))
      .toDF("ts", "id", "v", "extra_col")
      .write.mode("append").parquet(chunk.getAbsolutePath)
    // the chunk-dir listing fingerprint changed → the stale entry drops,
    // the read re-infers with mergeSchema and the foreign column appears
    val again = store.read
    assert(again.columns.contains("extra_col"),
      "foreign column invisible: stale cached schema survived the write")
    assert(again.count() == 3)
    assert(again.where(col("extra_col") === 42L).count() == 1)
  }
}

/** A local filesystem under the `crashfs` scheme that throws at a chosen
  * step of a file swap — the n-th rename, the n-th data-file delete, or
  * the intent delete — counting only after the swap's intent file is
  * created. Data written through it lands on the local disk as usual, so
  * a fresh handle can reopen the crashed table. */
class CrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (f.getName == ".swap_intent") CrashFs.armed = true
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("A"); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (p.getName == ".swap_intent") { CrashFs.step("intent"); CrashFs.armed = false }
    else CrashFs.step("D")
    super.delete(p, recursive)
  }
}

object CrashFs {
  @volatile var armed = false
  @volatile var crashAt: Option[(String, Int)] = None
  @volatile var fired = false
  private val seen = scala.collection.mutable.Map.empty[String, Int]
  def arm(kind: String, n: Int): Unit = synchronized {
    seen.clear(); crashAt = Some((kind, n)); fired = false; armed = false
  }
  def disarm(): Unit = synchronized { crashAt = None; armed = false }
  def step(kind: String): Unit = synchronized {
    if (armed && crashAt.isDefined) {
      seen(kind) = seen.getOrElse(kind, 0) + 1
      if (crashAt.contains((kind, seen(kind)))) {
        crashAt = None; fired = true
        throw new java.io.IOException(s"injected crash at $kind #${seen(kind)}")
      }
    }
  }
}

/** Crash points of the file-level swap a located diff apply performs
  * (intent "A <chunk>/<file>" moves, "D <chunk>/<file>" deletes), and a
  * located file that vanishes between the diff and the apply. */
class FileSwapRecoverySpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)

  private val spec = PipeSpec(PipeKeys("safe", "fileswap"),
    columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))

  /** `n` rows from id `lo`, 6 h apart from March 28th: a batch spans the
    * March/April chunk boundary. `changed` ids carry a new value. */
  private def batch(lo: Int, n: Int, changed: Set[Int] = Set.empty) =
    (lo until lo + n).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 3, 28, 0, 0)
        .plusHours(6L * i)), i.toLong, if (changed(i)) s"v$i'" else s"v$i")
    }.toDF("ts", "id", "v")

  /** Two syncs of history, then the batch under test: it re-sends ids
    * 30-39 (half changed) and adds 40-59. */
  private def setUp(root: String): Unit = {
    val eng = new SyncEngine(spark, root)
    eng.sync(spec, batch(0, 20))
    eng.sync(spec, batch(15, 25, changed = Set(16, 18)))
  }
  private val last = batch(30, 30, changed = Set(30, 32, 34, 36, 38))

  private def table(root: String): Seq[(Long, String)] =
    new SyncEngine(spark, root).getData(spec).select($"id", $"v")
      .as[(Long, String)].collect().sorted.toSeq

  private def intent(root: String) =
    new java.io.File(s"${root.stripPrefix("crashfs://")}/${spec.targetName}/.swap_intent")

  private lazy val uninterrupted: Seq[(Long, String)] = {
    val root = tmpDir()
    setUp(root)
    new SyncEngine(spark, root).sync(spec, last)
    table(root)
  }

  Seq(("A", 1) -> "intent written, nothing moved",
      ("A", 2) -> "some A files moved",
      ("D", 1) -> "all A files moved, D pending",
      ("intent", 1) -> "D done, intent still present").foreach { case ((kind, n), what) =>
    test(s"file-swap crash: $what — reopen + vacuum gives the uninterrupted table") {
      val root = s"crashfs://${tmpDir()}"
      setUp(root)
      CrashFs.arm(kind, n)
      try {
        val e = intercept[Exception](new SyncEngine(spark, root, retries = 1).sync(spec, last))
        assert(CrashFs.fired, s"crash point $kind #$n never reached: $e")
      } finally CrashFs.disarm()
      assert(intent(root).exists(), "the crash must leave the swap intent behind")
      new SyncEngine(spark, root).storage(spec).vacuum()
      assert(!intent(root).exists())
      assert(table(root) == uninterrupted)
      assert(uninterrupted.map(_._1) == (0L until 60L))
    }
  }

  test("a located file that vanished before the apply fails the attempt; the retry converges") {
    val root = tmpDir()
    setUp(root)
    // the first apply finds its located files rewritten under it (a
    // compact between the diff and the apply renames every file)
    val compacted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val factory = (s: org.apache.spark.sql.SparkSession, r: String, sp: PipeSpec) => {
      val inner = new PipeStorage(s, r, sp)
      java.lang.reflect.Proxy.newProxyInstance(
        classOf[graft.storage.InstanceStore].getClassLoader,
        Array(classOf[graft.storage.InstanceStore]),
        (_: Any, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
          if (m.getName == "applyDelta" && compacted.compareAndSet(false, true)) inner.compact()
          try m.invoke(inner, Option(args).getOrElse(Array.empty[AnyRef]): _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        }).asInstanceOf[graft.storage.InstanceStore]
    }
    val r = new SyncEngine(spark, root, retryBaseSleepMs = 1, storeFactory = factory)
      .sync(spec, last)
    assert(compacted.get())
    assert(r.attempts == 2, r.attemptErrors)
    assert(r.attemptErrors.head.contains("vanished"), r.attemptErrors)
    assert((r.inserted, r.updated) == ((20L, 5L)))
    assert(table(root) == uninterrupted, "no row lost or duplicated")
  }
}

/** `rowCount` sums parquet footers of the files `read` would scan; a
  * `.`/`_`-named ANCESTOR of a scheme-less root must not hide them. */
class RowCountHiddenAncestorSpec extends SparkSpec {
  import spark.implicits._

  test("rowCount counts the table under a scheme-less root inside a .hidden dir") {
    val root = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tmpDir(), ".hidden", "pipes")).toString
    val eng = new SyncEngine(spark, root)
    val spec = PipeSpec(PipeKeys("safe", "hiddenroot"),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")))
    val df = (0 until 7).map(i => (java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 10:00:00"), i.toLong))
      .toDF("ts", "id")
    assert(eng.sync(spec, df).inserted == 7)
    assert(eng.storage(spec).rowCount == 7)
  }
}
