package graft.storage

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.PipeSpec

/** Reach of the dt-moving-update guard in [[PipeStorage.upsert]]: where can
  * the OLD row of a colliding key live when the upsert keys do not pin the
  * chunk? `Off` = nowhere (keys include the axis, or the caller guarantees
  * dt never moves). `Bounded(lo, hi)` = only inside the given axis window —
  * diff-mode updates can only originate in the backtrack slice, so the
  * engine passes that window and the guard scans just its chunks.
  * `Full` = anywhere (native-upsert mode applies arbitrary rows) — a
  * key-column table scan, the price of the guarantee. */
sealed trait StrayScan
object StrayScan {
  case object Off extends StrayScan
  final case class Bounded(lo: Any, hi: Any) extends StrayScan
  case object Full extends StrayScan
}

/** Parquet-backed pipe target table (no external table-format dependency).
  *
  * Two layouts, chosen by whether the pipe has a datetime axis:
  *
  *   - **time-partitioned** (`__graft_chunk = yyyy-MM of dt`): every
  *     rewrite reads a known set of data FILES, writes their surviving rows
  *     plus the new rows once into a tmp dir, and swaps at file level. A
  *     diff sync names the files that hold its updated keys (the diff's
  *     backtrack scan carries `_metadata.file_path`, see [[rowLocation]]),
  *     so updates and inserts land in ONE write that rewrites only those
  *     files — the Spark equivalent of the reference bounding its
  *     UPDATE/MERGE join by the patch's MIN(dt)..MAX(dt)
  *     (meerschaum/utils/sql.py:1920-1933). Callers without locations
  *     (native-upsert mode, clear, deduplicate) rewrite every file of the
  *     chunks they touch; create, overwrite and compact replace every
  *     file. At 100 TB a day's late data rewrites a few files, not the
  *     table; reads prune partitions from the same column.
  *
  *   - **versioned snapshot** (no dt axis): each write lands in a fresh
  *     `seg_<n>/` segment and a `_CURRENT` pointer flips to a manifest
  *     listing the live segments — atomic swap semantics like the
  *     reference's dedup table rebuild (connectors/sql/_pipes.py:4037-4105)
  *     without in-place mutation.
  *
  * All merge logic is expressed as DataFrame joins so Catalyst handles
  * pushdown/broadcast; nothing is collected to the driver except file and
  * chunk lists (bounded, as the reference caps partitions per sync at
  * 10k — config/_default.py:111).
  */
final class PipeStorage(spark: SparkSession, root: String, val spec: PipeSpec)
    extends InstanceStore {

  val PartCol = "__graft_chunk"

  // Chunk labels are strings by construction; Spark's partition-column type
  // inference would otherwise read day-granularity labels ("2024-01-02")
  // back as DateType and break label-based chunk matching.
  spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")

  private def dtCol: Option[String] = spec.columns.datetime
  private def partitioned: Boolean  = dtCol.isDefined

  def basePath: String = s"$root/${spec.targetName}"
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ── single-writer lease ────────────────────────────────────────────────
  // The snapshot pointer (`_CURRENT`), the manifest/segment version counter,
  // and the autoincrement high-water mark (`_MAXID`) are read-modify-write:
  // two concurrent writers of the SAME pipe could otherwise both commit
  // v = readPtr+1 (one manifest silently lost) or both mint ids from the
  // same base (duplicate keys). The reference has the same per-pipe
  // serialization assumption; here it is ENFORCED by a lease file —
  // atomic create(overwrite = false) is the mutual exclusion, a timestamp
  // lets a crashed writer's lease be broken (rename-to-tombstone, so only
  // one breaker wins), and contention past the acquire timeout fails
  // LOUDLY instead of corrupting state. Re-entrant within a handle.
  private def lockPath = new Path(s"$basePath/.writer_lock")

  /** Exclusive lock-file creation. HDFS-like stores get it from
    * `create(overwrite = false)` directly; Hadoop's LOCAL filesystem
    * implements that as check-then-create (NOT atomic — two racing
    * writers both succeed), so local paths go through NIO `CREATE_NEW`
    * (O_CREAT|O_EXCL, kernel-atomic). */
  private def tryCreateLock(content: Array[Byte]): Boolean = {
    val uri = lockPath.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath), content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs.create(lockPath, false)
        try out.write(content) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  override def withWriteLease[A](body: => A): A = {
    // re-entrancy keyed on (thread, basePath) — NOT per handle: a fresh
    // handle of the same pipe on the same thread (ensureRecovered inside a
    // leased mutator's read) must not deadlock on its own lease file
    val held = PipeStorage.heldPaths.get()
    if (held.contains(basePath)) return body
    fs.mkdirs(new Path(basePath))
    // per-acquire token: release and heartbeat must only ever touch OUR
    // lease — a breaker may have claimed the path while we ran
    val token = s"${PipeStorage.ownerId}/${java.util.UUID.randomUUID()}"
    val deadline = System.currentTimeMillis() + PipeStorage.leaseAcquireTimeoutMs
    var acquired = false
    while (!acquired) {
      if (tryCreateLock(
          s"$token ${System.currentTimeMillis()}".getBytes("UTF-8")))
        acquired = true
      else {
        val staleBefore = System.currentTimeMillis() - PipeStorage.leaseStaleMs
        val ts = try {
          val in = fs.open(lockPath)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
            .trim.split(" ").last.toLong
          finally in.close()
        } catch { case _: Exception => Long.MaxValue } // vanished/garbled: retry
        if (ts != Long.MaxValue && ts < staleBefore) {
          // break the dead writer's lease: rename is the atomic claim —
          // exactly one breaker wins the rename, everyone else loops
          val tomb = new Path(s"$basePath/.writer_lock.stale.${java.util.UUID.randomUUID()}")
          try { if (fs.rename(lockPath, tomb)) fs.delete(tomb, false) }
          catch { case _: java.io.IOException => () }
        } else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"another writer holds the lease on ${spec.targetName} " +
            s"(${lockPath}); concurrent writers of one pipe are not allowed")
        else Thread.sleep(25)
      }
    }
    held += basePath
    // HEARTBEAT: a legitimate write longer than the stale horizon must not
    // get its lease broken mid-flight (a 10-minute compact is routine at
    // scale) — refresh the timestamp at a third of the horizon. A breaker
    // then only ever fires on a truly dead holder (whose refresher died
    // with it).
    // the beat must verify the file still holds OUR token before rewriting:
    // a blind overwrite after a GC/IO stall longer than the stale horizon
    // would clobber a breaker's new lease, and our release would then
    // delete it — evicting the CURRENT holder. Once broken, stop beating
    // for good (release reads the same file and warns).
    val beatBroken = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = PipeStorage.leaseScheduler.scheduleAtFixedRate(
      () => try {
        if (!beatBroken.get()) {
          val mine = try {
            val in = fs.open(lockPath)
            try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
              .trim.startsWith(token)
            finally in.close()
          } catch { case _: Exception => false }
          if (mine) {
            val out = fs.create(lockPath, true)
            try out.write(s"$token ${System.currentTimeMillis()}".getBytes("UTF-8"))
            finally out.close()
          } else beatBroken.set(true)
        }
      } catch { case _: Exception => () },
      PipeStorage.leaseStaleMs / 3, PipeStorage.leaseStaleMs / 3,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      held -= basePath
      beat.cancel(false)
      // release only OUR lease: if a breaker stole it despite the
      // heartbeat, deleting here would evict the CURRENT holder too
      try {
        val mine = try {
          val in = fs.open(lockPath)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
            .trim.startsWith(token)
          finally in.close()
        } catch { case _: Exception => false }
        if (mine) fs.delete(lockPath, false)
        else System.err.println(
          s"[graft] WARNING: writer lease on ${spec.targetName} was broken " +
          "while held — a concurrent writer may have interleaved")
      } catch { case _: java.io.IOException => () }
    }
  }

  // ── manifest-based snapshot plumbing (non-dt pipes) ────────────────────
  // `_CURRENT` names a manifest; a manifest lists SEGMENT directories. An
  // append writes one new segment plus a new manifest — O(batch), never
  // O(table) — and flips the pointer atomically (the reference's temp-table
  // + rename-swap discipline, connectors/sql/_pipes.py:4037-4105, without
  // ever rewriting unrelated data). Overwrites start a fresh single-segment
  // manifest; old manifests and orphan segments are GC'd.
  private def currentPtr = new Path(s"$basePath/_CURRENT")
  private def readPtr: Option[Int] = {
    // a crash between writePtr's delete and rename leaves only the tmp:
    // complete the flip (the tmp is always the newest fully-written value)
    if (!fs.exists(currentPtr) && fs.exists(new Path(s"$basePath/_CURRENT.tmp")))
      fs.rename(new Path(s"$basePath/_CURRENT.tmp"), currentPtr)
    if (!fs.exists(currentPtr)) None
    else {
      val in = fs.open(currentPtr)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }
  private def ptrTmp = new Path(s"$basePath/_CURRENT.tmp")
  private def writePtr(v: Int): Unit = {
    // write-tmp + rename: fs.create(ptr, overwrite=true) truncates in
    // place, so a crash mid-write would leave an unparsable pointer and
    // break even `exists`. Crash between delete and rename leaves only the
    // tmp; readPtr completes the flip.
    val out = fs.create(ptrTmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(currentPtr)) fs.delete(currentPtr, false)
    fs.rename(ptrTmp, currentPtr)
  }
  private def manifestFor(v: Int) = new Path(s"$basePath/m_$v")
  private def manifestNames(v: Int): Seq[String] = {
    val in = fs.open(manifestFor(v))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    finally in.close()
  }
  private def writeManifest(v: Int, segs: Seq[String]): Unit = {
    val out = fs.create(manifestFor(v), true)
    try out.write(segs.mkString("\n").getBytes("UTF-8")) finally out.close()
  }
  /** Segment directories of the CURRENT snapshot. */
  private def segDirs: Seq[String] =
    readPtr.map(v => manifestNames(v).map(n => s"$basePath/$n")).getOrElse(Seq.empty)
  private def gcOldSnapshots(keep: Int): Unit = {
    if (!fs.exists(new Path(basePath))) return
    val ms = fs.listStatus(new Path(basePath)).map(_.getPath.getName)
      .filter(_.startsWith("m_")).map(_.stripPrefix("m_").toInt).sorted
    val kept = ms.takeRight(keep)
    val keptSegs = kept.flatMap(manifestNames).toSet
    ms.dropRight(keep).foreach(v => fs.delete(manifestFor(v), false))
    fs.listStatus(new Path(basePath)).map(_.getPath.getName)
      .filter(_.startsWith("seg_")).filterNot(keptSegs.contains)
      .foreach(n => fs.delete(new Path(s"$basePath/$n"), true))
  }

  private def dataPath: String = {
    require(partitioned, "dataPath is only defined for time-partitioned pipes")
    s"$basePath/data"
  }

  // ── crash-safe file swaps ──────────────────────────────────────────────
  // Every partitioned write but append (create, overwrite, compact,
  // upsert, diff apply, clear, deduplicate) reads a known set of data
  // FILES — every file for create, overwrite and compact, none for a
  // fresh create — writes their surviving rows plus any new rows ONCE
  // into a tmp dir, then swaps at file level. The INTENT
  // file — written only after the tmp output is complete — names the tmp
  // and lists every step: "A <chunk>/<file>" (move this tmp file into
  // data/) and "D <chunk>/<file>" (delete this replaced live file).
  // Recovery rolls FORWARD from those entries, and each step is
  // idempotent: an A moves only while its tmp file exists, a D deletes
  // only while its live file exists, so a crash mid-recovery just re-runs.
  // A chunk dir left with no files is removed. The intent deletes FIRST
  // during cleanup: once every step ran the swap is final, and recovery
  // must become a no-op before any cleanup starts. Files of a chunk that
  // the rewrite did not read stay untouched. Readers are not isolated
  // from a swap: between the first A and the last D a scan sees both the
  // added and the replaced files. Intents written by earlier releases
  // carry dir-level tags ("R <chunk>": replace the dir with the tmp
  // part, "C <chunk>": clear it) or bare dir names (the backup-dir
  // protocol); the same parser rolls those forward, and a whole-dir
  // `.data_tmp.ready`/`.compact_tmp.ready` left by their create,
  // overwrite or compact rolls forward on open ([[ensureRecovered]]).
  private def swapIntent = new Path(s"$basePath/.swap_intent")
  private def swapBackup = new Path(s"$basePath/.swap_backup")

  private def hiddenName(n: String): Boolean = n.startsWith("_") || n.startsWith(".")

  /** Data files directly under `dir` (what Spark's reader would scan). */
  private def visibleFiles(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !hiddenName(st.getPath.getName))
      .map(_.getPath.getName)

  private def chunkDirName(label: String): String =
    s"$PartCol=${if (label == null) "__HIVE_DEFAULT_PARTITION__" else label}"

  /** Every data file of the given chunks (null = the null-axis chunk), as
    * "chunk/file" names relative to data/. */
  private def chunkFiles(labels: Seq[String]): Seq[String] =
    labels.distinct.flatMap { l =>
      val dir = chunkDirName(l)
      visibleFiles(new Path(dataPath, dir)).map(f => s"$dir/$f")
    }

  /** Data files of every chunk dir under `dir` (data/ or a tmp dir), as
    * "chunk/file" names relative to it. */
  private def chunkedFiles(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartCol="))
      .flatMap(d => visibleFiles(d.getPath).map(f => s"${d.getPath.getName}/$f"))

  /** Every data file of the table (see [[chunkedFiles]]). */
  private def allDataFiles: Seq[String] = chunkedFiles(new Path(dataPath))

  /** Write `content` (rows with the chunk column) into `tmpName`, then swap
    * it in for the data files `replaced` — the one rewrite primitive. */
  private def rewrite(content: DataFrame, replaced: Seq[String], tmpName: String): Unit = {
    val tmp = new Path(s"$basePath/$tmpName")
    content.write.mode(SaveMode.Overwrite).partitionBy(PartCol).parquet(tmp.toString)
    val added = chunkedFiles(tmp)
    val out = fs.create(swapIntent, true)
    try out.write((tmpName +: (added.map("A " + _) ++ replaced.map("D " + _)))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    rollForward(tmp, added, replaced)
    fs.delete(swapIntent, false)
    fs.delete(tmp, true)
  }

  /** The A/D steps of a file swap (see above); idempotent. data/ exists
    * afterwards even when nothing moved: a create of no rows leaves an
    * existing, empty table. */
  private def rollForward(tmp: Path, added: Seq[String], deleted: Seq[String]): Unit = {
    val dataDir = new Path(dataPath)
    fs.mkdirs(dataDir)
    added.foreach { rel =>
      val part = new Path(tmp, rel)
      if (fs.exists(part)) {
        val live = new Path(dataDir, rel)
        fs.mkdirs(live.getParent)
        if (fs.exists(live)) fs.delete(live, false)
        if (!fs.rename(part, live))
          throw new java.io.IOException(s"could not move $part to $live")
      }
    }
    deleted.foreach(rel => fs.delete(new Path(dataDir, rel), false))
    deleted.map(_.takeWhile(_ != '/')).distinct.foreach { dir =>
      val d = new Path(dataDir, dir)
      if (fs.exists(d) && visibleFiles(d).isEmpty) fs.delete(d, true)
    }
  }

  /** Complete an interrupted swap by rolling FORWARD from its intent:
    *   - "A"/"D": see [[rollForward]];
    *   - "R" (earlier releases): part still in tmp → superseded live (if
    *     any) deletes, part moves in; part gone → it already moved, the
    *     live dir IS the swap output: keep;
    *   - "C" (earlier releases): live deletes if present (the clear rolls
    *     forward); absent → already final.
    * Every step is idempotent, so a crash mid-recovery just re-runs. */
  private def recoverSwap(): Unit = {
    if (!fs.exists(swapIntent)) return
    val in = fs.open(swapIntent)
    val lines = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    finally in.close()
    val tmp     = new Path(s"$basePath/${lines.head}")
    val dataDir = new Path(dataPath)
    val tagged  = lines.tail.forall(e => e.length > 2 && "RCAD".contains(e.head) && e(1) == ' ')
    if (tagged) {
      val byTag = lines.tail.groupBy(_.take(1)).map { case (t, es) => t -> es.map(_.drop(2)) }
        .withDefaultValue(Seq.empty)
      byTag("R").foreach { n =>
        val live = new Path(dataDir, n)
        val part = new Path(tmp, n)
        if (fs.exists(part)) {
          if (fs.exists(live)) fs.delete(live, true)
          fs.rename(part, live)
        }
      }
      byTag("C").foreach { n =>
        val live = new Path(dataDir, n)
        if (fs.exists(live)) fs.delete(live, true)
      }
      rollForward(tmp, byTag("A"), byTag("D"))
    } else {
      // PRE-TAG intent (written by an earlier release that crashed before
      // this upgrade): entries are bare dir names and the old backup-dir
      // protocol applies — falling through to the tagged parser would
      // treat every line as unknown and then delete backup+tmp, destroying
      // BOTH copies of each affected chunk. Old roll-forward rules:
      //   part in tmp            → replace live with it;
      //   live + no part + bak   → new dir already moved in: keep;
      //   live + no part + !bak  → fully-cleared chunk: delete;
      //   absent + no part       → already final.
      lines.tail.foreach { n =>
        val live = new Path(dataDir, n)
        val part = new Path(tmp, n)
        val bak  = new Path(swapBackup, n)
        if (fs.exists(part)) {
          if (fs.exists(live)) fs.delete(live, true)
          fs.rename(part, live)
        } else if (fs.exists(live) && !fs.exists(bak)) {
          fs.delete(live, true)
        }
      }
    }
    // intent first: cleanup leftovers are inert (removed here / by vacuum)
    fs.delete(swapIntent, false)
    if (fs.exists(swapBackup)) fs.delete(swapBackup, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Run crash recovery once per storage handle before the first
    * partitioned read or mutation. */
  private var recoveryChecked = false
  private def ensureRecovered(): Unit = if (partitioned && !recoveryChecked) {
    recoveryChecked = true
    if (fs.exists(new Path(basePath))) {
      // recovery only runs under the LEASE: an intent file may belong to a
      // LIVE writer mid-swap in another process, and rolling its swap
      // forward concurrently races its renames (a just-moved-in part can
      // be deleted between our exists() and its rename). The existence
      // checks stay outside so the common no-recovery read path costs one
      // metadata call, not a lock acquire.
      val needsRecovery = fs.exists(swapIntent) ||
        (!fs.exists(new Path(dataPath)) &&
          Seq(".data_tmp.ready", ".compact_tmp.ready")
            .exists(t => fs.exists(new Path(s"$basePath/$t"))))
      if (needsRecovery) withWriteLease {
        recoverSwap() // re-checks the intent under the lease
        // whole-dir swap of earlier releases (create/overwrite/compact):
        // the `.ready` tmp was complete before the live dir was touched,
        // so a missing live dir rolls forward from whichever survived
        val dataDir = new Path(dataPath)
        Seq(".data_tmp", ".compact_tmp").foreach { t =>
          val tmp = new Path(s"$basePath/$t.ready")
          if (!fs.exists(dataDir) && fs.exists(tmp)) fs.rename(tmp, dataDir)
        }
      }
    }
  }

  override def exists: Boolean = {
    ensureRecovered()
    if (partitioned) fs.exists(new Path(s"$basePath/data"))
    else readPtr.isDefined
  }

  /** Partition label derived from `spec.chunkMinutes`: the calendar unit at
    * or below the chunk width (month / day / hour / minute), so a
    * high-frequency pipe gets day or hour chunks and one late row rewrites
    * that chunk, not a month. Epoch axes label by integer chunk index
    * (`dt div unitsPerChunk`). */
  private def chunkExpr: Column = {
    val dt = col(dtCol.get)
    spec.epochUnit match {
      case Some(unit) =>
        val per = math.max(1L,
          graft.dsl.EpochAxis.unitsForMinutes(unit, spec.chunkMinutes))
        // exact integer FLOOR division ((a − pmod(a, per)) div per): plain
        // `div` truncates toward zero and would disagree with the driver
        // side's Math.floorDiv for negative epoch values (labels off by
        // one chunk → bounded reads silently missing rows); `/` routes
        // through double and loses precision above 2^53
        expr(s"(cast(`${dtCol.get}` as bigint) - pmod(cast(`${dtCol.get}` as bigint), ${per}L)) div ${per}L")
          .cast("string")
      case None =>
        val m = spec.chunkMinutes
        if (m >= 43200)     date_format(dt, "yyyy-MM")
        else if (m >= 1440) date_format(dt, "yyyy-MM-dd")
        else if (m >= 60)   date_format(dt, "yyyy-MM-dd_HH")
        else                date_format(dt, "yyyy-MM-dd_HH-mm")
    }
  }

  /** The chunk-label expression, exposed so the sync engine can fold the
    * affected-chunk collection into its single reporting aggregate. */
  override def chunkLabel: Option[Column] = if (partitioned) Some(chunkExpr) else None

  private def withChunk(df: DataFrame): DataFrame =
    if (partitioned) df.withColumn(PartCol, chunkExpr) else df

  // ── schema-cache plumbing (see companion Scaladoc) ─────────────────────

  private def stripPart(s: org.apache.spark.sql.types.StructType) =
    // file sources treat every column as nullable on read; mirror that in
    // the cached schema (asNullable is private[sql])
    org.apache.spark.sql.types.StructType(
      s.filterNot(_.name == PartCol).map(_.copy(nullable = true)))

  /** Cheap cross-process staleness fingerprint of the table's physical
    * state. Partitioned pipes hash, per chunk dir, (name, mtime, file
    * count, total file length) — one listing of the table plus one per
    * chunk dir, the same metadata-read cost class as a pruned open; an
    * append into an existing chunk changes its file set even when it
    * lands within the filesystem's mtime resolution of the cached stamp
    * (the ADVICE r14 coherence hole: dir mtime alone has second-level
    * granularity on some filesystems), a new chunk changes the name set,
    * a swap replaces dirs wholesale. Snapshot pipes use the manifest
    * pointer version, which every mutation advances. The lease model
    * permits SERIALIZED writers in different processes, so cache
    * coherence cannot rest on in-process bookkeeping alone: the
    * fingerprint lets cached-schema reads self-invalidate when a foreign
    * writer touched the table, instead of silently hiding its columns
    * until a manual [[PipeStorage.invalidateSchema]]. */
  private def schemaFingerprint(): Long =
    if (partitioned) {
      val p = new Path(dataPath)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).foldLeft(1125899906842597L) { (h, st) =>
        val contents =
          if (!st.isDirectory) st.getLen
          else fs.listStatus(st.getPath).foldLeft(0L) { (a, c) =>
            (a * 31 + c.getLen) + 1 // +1: count files, so same-size swaps move it
          }
        ((h * 31 + st.getPath.getName.hashCode) * 31 +
          st.getModificationTime) * 31 + contents
      }
    } else readPtr.map(_.toLong + 1L).getOrElse(0L)

  /** Open table parquet: explicit cached schema when known AND still
    * fingerprint-fresh (NO footer-merge job), mergeSchema inference
    * otherwise. `cacheable` marks opens that span the WHOLE table
    * (dataPath / all segments) — only those may populate the cache, a
    * subset's inferred schema could miss columns that live in other
    * chunks. With an explicit schema, Spark's partition discovery still
    * appends `__graft_chunk` for partitioned layouts, so downstream
    * drop/filter code is unchanged. */
  private def openData(paths: Seq[String], cacheable: Boolean): DataFrame =
    PipeStorage.schemaCacheGet(basePath, () => schemaFingerprint()) match {
      case Some(sch) => spark.read.schema(sch).parquet(paths: _*)
      case None =>
        val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
        if (cacheable)
          PipeStorage.schemaCachePut(basePath, stripPart(df.schema), schemaFingerprint())
        df
    }

  /** Post-write cache maintenance: `replace` for full rewrites, merge for
    * row additions — a batch may ADD columns (schema evolution appends
    * typed nulls); a same-name TYPE change out-of-band invalidates so the
    * next read re-infers (engine-level promotion goes through overwrite,
    * which replaces). Called AFTER the physical write lands; `fpBefore`
    * (merge mode only) is the fingerprint captured before our write — if
    * the cache entry predates some FOREIGN write (entry.fp ≠ fpBefore),
    * merging our columns into it would stamp a fresh fingerprint onto a
    * schema missing the foreign columns, so the entry is dropped instead. */
  private def recordWrittenSchema(s: org.apache.spark.sql.types.StructType,
                                  replace: Boolean,
                                  fpBefore: Long = -1L): Unit = {
    val incoming = stripPart(s)
    if (replace) PipeStorage.schemaCachePut(basePath, incoming, schemaFingerprint())
    else PipeStorage.schemaCacheGetRaw(basePath).foreach { cached =>
      if (cached.fp != fpBefore) PipeStorage.invalidateSchema(basePath)
      else {
        val cur = cached.schema
        val conflict = incoming.exists(f =>
          cur.find(_.name == f.name).exists(_.dataType != f.dataType))
        if (conflict) PipeStorage.invalidateSchema(basePath)
        else {
          val added = incoming.filterNot(f => cur.exists(_.name == f.name))
          PipeStorage.schemaCachePut(basePath,
            org.apache.spark.sql.types.StructType(cur.fields ++ added),
            schemaFingerprint())
        }
      }
    }
  }

  /** Current table contents (partition column dropped). mergeSchema tolerates
    * files written before a schema-evolution step and across snapshot
    * segments of different widths. */
  override def read: DataFrame = {
    ensureRecovered()
    if (partitioned)
      openData(Seq(dataPath), cacheable = true).drop(PartCol)
    else {
      val dirs = segDirs
      require(dirs.nonEmpty, s"pipe ${spec.targetName} does not exist")
      openData(dirs, cacheable = true)
    }
  }

  /** The chunk label of a bound value, computed driver-side with the same
    * rule as [[chunkExpr]] — used to derive partition-directory predicates
    * from time bounds. */
  private def chunkLabelOf(v: Any): String = (spec.epochUnit, v) match {
    case (Some(unit), l: Long) =>
      Math.floorDiv(l, math.max(1L,
        graft.dsl.EpochAxis.unitsForMinutes(unit, spec.chunkMinutes))).toString
    case (None, d: java.time.LocalDateTime) =>
      val m = spec.chunkMinutes
      val p = if (m >= 43200) "yyyy-MM" else if (m >= 1440) "yyyy-MM-dd"
              else if (m >= 60) "yyyy-MM-dd_HH" else "yyyy-MM-dd_HH-mm"
      d.format(java.time.format.DateTimeFormatter.ofPattern(p))
    case other => throw new IllegalArgumentException(
      s"bound $other does not match the pipe's axis (epochUnit=${spec.epochUnit})")
  }

  /** Bounded read with PARTITION-DIRECTORY pruning: the time bounds become a
    * chunk-label range predicate (calendar labels compare lexicographically;
    * epoch labels numerically), so a windowed read on a 100 TB pipe lists and
    * scans only the chunk directories the window intersects. Within those
    * chunks the row-level bound is a filter over every row: syncs append
    * files unsorted by the axis, so their row groups' min/max stats span
    * most of the chunk and seldom skip one — a 1-day read of a monthly
    * chunk scans the month. `end` is exclusive unless `endInclusive`.
    * Bounds are `LocalDateTime` (timestamp axis) or `Long` (epoch axis). */
  override def readRange(begin: Option[Any], end: Option[Any],
                endInclusive: Boolean = false): DataFrame = {
    val dt = dtCol.getOrElse {
      // no datetime axis → a bounded request is undefined; silently
      // returning the full table would present a table-wide result as a
      // windowed one (clear() already throws for the same situation)
      require(begin.isEmpty && end.isEmpty,
        s"pipe ${spec.targetName} has no datetime axis; bounded reads are undefined")
      return read
    }
    if (!partitioned || (begin.isEmpty && end.isEmpty)) {
      var df = read
      begin.foreach(b => df = df.where(col(dt) >= lit(b)))
      end.foreach(e => df = df.where(if (endInclusive) col(dt) <= lit(e) else col(dt) < lit(e)))
      return df
    }
    val df = openData(Seq(dataPath), cacheable = true)
    val partC: Column =
      if (spec.epochUnit.isDefined) col(PartCol).cast("long") else col(PartCol)
    def labelLit(v: Any): Column =
      if (spec.epochUnit.isDefined) lit(chunkLabelOf(v).toLong) else lit(chunkLabelOf(v))
    var pred: Column = lit(true)
    begin.foreach { b => pred = pred && partC >= labelLit(b) && col(dt) >= lit(b) }
    end.foreach { e =>
      // the chunk containing `end` may hold rows before it — keep it
      pred = pred && partC <= labelLit(e) &&
        (if (endInclusive) col(dt) <= lit(e) else col(dt) < lit(e))
    }
    df.where(pred).drop(PartCol)
  }

  /** Bounded read of an explicit SET of axis values — the probe-side
    * companion to [[readRange]] for bucketed integer axes (ANN cells, LSH
    * band buckets): ONE scan whose partition filter lists only the chunk
    * directories holding the requested values, instead of one read per
    * value. */
  override def readIn(values: Seq[Any]): DataFrame = {
    // partitioned == dtCol.isDefined, so requiring the axis implies the
    // chunked layout — no snapshot branch exists here
    val dt = dtCol.getOrElse(
      throw new IllegalArgumentException("readIn requires a datetime axis"))
    if (values.isEmpty) return read.where(lit(false))
    val df = openData(Seq(dataPath), cacheable = true)
    val labels = values.map(chunkLabelOf).distinct
    val pred =
      if (spec.epochUnit.isDefined)
        col(PartCol).cast("long").isin(labels.map(_.toLong): _*)
      else col(PartCol).isin(labels: _*)
    df.where(pred && col(dt).isin(values: _*)).drop(PartCol)
  }

  /** Read only the partitions matching a chunk-value list — parquet partition
    * pruning keeps this proportional to the window, not the table. */
  private def readChunks(chunks: Seq[String], includeNullChunk: Boolean): DataFrame = {
    val df   = openData(Seq(dataPath), cacheable = true)
    val pred = {
      val in = if (chunks.nonEmpty) col(PartCol).isin(chunks: _*) else lit(false)
      if (includeNullChunk) in || col(PartCol).isNull else in
    }
    df.where(pred)
  }

  /** `cluster` range-partitions the rows by (chunk, dt) before the bulk
    * write. Without it every task writes a file into every chunk dir it
    * holds rows for — files ∝ tasks × chunks (a 32-task backfill over 120
    * monthly chunks shards into ~4k files; at 1000 executors the listing
    * alone hurts). Clustering bounds files ∝ max(shuffle partitions,
    * chunks) while keeping big chunks parallel across tasks, and the
    * within-partition sort tightens parquet row-group dt stats so bounded
    * reads prune ROW GROUPS inside a chunk, not just chunk dirs. The sync
    * engine gates it on the batch's chunk span — a batch landing in 1-2
    * chunks cannot shard badly, and skipping the shuffle is the win there.
    */
  override def create(df: DataFrame, cluster: Boolean = true): Unit =
    withWriteLease { write(df, cluster) }

  /** Full-table rewrites (schema promotion) always cluster: table-wide
    * row volume is exactly the sharding case. */
  override def overwrite(df: DataFrame): Unit =
    withWriteLease { write(df, cluster = true) }

  private def write(df: DataFrame, cluster: Boolean): Unit = {
    if (partitioned) {
      // the file swap writes the tmp dir before any live file moves: the
      // incoming plan may lazily read the files it replaces (a
      // schema-evolution rewrite), and an in-place overwrite would delete
      // them mid-scan
      val chunked = withChunk(df)
      val laidOut =
        if (cluster)
          chunked.repartitionByRange(col(PartCol), col(dtCol.get))
            .sortWithinPartitions(col(PartCol), col(dtCol.get))
        else chunked
      rewrite(laidOut, allDataFiles, ".data_tmp")
    } else {
      val v   = readPtr.getOrElse(-1) + 1
      val seg = s"seg_$v"
      df.write.mode(SaveMode.Overwrite).parquet(s"$basePath/$seg")
      writeManifest(v, Seq(seg))
      writePtr(v); gcOldSnapshots(keep = 2)
    }
    // AFTER the data lands: a failed promotion rewrite must not leave a
    // cache entry whose types disagree with the (recovered) old files
    recordWrittenSchema(df.schema, replace = true)
  }

  override def append(df: DataFrame): Unit = { withWriteLease {
    val fpBefore = schemaFingerprint()
    if (partitioned)
      withChunk(df).write.mode(SaveMode.Append).partitionBy(PartCol).parquet(s"$basePath/data")
    else {
      // snapshot layout: write ONE new segment + a manifest referencing the
      // old segments plus it — O(batch) per append, atomic pointer flip
      val prev = readPtr.map(manifestNames).getOrElse(Seq.empty)
      val v    = readPtr.getOrElse(-1) + 1
      val seg  = s"seg_$v"
      df.write.mode(SaveMode.Overwrite).parquet(s"$basePath/$seg")
      writeManifest(v, prev :+ seg)
      writePtr(v); gcOldSnapshots(keep = 2)
    }
    // AFTER the data lands (mirrors write()): a failed/partial append must
    // not leave a cache entry claiming columns that exist in no surviving
    // file — later explicit-schema reads would surface phantom null columns
    recordWrittenSchema(df.schema, replace = false, fpBefore)
  }
  }

  /** Upsert: replace rows whose keys collide, insert the rest.
    * Partitioned pipes rewrite every file of the chunks present in the
    * patch (plus the stray chunks below) through the file-level
    * [[rewrite]]. `strayScan` bounds the dt-moving-update guard (see
    * [[StrayScan]]): the full scan is the correctness default for
    * native-upsert pipes, where an old row can live anywhere. */
  override def upsert(patch: DataFrame, keys: Seq[String],
             knownChunks: Option[Seq[String]] = None,
             strayScan: StrayScan = StrayScan.Full): Unit = { withWriteLease {
    require(keys.nonEmpty, "upsert requires key columns")
    if (!exists) { create(patch); return }
    val fpBefore = schemaFingerprint()
    if (partitioned) {
      val p = withChunk(patch).cache()
      try {
        // the sync engine folds chunk collection into its reporting
        // aggregate; only pay a separate collect when uninstrumented
        val chunkVals = knownChunks.map(_.toArray).getOrElse(
          p.select(PartCol).distinct().collect().map(_.getString(0)))
        val patchOnly = (chunkVals.contains(null), chunkVals.filter(_ != null).toSeq)
        // dt-moving updates: when the keys do not pin the chunk (no dt axis
        // among them), a key whose existing row lives OUTSIDE the patch's
        // chunks would survive alongside its moved replacement. Locate those
        // stray chunks with a key-pruned scan (parquet reads only the key
        // columns + the partition label), partition-pruned to the stray
        // bound and away from the patch's own chunks.
        val strayVals: Array[String] =
          if (dtCol.exists(keys.contains) || strayScan == StrayScan.Off) Array.empty
          else {
            // Candidate stray chunks from ONE driver-side directory listing
            // (a metadata call, size-independent): chunks inside the stray
            // bound that the patch is not already rewriting. The common
            // case — the bound covers exactly the patch's own chunks —
            // yields NO candidates and skips the key scan (and its
            // mergeSchema footer pass) entirely; otherwise the scan is
            // partition-pruned to the candidate dirs, never the table.
            val onDisk = diskChunkLabels
            val inBound = strayScan match {
              case StrayScan.Bounded(lo, hi) =>
                if (spec.epochUnit.isDefined) {
                  val (l, h) = (chunkLabelOf(lo).toLong, chunkLabelOf(hi).toLong)
                  onDisk.filter { s => val v = s.toLong; v >= l && v <= h }
                } else {
                  val (l, h) = (chunkLabelOf(lo), chunkLabelOf(hi))
                  onDisk.filter(s => s >= l && s <= h)
                }
              case _ => onDisk
            }
            val candidates = inBound.filterNot(patchOnly._2.contains)
            // null-axis rows can hold stray keys only under a Full scan
            // (Bounded's range predicate excluded them before this rewrite
            // too) and only when the patch has no null-chunk rows of its own
            val nullCand = strayScan == StrayScan.Full && !patchOnly._1 &&
              fs.exists(new Path(s"$dataPath/${chunkDirName(null)}"))
            if (candidates.isEmpty && !nullCand) Array.empty
            else {
              val all = readChunks(candidates, nullCand)
                .select(keys.map(col) :+ col(PartCol): _*)
              val pk  = p.select(keys.map(col): _*).distinct()
              val kc  = keys.map { k =>
                if (spec.nullIndices) all(k) <=> pk(k) else all(k) === pk(k)
              }.reduce(_ && _)
              all.join(pk, kc, "left_semi")
                .select(PartCol).distinct().collect().map(_.getString(0))
            }
          }
        val merged = (chunkVals ++ strayVals).distinct.toSeq
        val (nullChunk, vals) = (merged.contains(null), merged.filter(_ != null))
        merge(readChunks(vals, nullChunk), chunkFiles(merged),
          p.select(keys.map(col): _*).distinct(), p, keys)
      } finally p.unpersist()
    } else {
      // Segment-pruned merge: ONE key-column semi-join over the snapshot
      // (input_file_name → segment) finds the segments actually holding
      // colliding keys; only those re-read into the merge, everything else
      // carries into the new manifest untouched. Cost O(affected + batch),
      // not O(table) — a patch against a 1000-segment dimension pipe
      // rewrites the few segments its keys live in.
      val segs = segDirs
      val pk   = patch.select(keys.map(col): _*).distinct()
      val withSeg = openData(segs, cacheable = true)
        .withColumn("__seg", regexp_extract(input_file_name(), "/(seg_[0-9]+)/[^/]+$", 1))
      val kcScan = keys.map { k =>
        if (spec.nullIndices) withSeg(k) <=> pk(k) else withSeg(k) === pk(k)
      }.reduce(_ && _)
      val affected = withSeg.select(keys.map(col) :+ col("__seg"): _*)
        .join(pk, kcScan, "left_semi")
        .select("__seg").distinct().collect().map(_.getString(0)).toSet
      val untouched = segs.map(_.split('/').last).filterNot(affected.contains)
      val merged =
        if (affected.isEmpty) patch
        else {
          val cur = openData(affected.toSeq.map(n => s"$basePath/$n"),
            cacheable = false)
          val cond = keys.map { k =>
            if (spec.nullIndices) cur(k) <=> patch(k) else cur(k) === patch(k)
          }.reduce(_ && _)
          cur.join(pk, cond, "left_anti")
            .unionByName(patch, allowMissingColumns = true)
        }
      appendSegment(merged, untouched)
    }
    // AFTER the merge lands (mirrors write()/append()): recording before
    // the physical rewrite would let a failed upsert poison the schema
    // cache with columns no surviving file holds. The merge reads above
    // deliberately see the PRE-patch schema; unionByName(allowMissing)
    // reconciles any width difference.
    recordWrittenSchema(patch.schema, replace = false, fpBefore)
  }
  }

  /** One diff's both halves in ONE write on partitioned pipes when the
    * engine `located` the update rows' old files (see [[rowLocation]]):
    * (rows of those files minus the update keys) ∪ the delta lands in
    * `.merge_tmp` and swaps in for exactly those files. Nothing else of
    * their chunks is read or rewritten — the file-level form of the
    * reference's dt-bounded UPDATE/MERGE (utils/sql.py:1920-1933). A
    * located file that vanished since the diff (a concurrent compact, a
    * manual delete) fails the apply loudly before anything is written;
    * the engine's retry then re-diffs against the current files. */
  override def applyDelta(delta: DataFrame, updateFlag: String, keys: Seq[String],
                          located: Seq[String]): Unit = withWriteLease {
    require(partitioned, "applyDelta needs the time-partitioned layout")
    require(keys.nonEmpty, "applyDelta requires key columns")
    val rows = sized(delta.drop(updateFlag))
    if (!exists) { create(rows); return }
    val fpBefore = schemaFingerprint()
    val files = locatedFiles(located)
    // no distinct on the key side: an anti join's result does not
    // depend on build-side duplicates, and the engine's materialized
    // delta broadcasts as it is
    merge(readFiles(files), files,
      delta.where(col(updateFlag)).select(keys.map(col): _*), withChunk(rows), keys)
    recordWrittenSchema(rows.schema, replace = false, fpBefore)
  }

  /** `df` narrowed without a shuffle to one partition per AQE
    * `coalescePartitions.minPartitionSize` of its size estimate — for the
    * engine's cached delta, its materialized bytes — and never more than
    * it has. Each task writes its own file per chunk, and every file
    * repeats its column dictionaries: a 10k-row delta in 4 shuffle
    * partitions wrote 4 files of ~56 KB. A rebalance is wrong here: by
    * chunk it leaves one file per chunk, which every later sync locates
    * and rewrites whole; round-robin sorts the rows first, which cost a
    * 100k-row sync 2.3% in stored bytes per row. */
  private def sized(df: DataFrame): DataFrame = {
    val min = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val want = (df.queryExecution.optimizedPlan.stats.sizeInBytes + min - 1) / min
    df.coalesce(want.max(1).min(df.rdd.getNumPartitions).toInt)
  }

  /** `_metadata.file_path` of the parquet scan; snapshot (non-partitioned)
    * pipes keep their segment-pruned merge and supply no locations. */
  override def rowLocation: Option[Column] =
    if (partitioned) Some(col("_metadata.file_path")) else None

  /** Located file URIs → "chunk/file" names under data/, each verified to
    * still exist (one listing per chunk dir). */
  private def locatedFiles(locs: Seq[String]): Seq[String] = {
    val rel = locs.distinct.map { l =>
      // Spark reports file paths URI-encoded; a raw path is taken as is
      val p = scala.util.Try(new Path(new java.net.URI(l))).getOrElse(new Path(l))
      s"${p.getParent.getName}/${p.getName}"
    }.distinct
    val missing = rel.groupBy(_.takeWhile(_ != '/')).toSeq.flatMap { case (dir, names) =>
      val present = visibleFiles(new Path(dataPath, dir)).map(f => s"$dir/$f").toSet
      names.filterNot(present)
    }
    if (missing.nonEmpty) throw new IllegalStateException(
      s"${missing.size} located file(s) of ${spec.targetName} vanished before the " +
        s"apply (e.g. ${missing.head}); the diff must run again")
    rel
  }

  /** Rows of the given data files ("chunk/file" under data/), with the
    * chunk column. */
  private def readFiles(files: Seq[String]): DataFrame = {
    val schema = PipeStorage.schemaCacheGet(basePath, () => schemaFingerprint())
      .getOrElse(stripPart(openData(Seq(dataPath), cacheable = true).schema))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(PartCol, org.apache.spark.sql.types.StringType))
    else spark.read.schema(schema).option("basePath", dataPath)
      .parquet(files.map(f => s"$dataPath/$f"): _*)
  }

  /** Replace `files` by (`current` minus the keys in `pk`) ∪ `rows`:
    * `current` holds the rows of exactly those files, `pk` the key columns
    * to drop from them, `rows` the new rows with the chunk column. */
  private def merge(current: DataFrame, files: Seq[String], pk: DataFrame,
                    rows: DataFrame, keys: Seq[String]): Unit = {
    val cond = keys.map { k =>
      if (spec.nullIndices) current(k) <=> pk(k) else current(k) === pk(k)
    }.reduce(_ && _)
    rewrite(current.join(pk, cond, "left_anti").unionByName(rows, allowMissingColumns = true),
      files, ".merge_tmp")
  }

  /** Write `df` as the next segment, point a new manifest at
    * `carried ++ it`, GC. An empty result still writes one real (0-row)
    * parquet file so every referenced segment dir stays readable. */
  private def appendSegment(df: DataFrame, carried: Seq[String]): Unit = {
    val v   = readPtr.getOrElse(-1) + 1
    val seg = s"seg_$v"
    df.write.mode(SaveMode.Overwrite).parquet(s"$basePath/$seg")
    val hasFiles = fs.listStatus(new Path(s"$basePath/$seg"))
      .exists(_.getPath.getName.endsWith(".parquet"))
    if (!hasFiles)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$basePath/$seg")
    writeManifest(v, carried :+ seg)
    writePtr(v); gcOldSnapshots(keep = 2)
  }

  /** Delete a half-open time range (optionally narrowed by a predicate) —
    * the reference's `clear` (meerschaum/core/Pipe/_clear.py:15-71).
    * Partitioned pipes rewrite only intersecting chunks; chunks left empty
    * are removed. `boundLo`/`boundHi` (axis values, hi's CHUNK kept
    * inclusive like [[readRange]]) let the affected-chunk DISCOVERY scan
    * prune partition directories — without them a bounded clear would
    * still list every chunk of the table just to find the few it touches. */
  override def clear(predicate: Column, boundLo: Option[Any] = None,
            boundHi: Option[Any] = None): Unit = { withWriteLease {
    if (!exists) return
    if (partitioned) {
      val df = openData(Seq(s"$basePath/data"), cacheable = true)
      val partC: Column =
        if (spec.epochUnit.isDefined) col(PartCol).cast("long") else col(PartCol)
      def labelLit(v: Any): Column =
        if (spec.epochUnit.isDefined) lit(chunkLabelOf(v).toLong) else lit(chunkLabelOf(v))
      var scanPred = predicate
      boundLo.foreach(b => scanPred = partC >= labelLit(b) && scanPred)
      boundHi.foreach(e => scanPred = partC <= labelLit(e) && scanPred)
      val affectedVals = df.where(scanPred).select(PartCol).distinct()
        .collect().map(_.getString(0))
      if (affectedVals.isEmpty) return
      val (nullChunk, vals) = (affectedVals.contains(null), affectedVals.filter(_ != null).toSeq)
      val affected = readChunks(vals, nullChunk)
      // keep = "predicate IS NOT TRUE": a bare `!predicate` is NULL for
      // rows where the predicate evaluates NULL (e.g. params equality on a
      // NULL column) and `where` would DROP them — SQL DELETE keeps them
      rewrite(affected.where(!(predicate <=> lit(true))),
        chunkFiles(affectedVals.toSeq), ".clear_tmp")
    } else {
      // segment-pruned clear: only the segments holding matching rows
      // rewrite (minus the cleared rows); the rest carry over untouched
      val segs = segDirs
      val withSeg = openData(segs, cacheable = true)
        .withColumn("__seg", regexp_extract(input_file_name(), "/(seg_[0-9]+)/[^/]+$", 1))
      val affected = withSeg.where(predicate)
        .select("__seg").distinct().collect().map(_.getString(0)).toSet
      if (affected.isEmpty) return
      val untouched = segs.map(_.split('/').last).filterNot(affected.contains)
      val kept = openData(affected.toSeq.map(n => s"$basePath/$n"),
          cacheable = false)
        .where(!(predicate <=> lit(true))) // NULL-evaluating rows are KEPT
      appendSegment(kept, untouched)
    }
  }
  }

  /** Deduplicate the STORED pipe in place — the reference's
    * `deduplicate_pipe` (meerschaum/connectors/sql/_pipes.py:3888-4105:
    * ROW_NUMBER-rank, rebuild, atomic rename swap; chunkwise driver path
    * core/Pipe/_deduplicate.py:14-287).
    *
    * A narrow table-wide pre-pass (keys + chunk label only) locates the
    * duplicated keys and their chunks; full rows are then ranked only over
    * the affected chunks' slice, and ONLY chunks that lose rows are
    * rewritten and swapped — untouched chunks keep their files
    * byte-identical. Duplicates whose survivor lives in a different chunk
    * are handled correctly (every chunk holding a duplicated key's rows is
    * in the affected set). Returns the number of rows removed.
    */
  override def deduplicate(keys: Seq[String], orderBy: Seq[String]): Long = { withWriteLease {
    require(keys.nonEmpty, "deduplicate requires key columns")
    if (!exists) return 0L
    val order = if (orderBy.nonEmpty) orderBy else keys
    if (partitioned) {
      val df = openData(Seq(dataPath), cacheable = true)
      // narrow pre-pass: find duplicate KEYS and the chunks holding their
      // rows with a keys+chunk-label projection (column-pruned scan, map-side
      // combined hash agg) — the table-wide shuffle carries key columns, not
      // full rows. Every chunk containing any row of a duplicated key lands
      // in the affected set, so the full-row window below sees ALL rows of
      // every multi-row key even when they span chunks.
      // collect_set state ≤ |chunks| per key (then ≤ |chunks| total after
      // the flatten): chunk labels are configuration-bounded (the reference
      // caps partitions per sync at 10k), never data-proportional
      val dup = df.select((keys :+ PartCol).map(col): _*)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"),
             collect_set(col(PartCol)).as("__chunks"),
             max(when(col(PartCol).isNull, 1).otherwise(0)).as("__nullChunk"))
        .where(col("__n") > 1)
        .agg(sum(col("__n") - 1).as("removed"),
             array_distinct(flatten(collect_list(col("__chunks")))).as("chunks"),
             max(col("__nullChunk")).as("nullChunk"))
        .head()
      val removed = Option(dup.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (removed == 0) return 0L
      val vals      = Option(dup.getSeq[String](1)).getOrElse(Seq.empty)
      val nullChunk = Option(dup.get(2)).exists(_.asInstanceOf[Int] > 0)
      val chunkPred = {
        val in = if (vals.nonEmpty) col(PartCol).isin(vals: _*) else lit(false)
        if (nullChunk) in || col(PartCol).isNull else in
      }
      // full rows shuffle only for the losing chunks' slice of the table —
      // ranked by a max-struct aggregate with a map-side partial step, not
      // a window: a hot key reaches the reducer as one row per map task, so
      // skewed duplicates cannot pin a single task
      // ([[graft.ops.Dedup.keepOnePerKey]])
      rewrite(graft.ops.Dedup.keepOnePerKey(df.where(chunkPred), keys, order),
        chunkFiles(vals ++ (if (nullChunk) Seq(null) else Nil)), ".dedup_tmp")
      removed
    } else {
      val cur     = read
      val deduped = graft.ops.Dedup.keepOnePerKey(cur, keys, order).cache()
      try {
        val nAfter  = deduped.count()
        val nBefore = cur.count()
        if (nBefore == nAfter) return 0L
        overwrite(deduped)
        nBefore - nAfter
      } finally { deduped.unpersist(); () }
    }
  }
  }

  /** Drop the target entirely (reference `drop_pipe`). Leased like every
    * other mutator: a blind recursive delete would rip out a concurrent
    * holder's live `.writer_lock` (and the data mid-swap under it). Inside
    * the lease, delete every child EXCEPT the lock file; the lease release
    * then removes the lock, and the empty basePath goes last (best-effort —
    * a racing re-create simply wins). */
  override def drop(): Unit = {
    PipeStorage.invalidateSchema(basePath)
    val base = new Path(basePath)
    if (!fs.exists(base)) return
    withWriteLease {
      fs.listStatus(base)
        .filter(_.getPath.getName != ".writer_lock")
        .foreach(st => fs.delete(st.getPath, true))
    }
    try { fs.delete(base, false); () } catch { case _: java.io.IOException => () }
  }

  /** Compact small files — the reference's `compress` (TimescaleDB
    * columnstore policy, core/Pipe/_compress.py:13-107) maps in Spark to
    * file compaction: parquet is already columnar+compressed, so the win at
    * scale is coalescing the many small files incremental syncs leave behind
    * into one file per time chunk (`repartition` on the partition column
    * hashes each chunk into a single writer task). The same file swap as
    * every other rewrite. */
  override def compact(): Unit = { withWriteLease {
    if (!exists) return
    if (partitioned)
      rewrite(openData(Seq(dataPath), cacheable = true).repartition(col(PartCol)),
        allDataFiles, ".compact_tmp")
    else overwrite(read.coalesce(1))
  }
  }

  private def liveDirs: Seq[String] =
    if (partitioned) Seq(dataPath) else segDirs

  /** Number of data files currently backing the target (compaction metric). */
  override def fileCount: Long = {
    if (!exists) return 0L
    liveDirs.map { d =>
      val it = fs.listFiles(new Path(d), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }.sum
  }

  /** On-disk size in bytes — the reference's `get_pipe_size`
    * (connectors/sql/_compress.py:103); file-length sum, no scan. */
  override def sizeBytes: Long = {
    if (!exists) return 0L
    liveDirs.map { d =>
      val it = fs.listFiles(new Path(d), true)
      var n = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) n += st.getLen
      }
      n
    }.sum
  }

  /** Remove crash leftovers and superseded snapshots — the reference's
    * `vacuum` (core/Pipe/_maintenance.py:1-161). Any in-flight swap is
    * COMPLETED first ([[recoverSwap]] / the `.ready` roll-forward of
    * earlier releases), so the
    * leftovers deleted here are guaranteed to be superseded copies, never
    * the sole survivor of an interrupted rewrite. */
  override def vacuum(): Unit = withWriteLease {
    if (!fs.exists(new Path(basePath))) return
    ensureRecovered()
    recoverSwap()
    Seq(".data_tmp", ".merge_tmp", ".clear_tmp", ".compact_tmp", ".dedup_tmp",
        ".data_tmp.ready", ".compact_tmp.ready", ".swap_backup").foreach { d =>
      val p = new Path(s"$basePath/$d")
      if (fs.exists(p)) fs.delete(p, true)
    }
    if (!partitioned) gcOldSnapshots(keep = 1)
  }


  /** Exact row count from parquet FOOTER metadata — driver-side listing +
    * footer tail reads, no Spark job. The engine (and the API server's
    * `/count` route) asks for counts repeatedly per sync, and a full
    * `count()` job was a measured ~170 ms fixed tax per call; footers give
    * the same number in ~10 ms for typical chunk populations. The serial
    * driver loop caps at 256 files — beyond that (a genuinely large pipe)
    * the distributed count both amortizes its job overhead and avoids a
    * driver-side listing bottleneck. Hidden-path filtering mirrors Spark's
    * file index (`_`/`.` prefixes skipped unless the component is a
    * `col=value` partition dir), so the footer sum counts exactly the
    * files `read` would scan. */
  override def rowCount: Long = {
    if (!exists) return 0L
    ensureRecovered()
    // roots qualified like the listed paths (scheme + authority): a
    // scheme-less root never equals a listed ancestor, and the walk below
    // would then climb past it and judge the root's own ancestors
    val roots = (if (partitioned) Seq(dataPath) else segDirs)
      .map(d => fs.makeQualified(new Path(d)))
    def hiddenUnder(p: Path, root: Path): Boolean = {
      var cur = p.getParent
      while (cur != null && cur != root) {
        val n = cur.getName
        if (hiddenName(n) && !n.contains("=")) return true
        cur = cur.getParent
      }
      hiddenName(p.getName)
    }
    val files = roots.filter(fs.exists(_)).flatMap { r =>
      val it = fs.listFiles(r, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet") &&
            !hiddenUnder(s.getPath, r))
          buf += s.getPath
      }
      buf
    }
    if (files.size > 256) read.count()
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map { p =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
    }
  }

  // ── autoincrement high-water mark ──────────────────────────────────────
  // The id generator's base must not cost a full-table max(pk) scan per
  // sync (ids are NOT aligned with the time axis, so chunk pruning cannot
  // help). A marker file carries the high-water mark; deletes/clears may
  // leave it above the true max, which only skips ids — the same gap
  // semantics a DB identity column has after DELETE.
  private def maxIdPath = new Path(s"$basePath/_MAXID")
  override def readMaxId: Option[Long] = {
    if (!fs.exists(maxIdPath)) None
    else {
      val in = fs.open(maxIdPath)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
      finally in.close()
    }
  }
  override def writeMaxId(v: Long): Unit = {
    val out = fs.create(maxIdPath, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Chunk labels present on disk — a driver-side directory listing, one
    * metadata call regardless of table size. Null-axis rows live in the
    * hive default partition and are excluded (they cannot carry an
    * extreme of the axis). */
  private def diskChunkLabels: Seq[String] =
    fs.listStatus(new Path(dataPath)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$PartCol="))
      .map(_.stripPrefix(s"$PartCol="))
      .filter(_ != "__HIVE_DEFAULT_PARTITION__")

  /** The chunk holding the extreme of the datetime axis: the label is
    * monotone in dt by construction, so the global max/min lives in the
    * max/min-label chunk. Labels compare numerically on epoch axes
    * (string "10" sorts before "9") and lexicographically on the
    * zero-padded calendar formats. Every sync reads this bookmark — on a
    * 10-year pipe it must look at one chunk, not 3650 of them. */
  private def extremeChunk(newest: Boolean): Option[String] = {
    val labels = diskChunkLabels
    if (labels.isEmpty) return None
    val ord: Ordering[String] =
      if (spec.epochUnit.isDefined) Ordering.by((s: String) => s.toLong)
      else Ordering.String
    Some(if (newest) labels.max(ord) else labels.min(ord))
  }

  /** The max (or min) of the axis over one chunk's files from their
    * parquet footers: driver-side footer reads, no Spark job, like
    * [[rowCount]]. Some(None) when the chunk holds no rows. None when the
    * footers cannot answer and the caller must scan: more than 256 files
    * (past that the scan amortizes its job), or a file whose axis column
    * is not an INT64 of the expected kind — `TIMESTAMP(MICROS,
    * isAdjustedToUTC=false)` on a timestamp axis (so not an LTZ or a
    * promoted axis), an unannotated or signed 64-bit integer on an epoch
    * axis — or a row group with rows but no min/max statistics for it. */
  private def footerExtreme(label: String, newest: Boolean): Option[Option[Long]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation,
      TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val dt = dtCol.get
    val dir = new Path(dataPath, chunkDirName(label))
    val files = visibleFiles(dir)
    if (files.size > 256) return None
    val conf = spark.sparkContext.hadoopConfiguration
    def axisIsInt64(t: org.apache.parquet.schema.Type): Boolean =
      t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == INT64 &&
        ((spec.epochUnit, t.getLogicalTypeAnnotation) match {
          case (None, ts: TimestampLogicalTypeAnnotation) =>
            !ts.isAdjustedToUTC && ts.getUnit == TimeUnit.MICROS
          case (Some(_), null) => true
          case (Some(_), i: IntLogicalTypeAnnotation) => i.getBitWidth == 64 && i.isSigned
          case _ => false
        })
    var extreme: Option[Long] = None
    files.foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(dir, f), conf))
      try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        if (!schema.containsField(dt) ||
            !axisIsInt64(schema.getType(schema.getFieldIndex(dt)))) return None
        rd.getRowGroups.asScala.filter(_.getRowCount > 0).foreach { rg =>
          val st = rg.getColumns.asScala.find(_.getPath.toDotString == dt)
            .map(_.getStatistics).orNull
          if (st == null || !st.hasNonNullValue) return None
          val v = (if (newest) st.genericGetMax else st.genericGetMin)
            .asInstanceOf[java.lang.Long].longValue
          extreme = Some(extreme.fold(v)(e => if (newest) e.max(v) else e.min(v)))
        }
      } finally rd.close()
    }
    Some(extreme)
  }

  /** Latest (or earliest) value of the datetime axis — the incremental
    * bookmark (reference `get_sync_time`): the footer statistics of the
    * extreme chunk's files ([[footerExtreme]]), else one scan of that
    * chunk. */
  override def syncTime(newest: Boolean = true): Option[java.time.LocalDateTime] =
    axisExtreme(newest, "timestamp_ntz")(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime,
      _.getAs[java.time.LocalDateTime](0))

  /** Sync-time bookmark for an integer-epoch axis (value in axis units). */
  override def syncTimeEpoch(newest: Boolean = true): Option[Long] =
    axisExtreme(newest, "long")(identity, _.getLong(0))

  /** The axis extreme from the footers, else from the extreme chunk's
    * scan aggregate cast to `scanType`. */
  private def axisExtreme[A](newest: Boolean, scanType: String)(
      fromFooter: Long => A, fromScan: org.apache.spark.sql.Row => A): Option[A] = {
    if (!exists) return None
    val dt = dtCol.getOrElse(return None)
    val pick = extremeChunk(newest).getOrElse(return None)
    footerExtreme(pick, newest).map(_.map(fromFooter)).getOrElse {
      val agg = if (newest) max(col(dt)) else min(col(dt))
      val row = openData(Seq(dataPath), cacheable = true)
        .where(col(PartCol) === pick).agg(agg.cast(scanType)).head()
      if (row.isNullAt(0)) None else Some(fromScan(row))
    }
  }
}

object PipeStorage {
  /** Identifies this JVM in lease files (diagnostics only). */
  private[graft] val ownerId = java.util.UUID.randomUUID().toString

  /** Process-wide DATA-file schema per table root (no partition column) —
    * the ApiStore move applied to the parquet backend. Every
    * `mergeSchema=true` open runs a footer-merge Spark job at DataFrame
    * CREATION time; with 3-6 table opens per sync envelope that job was
    * most of the measured ~1.3 s fixed per-sync cost (and it recurs per
    * STREAMING micro-batch). The cache turns those opens into
    * `spark.read.schema(...)` — zero jobs. Coherence: every mutation
    * through this class updates or invalidates the entry (create/
    * overwrite replace, append/upsert merge-or-invalidate, drop removes),
    * and every entry carries the table's physical FINGERPRINT at stamp
    * time (`schemaFingerprint`) — the lease model permits serialized
    * writers in DIFFERENT processes, so reads validate the fingerprint
    * and self-invalidate when a foreign writer touched the table.
    * [[invalidateSchema]] remains the manual `REFRESH TABLE` analog. */
  private[storage] final case class CachedSchema(
    schema: org.apache.spark.sql.types.StructType, fp: Long)
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedSchema]()
  def invalidateSchema(basePath: String): Unit = { schemaCache.remove(basePath); () }
  /** Fingerprint-validated read: `fp` is evaluated only when an entry
    * exists; on mismatch the stale entry is dropped (the caller re-infers
    * with mergeSchema and re-stamps). */
  private[storage] def schemaCacheGet(basePath: String, fp: () => Long): Option[org.apache.spark.sql.types.StructType] =
    Option(schemaCache.get(basePath)).flatMap { c =>
      if (c.fp == fp()) Some(c.schema)
      else { schemaCache.remove(basePath, c); None }
    }
  private[storage] def schemaCacheGetRaw(basePath: String): Option[CachedSchema] =
    Option(schemaCache.get(basePath))
  private[storage] def schemaCachePut(basePath: String, s: org.apache.spark.sql.types.StructType, fp: Long): Unit = {
    schemaCache.put(basePath, CachedSchema(s, fp)); ()
  }
  /** How long acquire spins before failing loudly / when a lease counts as
    * abandoned. Test-adjustable. */
  @volatile private[graft] var leaseAcquireTimeoutMs: Long = 60000L
  @volatile private[graft] var leaseStaleMs: Long = 600000L
  /** Lease re-entrancy: base paths whose lease THIS thread holds. */
  private[storage] val heldPaths = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }
  /** Shared daemon scheduler for lease heartbeats (one thread, all pipes). */
  private[storage] lazy val leaseScheduler = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val th = new Thread(r, "graft-lease-heartbeat"); th.setDaemon(true); th
    })
    t.setRemoveOnCancelPolicy(true)
    t
  }
}
