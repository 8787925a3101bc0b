package syncbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SyncbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's one process: build the Spark session, run one workload
  * against graft's public API, check every result against the [[Oracle]],
  * and print one JSON result line last.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --tmp DIR
  * --t0-ms EPOCH_MS`, where `--t0-ms` is when the launcher started. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        tmp: String, t0Ms: Long)

  /** Counted reads a run issues at the least: with ten beyond it, the
    * tail read is at p68 or higher. */
  val MinReads = 32

  /** Largest gap allowed between an operation's wall time and the sum of
    * the self times in its span tree. */
  val ClosureToleranceMs = 1.0

  /** A progress line on stderr, in seconds since the launcher started. */
  def log(opts: Opts, what: String): Unit =
    System.err.println(f"[syncbench] ${(System.currentTimeMillis() - opts.t0Ms) / 1000.0}%7.2fs $what")

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One line of JSON; maps keep their insertion order. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("tmp"), m.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val shape = Shape.All.find(_.name == opts.workload).getOrElse {
      System.err.println(s"unknown workload ${opts.workload}; one of " +
        Shape.All.map(_.name).mkString(", "))
      sys.exit(2)
    }
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("syncbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.tmp}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opts.tmp}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, opts.trace)
    tracer.bindClient()
    val launchS = (System.currentTimeMillis() - opts.t0Ms) / 1000.0

    val env = ListMap(
      "workload" -> shape.name, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "nproc" -> cores,
      "java" -> System.getProperty("java.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "flush_policy" -> ("parquet through the local filesystem, no fsync; " +
        "the same on the client and server side"))

    val run = new Run(spark, tracer, listener, opts, shape, cores, launchS)
    val (detail, result) =
      try run.execute()
      catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          System.err.println(sw)
          run.failed(e)
      }
    println(Main.json(ListMap("detail" -> (env ++ detail))))
    println(Main.json(result))
    System.out.flush()
    Main.log(opts, "result printed")
    spark.stop()
    Main.log(opts, "spark stopped")
    sys.exit(0)
  }
}

/** One workload run: set-up, the measured phase, deferred verification,
  * and the metrics. */
final class Run(spark: SparkSession, tracer: Tracer, listener: SpanListener,
                opts: Main.Opts, shape: Shape, cores: Int, launchS: Double) {
  private val rec = new Recorder
  private val stream = new EventStream(opts.seed, shape.batchRows)
  private val rnd = new scala.util.Random(opts.seed * 31 + 7)
  private var opSeq = 0
  private var fed = 0        // batches synced into the current pipe
  private var pipe: Pipe = _

  private def label(kind: String): String = { opSeq += 1; s"$kind#$opSeq" }

  private def sync(i: Int, counted: Boolean): Unit = {
    val b = stream.batch(spark, i).cache()
    b.count()
    val op = label("sync")
    val t0 = System.nanoTime()
    val r = tracer.span("sync", op)(pipe.engine.sync(pipe.spec, b))
    val dt = (System.nanoTime() - t0) / 1e9
    b.unpersist(true)
    fed = i + 1
    rec.attempted += 1
    rec.retries += r.attempts - 1
    if (r.inserted != stream.expectInserted(i) || r.updated != stream.expectUpdated(i))
      rec.problem(s"sync of batch $i: inserted ${r.inserted} updated ${r.updated}, expected " +
        s"${stream.expectInserted(i)} / ${stream.expectUpdated(i)}")
    if (counted) {
      rec.syncLat += dt
      rec.syncRowsOffered += stream.range(i)._2 - stream.range(i)._1
      rec.syncRowsWritten += r.inserted + r.updated
      rec.syncOps += op
    }
  }

  private def read(q: ReadOp, counted: Boolean): Unit = {
    val e = pipe.engine
    val spec = pipe.spec
    def params(users: Seq[Int], et: Option[String]): Map[String, Any] =
      (if (users.isEmpty) Map.empty[String, Any] else Map("user_id" -> users)) ++
        et.map(t => Map[String, Any]("event_type" -> t)).getOrElse(Map.empty)
    def frame(df: => org.apache.spark.sql.DataFrame) = {
      val d = tracer.span("read.plan")(df)
      (d.columns.toSeq, tracer.span("read.exec")(d.collect()))
    }
    val op = label("read")
    val t0 = System.nanoTime()
    val out: Either[(Seq[String], Array[org.apache.spark.sql.Row]), Digest] =
      tracer.span("read", op) {
        q match {
          case ReadOp.Range(_, b, en, sel, users, et) =>
            Left(frame(e.getData(spec, select = sel, begin = b, end = en,
              params = params(users, et))))
          case ReadOp.Newest(_, k) =>
            Left(frame(e.getData(spec, orderDesc = true, limit = Some(k))))
          case ReadOp.Count(_, b, en, et) =>
            Right(Digest(1L, tracer.span("read.call")(
              e.rowCount(spec, b, en, params(Nil, et)))))
          case ReadOp.SyncTime(_) =>
            Right(Digest(1L, tracer.span("read.call")(e.syncTime(spec))
              .map(Digest.micros).getOrElse(Long.MinValue)))
        }
      }
    val dt = (System.nanoTime() - t0) / 1e6
    val (digest, returned) = out match {
      case Left((cols, rows)) => (Digest.ofRows(cols, rows), rows.length.toLong)
      case Right(d) => (d, 1L)
    }
    rec.attempted += 1
    rec.checks += ((fed, q, digest))
    if (counted) {
      rec.readLat += dt
      rec.readKinds += q.kind
      rec.readWall += dt / 1000
      rec.readRowsReturned += returned
      rec.readOps += op
    }
  }

  private def afterSync(b: Int, counted: Boolean): Unit =
    shape.afterSync(stream, b).foreach(read(_, counted))

  /** A pipe root as a `file:` URI. PipeStorage.rowCount compares the
    * root with the scheme-qualified paths Hadoop lists; a scheme-less root
    * never matches, so the hidden-file walk climbs above it and a `.`- or
    * `_`-named ancestor (such as `.bench_build`) hides every file. */
  private def rootUri(name: String): String =
    new java.io.File(s"${opts.tmp}/$name").getAbsoluteFile.toURI.toString.stripSuffix("/")

  /** Build the pipe the measured phase starts from and run each of its
    * reads once, so class loading and code generation happen here, not in
    * the first timed operations. The set-up ends on a sync: the first sync
    * after a burst of reads runs up to half again slower. */
  private def setUp(): Unit = {
    pipe = Pipe.open(spark, tracer, rootUri("pipe"), shape.api)
    (0 until shape.setupBatches - 1).foreach(i => sync(i, counted = false))
    afterSync(fed - 1, counted = false)
    (0 until shape.readCycle).foreach(k => read(shape.readLoop(stream, fed, k, rnd), counted = false))
    sync(fed, counted = false)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def execute(): (ListMap[String, Any], ListMap[String, Any]) = {
    val s0 = System.nanoTime()
    setUp()
    val setupS = launchS + (System.nanoTime() - s0) / 1e9
    Main.log(opts, "set-up done")

    // ── measured phase ────────────────────────────────────────────────
    SyncbenchBus.drain(spark.sparkContext)
    val busy0 = listener.total.taskNs
    val gc0 = gcMs
    val t0 = System.nanoTime()
    (0 until shape.timedSyncs).foreach { _ => sync(fed, counted = true); afterSync(fed - 1, counted = true) }
    val readDeadline = System.nanoTime() + opts.seconds * 1000000000L
    // whole cycles only, so every run reads the same mix of kinds
    var k = 0
    while (System.nanoTime() < readDeadline || rec.readLat.length < Main.MinReads ||
           k % shape.readCycle != 0) {
      read(shape.readLoop(stream, fed, k, rnd), counted = true); k += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Main.log(opts, "measured phase done")
    SyncbenchBus.drain(spark.sparkContext)
    val busyS = (listener.total.taskNs - busy0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    // the least of three readings, each after a full collection with a
    // pause between, so Spark's cleaner can drop unpersisted blocks
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // ── verification, after the heap reading ──────────────────────────
    val v0 = System.nanoTime()
    // every read at its own state, then the final table: the unbounded
    // all-column read after the last batch
    val finalRead = ReadOp.Range("final_table", None, None)
    val want = Oracle.expect(spark, stream,
      (rec.checks.map { case (n, q, _) => (n, q) } :+ ((fed, finalRead))).toIndexedSeq)
    rec.checks.zip(want).foreach { case ((n, q, got), w) =>
      if (w != got) rec.problem(s"read ${q.kind} after $n batches: got $got, expected $w; $q")
    }
    val finalGot = Digest.ofFrame(pipe.engine.getData(pipe.spec))
    val finalWant = want.last
    val tableOk = finalGot == finalWant
    rec.attempted += 1
    if (!tableOk) {
      rec.problem(s"final table of pipe ${pipe.spec.keys} after $fed batches: " +
        s"got $finalGot, expected $finalWant")
      System.err.println(rec.problems.last)
    }
    val verifyS = (System.nanoTime() - v0) / 1e9
    Main.log(opts, "verified")
    val store = pipe.dataStore
    val bytesPerRow = store.sizeBytes.toDouble / math.max(1L, finalGot.rows)
    val files = store.fileCount
    pipe.close()

    val (tailMs, tailPct) = Stats.tail(rec.readLat.toSeq)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "sync_rows_per_s" -> (rec.syncRowsOffered / rec.syncLat.sum, "rows/s"),
      "sync_p50_s" -> (Stats.median(rec.syncLat.toSeq), "s"),
      "reads_per_s" -> (rec.readLat.length / rec.readWall, "1/s"),
      "read_p50_ms" -> (Stats.median(rec.readLat.toSeq), "ms"),
      "read_tail_ms" -> (tailMs, "ms"),
      "stored_bytes_per_row" -> (bytesPerRow, "B/row"),
      "heap_live_mb" -> (heapMb, "MB"))
    val layers = if (opts.trace) Layers.compute(tracer.spans, listener, rec,
      bytesPerRow, files, wallS, busyS, gcS, cores, shape.api) else ListMap.empty[String, (Double, String)]
    val closure = if (opts.trace) Layers.closureResidualMs(tracer.spans, rec) else 0.0
    if (closure > Main.ClosureToleranceMs)
      rec.problem(f"self times do not add up to an operation's wall time: off by $closure%.3f ms")

    val detail = ListMap[String, Any](
      "launch_s" -> launchS,
      "measured_wall_s" -> wallS, "verify_s" -> verifyS,
      "syncs" -> rec.syncLat.length, "sync_s" -> rec.syncLat.toSeq,
      "reads" -> rec.readLat.length,
      "read_p50_ms_by_kind" -> ListMap(rec.readKinds.zip(rec.readLat).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, xs) => k -> Stats.median(xs.map(_._2).toSeq) }: _*),
      "read_tail_percentile" -> tailPct, "sync_retries" -> rec.retries,
      "error_rate" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "final_rows" -> finalGot.rows, "final_digest" -> finalGot.sum,
      "oracle_rows" -> finalWant.rows, "oracle_digest" -> finalWant.sum,
      "storage_files" -> files, "problems" -> rec.problems.toSeq,
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layers),
      "self_time_residual_ms_max" -> closure)
    val shown = if (opts.trace) layers else e2e
    (detail, result(rec.failed == 0 && tableOk, shown))
  }

  private def metricsJson(m: ListMap[String, (Double, String)]): ListMap[String, Any] =
    m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }

  private def result(correct: Boolean, m: ListMap[String, (Double, String)]) =
    ListMap[String, Any]("correct" -> correct, "attempted" -> math.max(1L, rec.attempted),
      "failed" -> rec.failed, "metrics" -> metricsJson(m))

  /** The result for a workload that threw: its error rides in the detail. */
  def failed(e: Throwable): (ListMap[String, Any], ListMap[String, Any]) = {
    rec.attempted += 1
    rec.failed += 1
    (ListMap("error" -> s"${e.getClass.getName}: ${e.getMessage}",
      "problems" -> rec.problems.toSeq), result(correct = false, ListMap.empty))
  }
}
