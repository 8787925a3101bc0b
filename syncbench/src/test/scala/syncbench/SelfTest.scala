package syncbench

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import org.apache.spark.SyncbenchBus
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own tests, as a plain main (no test framework on the
  * classpath): `python3 syncbench/run.py --self-test`. Exits 1 on any
  * failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val tmp = args.sliding(2).collectFirst { case Array("--tmp", d) => d }
      .getOrElse(java.nio.file.Files.createTempDirectory("syncbench").toString)
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val spark = SparkSession.builder().master("local[2]").appName("syncbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    generator(spark)
    spans()
    attribution(spark, tmp)
    tailRule()

    spark.stop()
    if (failures.nonEmpty) {
      println(s"${failures.length} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }

  // ── generator and oracle ─────────────────────────────────────────────

  private def generator(spark: SparkSession): Unit = {
    val batches = 5
    def digests(s: EventStream) = (0 until batches).map(i => Digest.ofFrame(s.batch(spark, i)))

    check("same seed gives identical batches") {
      eq(digests(new EventStream(7, 1000)), digests(new EventStream(7, 1000)))
    }

    check("another seed keeps the shape and changes the rows") {
      val (a, b) = (new EventStream(7, 1000), new EventStream(8, 1000))
      (0 until batches).foreach { i =>
        eq(b.range(i), a.range(i), s"range $i")
        eq(b.resentIn(i), a.resentIn(i), s"re-sent $i")
        eq(b.changedIn(i), a.changedIn(i), s"changed $i")
      }
      digests(a).zip(digests(b)).foreach { case (x, y) =>
        eq(x.rows, y.rows, "rows")
        if (x.sum == y.sum) throw new AssertionError("same rows under another seed")
      }
    }

    check("overlap and update counts match a replay of the versions") {
      val s = new EventStream(11, 1000)
      val seen = mutable.Map.empty[Long, Double]
      (0 until batches).foreach { i =>
        val rows = s.batch(spark, i).select("event_id", "value").collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
        eq(rows.length.toLong, s.range(i)._2 - s.range(i)._1, s"rows $i")
        eq(rows.count(r => seen.contains(r._1)), s.resentIn(i), s"overlap $i")
        eq(rows.count(r => seen.get(r._1).exists(_ != r._2)), s.changedIn(i), s"updates $i")
        eq(rows.count(r => !seen.contains(r._1)).toLong, s.expectInserted(i), s"inserts $i")
        rows.foreach(r => seen(r._1) = r._2)
      }
      eq(s.changedIn(1), s.resent / 2, "half the re-sent rows change")
    }

    check("oracle keeps the latest version of each event_id") {
      val s = new EventStream(3, 200)
      // the latest version of every row, computed the long way
      val latest = (0 until 3).flatMap(i => s.batch(spark, i).collect().map(r => (r.getLong(0), i, r)))
        .groupBy(_._1).values.map(_.maxBy(_._2)._3).toSeq
      eq(latest.length.toLong, s.end(2), "rows")
      eq(Oracle.expect(spark, s, IndexedSeq((3, ReadOp.Range("table", None, None)))),
        IndexedSeq(Digest.ofRows(EventStream.Columns, latest)), "table digest")
    }

    check("oracle reads are plain filters over the expected table") {
      val s = new EventStream(4, 200)
      val latest = (0 until 2).flatMap(i => s.batch(spark, i).collect().map(r => (r.getLong(0), i, r)))
        .groupBy(_._1).values.map(_.maxBy(_._2)._3).toSeq
      val (lo, hi) = (s.tsOf(50), s.tsOf(120))
      def ts(r: Row) = r.getAs[java.time.LocalDateTime](1)
      val inRange = latest.filter(r => !ts(r).isBefore(lo) && ts(r).isBefore(hi))
      val ops = IndexedSeq(
        ReadOp.Range("range", Some(lo), Some(hi), select = Seq("event_id", "value")),
        ReadOp.Count("views", None, None, Some("view")),
        ReadOp.Newest("newest", 5),
        ReadOp.SyncTime("sync_time"))
      // checks at an earlier state ride along and must not disturb these
      val want = Oracle.expect(spark, s, ops.map(o => (2, o)) ++ ops.map(o => (1, o)))
      eq(want(0), Digest.ofRows(Seq("event_id", "value"),
        inRange.map(r => Row(r.get(0), r.get(4)))), "range")
      eq(want(1), Digest(1L, latest.count(_.getString(3) == "view").toLong), "count")
      eq(want(2), Digest.ofRows(EventStream.Columns,
        latest.sortBy(r => Digest.micros(ts(r))).takeRight(5)), "newest")
      eq(want(3), Digest(1L, latest.map(r => Digest.micros(ts(r))).max), "sync time")
    }
  }

  // ── spans and self time ──────────────────────────────────────────────

  private def spans(): Unit = {
    check("overlapping children count once") {
      val t = new SpanTree(Seq(Span(1, 0, "op", "", 0, 100),
        Span(2, 1, "a", "", 10, 50), Span(3, 1, "b", "", 30, 70)))
      eq(t.self(1), 40L, "parent self")
    }

    check("nested spans: self times sum to the root's wall time") {
      val t = new SpanTree(Seq(Span(1, 0, "op", "", 0, 100),
        Span(2, 1, "a", "", 10, 40), Span(3, 2, "b", "", 15, 35),
        Span(4, 1, "c", "", 60, 90)))
      eq(t.self(1), 40L, "root self")
      eq(t.self(2), 10L, "child self")
      eq(t.closureResidual(1), 0L, "closure")
    }

    check("self time is never negative") {
      val rnd = new scala.util.Random(5)
      (0 until 200).foreach { _ =>
        val ss = (1 to 12).map { id =>
          val a = rnd.nextInt(1000).toLong
          Span(id, if (id == 1) 0 else 1 + rnd.nextInt(id - 1), "x", "", a, a + rnd.nextInt(400))
        }
        new SpanTree(ss).self.foreach { case (id, v) =>
          if (v < 0) throw new AssertionError(s"span $id self $v")
        }
      }
    }

    check("child clipped to its parent") {
      val t = new SpanTree(Seq(Span(1, 0, "op", "", 0, 100), Span(2, 1, "a", "", 80, 150)))
      eq(t.self(1), 80L, "parent self")
    }
  }

  // ── job attribution ──────────────────────────────────────────────────

  private def attribution(spark: SparkSession, tmp: String): Unit = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, enabled = true)
    tracer.bindClient()

    check("concurrent jobs land in the right span") {
      val pool = Executors.newFixedThreadPool(2)
      def task(name: String, jobs: Int, parts: Int) = pool.submit(new Callable[Unit] {
        def call(): Unit = tracer.span(name) {
          (1 to jobs).foreach(_ => sc.parallelize(1 to 2000, parts).map(_ * 2).count())
        }
      })
      val a = task("a", 6, 3)
      val b = task("b", 5, 2)
      a.get(); b.get(); pool.shutdown()
      SyncbenchBus.drain(sc)
      val ids = tracer.spans.map(s => s.name -> s.id).toMap
      val (wa, wb) = (listener.workOf(Seq(ids("a"))), listener.workOf(Seq(ids("b"))))
      eq((wa.jobs, wa.stages, wa.tasks), (6L, 6L, 18L), "span a")
      eq((wb.jobs, wb.stages, wb.tasks), (5L, 5L, 10L), "span b")
    }

    check("a sticky span keeps later jobs on its thread") {
      tracer.clear()
      val t = new Thread(() => {
        tracer.span("server", sticky = true)(())
        sc.parallelize(1 to 10, 1).count(); ()
      })
      t.start(); t.join()
      SyncbenchBus.drain(sc)
      eq(listener.workOf(tracer.spans.map(_.id)).jobs, 1L, "jobs")
    }

    check("store calls are wrapped as read and write spans") {
      tracer.clear()
      val spec = Pipe.Spec
      val inner = new graft.storage.MemoryStore(spark, s"$tmp/mem", spec)
      val st = TracedStore.wrap(inner, tracer, "storage", sticky = false)
      val b = new EventStream(1, 100).batch(spark, 0)
      tracer.span("op") {
        eq(st.exists, false, "exists")
        st.create(b)
        eq(st.rowCount, 100L, "rowCount")
      }
      val got = tracer.spans.map(s => (s.name, s.op)).toSet
      eq(got, Set(("op", ""), ("storage.read", "exists"), ("storage.write", "create"),
        ("storage.read", "rowCount")), "spans")
      val root = tracer.spans.find(_.name == "op").get.id
      eq(tracer.spans.filter(_.name != "op").map(_.parent).toSet, Set(root), "parents")
    }
  }

  // ── tail percentile ──────────────────────────────────────────────────

  private def tailRule(): Unit = {
    check("read_tail_ms has exactly ten samples beyond it") {
      Seq(11, 12, 37, 100, 1000).foreach { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val (v, p) = Stats.tail(xs)
        eq(xs.count(_ > v), 10, s"beyond, n=$n")
        eq(p, 100.0 * (n - 10) / n, s"percentile, n=$n")
      }
      eq(Stats.tail((1 to 10).map(_.toDouble)), (5.5, 50.0), "ten samples fall back to the median")
    }
  }
}
