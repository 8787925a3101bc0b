package graft

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.forAll

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.sync.SyncEngine

/** The read path's two shortcuts against the plans they replace, over
  * random parquet layouts built by overlapping diff syncs (several files
  * per chunk):
  *   - `getData` sorts a small frame in one partition; the same read with
  *     AQE's advisory partition size lowered to one byte takes Spark's
  *     distributed sort, and both must return the same rows in the same
  *     order;
  *   - `syncTime`/`syncTimeEpoch` answer from parquet footers and must
  *     equal a scan's max/min, running no Spark job where the footers
  *     answer (timestamp-NTZ and long epoch axes) and falling back to the
  *     scan where they cannot (an epoch axis promoted to decimal, an LTZ
  *     axis, both stored as annotated INT64). */
class ReadPathPropertySpec extends SparkSpec {
  import ReadPathPropertySpec._
  import spark.implicits._

  private val t0 = LocalDateTime.of(2024, 1, 28, 0, 0)
  private val e0 = 1706400000L // t0 in epoch seconds

  private val axes = Seq(
    Axis("month", 43200, None), Axis("day", 1440, None), Axis("hour", 60, None),
    Axis("epoch_day", 1440, Some("second")))

  private def spec(axis: Axis, name: String) =
    PipeSpec(PipeKeys("readprop", name),
      columns = ColumnRoles(Map("datetime" -> "ts", "primary" -> "id")),
      chunkMinutes = axis.chunkMinutes, epochUnit = axis.epochUnit)

  /** `n` rows at random steps of `[lo, lo + span)` with ids from `ids`. */
  private def batch(axis: Axis, rnd: scala.util.Random, ids: Seq[Long],
                    lo: Int, span: Int): DataFrame = {
    val rows = ids.map(id => (id, lo + rnd.nextInt(span), rnd.nextInt(20), rnd.nextInt(1000) / 4.0))
    axis.epochUnit match {
      case Some(_) => rows.map { case (id, st, u, v) => (id, e0 + 600L * st, u, v) }
        .toDF("id", "ts", "user_id", "value")
      case None => rows.map { case (id, st, u, v) => (id, t0.plusMinutes(10L * st), u, v) }
        .toDF("id", "ts", "user_id", "value")
    }
  }

  /** Three overlapping diff syncs: each re-sends a third of the previous
    * ids (some at new steps), so chunks gather several files. */
  private def build(eng: SyncEngine, s: PipeSpec, axis: Axis, seed: Long,
                    widen: Int => DataFrame => DataFrame = _ => identity): Unit = {
    val rnd = new scala.util.Random(seed)
    val per = 150 + rnd.nextInt(250)
    (0 until 3).foreach { b =>
      val ids = (b * per until (b + 1) * per).map(_.toLong) ++
        (if (b == 0) Nil else ((b - 1) * per until (b - 1) * per + per / 3).map(_.toLong))
      eng.sync(s, widen(b)(batch(axis, rnd, ids, b * 300, 500)))
    }
  }

  private def readCases(axis: Axis): Gen[ReadCase] = for {
    seed   <- Gen.chooseNum(1L, 1000000L)
    bounds <- Gen.oneOf(0, 1, 2)
    desc   <- Gen.oneOf(true, false)
    users  <- Gen.oneOf(true, false)
    narrow <- Gen.oneOf(true, false)
  } yield ReadCase(seed, axis, bounds, desc, users, narrow)

  private def readCase(c: ReadCase, distributed: AtomicInteger): Prop = {
    val eng = new SyncEngine(spark, tmpDir())
    val s = spec(c.axis, s"sort_${c.axis.name}")
    build(eng, s, c.axis, c.seed)
    val rnd = new scala.util.Random(c.seed + 1)
    val lo = rnd.nextInt(400); val hi = lo + 100 + rnd.nextInt(600)
    def at(step: Int) = t0.plusMinutes(10L * step)
    def read(): (Seq[Row], String) = {
      val df = eng.getData(s,
        select = if (c.narrow) Seq("ts", "id", "value") else Seq.empty,
        begin = if (c.bounds >= 1) Some(at(lo)) else None,
        end = if (c.bounds == 2) Some(at(hi)) else None,
        params = if (c.users) Map("user_id" -> Seq(1, 3, 5, 7, 11, 13)) else Map.empty,
        orderDesc = c.desc)
      (df.collect().toSeq, df.queryExecution.executedPlan.toString.toLowerCase)
    }
    val (one, onePlan) = read()
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val (dist, distPlan) = try read() finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    if (distPlan.contains("rangepartitioning")) distributed.incrementAndGet()
    Prop(!onePlan.contains("rangepartitioning")) :| s"small read planned a range exchange ($c)" &&
      Prop(one == dist) :| s"single-partition and distributed sorts differ ($c)"
  }

  axes.foreach { axis =>
    test(s"the single-partition and the distributed sort return the same ordered rows (${axis.name} axis)") {
      val distributed = new AtomicInteger
      val res = ScTest.check(
        ScTest.Parameters.default.withMinSuccessfulTests(3).withWorkers(1),
        forAll(readCases(axis))(readCase(_, distributed)))
      assert(res.passed, res.status.toString)
      assert(distributed.get > 0, "no case took the distributed sort")
    }
  }

  /** A sync-time layout: one of the four axes above, an epoch axis whose
    * last batch promotes it to decimal(18,2), or an LTZ (`timestamp`)
    * axis. */
  private def timeCase(seed: Long, layout: String): Prop = {
    val eng = new SyncEngine(spark, tmpDir())
    val axis = layout match {
      case "promoted" => axes.last
      case "ltz" => axes.head
      case n => axes.find(_.name == n).get
    }
    val s = spec(axis, s"time_$layout")
    // decimal(18,2) and LTZ micros are INT64 columns too: only their
    // annotations tell the footers' raw values from axis values
    val tsType = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    val was = spark.conf.get(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try build(eng, s, axis, seed, b => df => layout match {
      case "promoted" if b == 2 => df.withColumn("ts", col("ts").cast("decimal(18,2)"))
      case "ltz" => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }) finally spark.conf.set(tsType, was)
    val footers = !Set("promoted", "ltz")(layout)
    val stored = eng.storage(s).read
    val (got, jobs, _) = JobCount.jobsOf(spark) {
      if (axis.epochUnit.isDefined)
        Seq(eng.syncTimeEpoch(s), eng.syncTimeEpoch(s, newest = false))
      else Seq(eng.syncTime(s), eng.syncTime(s, newest = false))
    }
    val cast = if (axis.epochUnit.isDefined) "long" else "timestamp_ntz"
    val r = stored.agg(max(col("ts")).cast(cast), min(col("ts")).cast(cast)).head()
    val want = Seq(Option(r.get(0)), Option(r.get(1)))
    Prop(got == want) :| s"footer answer $got, scan $want ($layout, seed $seed)" &&
      Prop(footers == jobs.isEmpty) :|
        s"${jobs.size} jobs; footer path expected: $footers ($layout, seed $seed)"
  }

  (axes.map(_.name) ++ Seq("promoted", "ltz")).foreach { layout =>
    test(s"footer syncTime and syncTimeEpoch equal the scan ($layout layout)") {
      val res = ScTest.check(
        ScTest.Parameters.default.withMinSuccessfulTests(2).withWorkers(1),
        forAll(Gen.chooseNum(1L, 1000000L))(timeCase(_, layout)))
      assert(res.passed, res.status.toString)
    }
  }
}

object ReadPathPropertySpec {
  /** A pipe axis: chunk width and epoch unit (None: timestamp-NTZ). */
  final case class Axis(name: String, chunkMinutes: Long, epochUnit: Option[String])

  final case class ReadCase(seed: Long, axis: Axis, bounds: Int, desc: Boolean,
                            users: Boolean, narrow: Boolean)
}
