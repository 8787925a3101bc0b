package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.forAll

import graft.catalog.{ColumnRoles, PipeKeys, PipeSpec}
import graft.storage.MemoryStore
import graft.sync.{SyncEngine, SyncResult}

/** Diff-sync sequences on the parquet store against two references: a
  * plain-Spark "latest version per key" oracle over the batches, and the
  * same sequence on [[MemoryStore]]. Each case syncs three overlapping
  * batches. Re-sent keys (their stored row always inside the batch's
  * envelope) change a value, move along the axis — across chunk
  * boundaries, since every batch spans several chunks — or stay
  * unchanged; batches carry duplicate keys at distinct axis values (the
  * latest wins), nulls in non-key columns and, with `nullIndices`, a null
  * key. Every sync's inserted/updated counts must match the model and the
  * memory store, and the final tables must equal the oracle. */
class DiffSyncPropertySpec extends SparkSpec {

  /** Axis shape: the label, chunk width, epoch unit, and the axis value of
    * time step `i` (steps are 20 s, 1 h or 1 day, so a 30-step batch spans
    * several minute, day or month chunks). */
  private final case class Axis(name: String, chunkMinutes: Long,
                                epochUnit: Option[String], at: Int => Any,
                                dtype: DataType)

  private val minute = LocalDateTime.of(2024, 1, 31, 23, 55)
  private val day    = LocalDateTime.of(2024, 1, 30, 20, 0)
  private val month  = LocalDateTime.of(2024, 1, 20, 0, 0)
  private val axes = Seq(
    Axis("minute", 1, None, i => minute.plusSeconds(20L * i), TimestampNTZType),
    Axis("day", 1440, None, i => day.plusHours(i.toLong), TimestampNTZType),
    Axis("month", 43200, None, i => month.plusDays(i.toLong), TimestampNTZType),
    Axis("epoch", 1, Some("second"), i => 1706745540L + 20L * i, LongType))

  private final case class Params(seed: Long, nullIndices: Boolean, overlap: Double,
                                  update: Double, move: Double, dup: Double,
                                  nulls: Double)

  private val params: Gen[Params] = for {
    seed    <- Gen.chooseNum(1L, 1000000L)
    nullIdx <- Gen.oneOf(true, false)
    overlap <- Gen.oneOf(0.0, 0.3, 0.7, 1.0)
    update  <- Gen.oneOf(0.0, 0.5, 1.0)
    move    <- Gen.oneOf(0.0, 0.3)
    dup     <- Gen.oneOf(0.0, 0.2)
    nulls   <- Gen.oneOf(0.0, 0.3)
  } yield Params(seed, nullIdx, overlap, update, move, dup, nulls)

  private val Span = 30 // time steps per batch
  private val Step = 20 // batch b starts at step b·Step: 10 steps of overlap

  /** A row of the model: key (None = null key), time step, values. */
  private final case class R(id: Option[Long], t: Int, v: Option[Double], s: Option[String])

  /** Three batches plus the expected (inserted, updated) of each sync. */
  private def scenario(p: Params): (Seq[Seq[R]], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(p.seed)
    def opt[A](a: => A): Option[A] = if (rnd.nextDouble() < p.nulls) None else Some(a)
    var nextId = 0L
    var stored = Map.empty[Option[Long], R]
    val synced = (0 until 3).map { b =>
      val (lo, hi) = (b * Step, b * Step + Span - 1)
      def anyT = lo + rnd.nextInt(Span)
      val fresh = (0 until 20).map { j =>
        nextId += 1
        // the batch's first and last steps are always present: they pin
        // the envelope, so every stored row inside [lo, hi] is in the diff
        R(Some(nextId), if (j == 0) lo else if (j == 1) hi else anyT,
          opt(rnd.nextInt(1000) / 4.0), opt(s"s${rnd.nextInt(50)}"))
      }
      val nullKey =
        if (p.nullIndices && !stored.contains(None) && rnd.nextBoolean())
          Seq(R(None, anyT, opt(rnd.nextInt(1000) / 4.0), opt("n")))
        else Nil
      val resent = stored.values.toSeq.sortBy(_.id.getOrElse(-1L))
        .filter(r => r.t >= lo && r.t <= hi && rnd.nextDouble() < p.overlap)
        .map { r =>
          val u = rnd.nextDouble()
          if (u < p.move) r.copy(t = anyT)
          else if (u < p.move + p.update) r.copy(v = Some(r.v.getOrElse(0.0) + 1.5))
          else r
        }
      val rows = fresh ++ nullKey ++ resent
      // duplicates carry a different step; the later step wins the dedup
      val dups = rows.filter(_ => rnd.nextDouble() < p.dup).flatMap { r =>
        val t2 = anyT
        if (t2 == r.t) Nil else Seq(r.copy(t = t2, v = Some(-1.0 - rnd.nextInt(100))))
      }
      val winners = (rows ++ dups).groupBy(_.id).values.map(_.maxBy(_.t)).toSeq
      val ins = winners.count(w => !stored.contains(w.id)).toLong
      val upd = winners.count(w => stored.get(w.id).exists(_ != w)).toLong
      winners.foreach(w => stored += w.id -> w)
      (rows ++ dups, (ins, upd))
    }
    (synced.map(_._1), synced.map(_._2))
  }

  private def frame(axis: Axis, rows: Seq[R], b: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("dt", axis.dtype),
      StructField("v", DoubleType), StructField("s", StringType),
      StructField("b", IntegerType)))
    val data = rows.map(r => Row(r.id.map(Long.box).orNull, axis.at(r.t),
      r.v.map(Double.box).orNull, r.s.orNull, b))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  /** Plain Spark, no graft: per key, the row of the latest batch, and in
    * it the latest axis value. */
  private def oracle(batches: Seq[DataFrame]): Seq[Row] = {
    val w = Window.partitionBy(col("id")).orderBy(col("b").desc, col("dt").desc)
    batches.reduce(_.unionByName(_))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("id", "dt", "v", "s").collect().toSeq.sortBy(_.toString)
  }

  private def runCase(axis: Axis, p: Params): Prop = {
    val (batches, expected) = scenario(p)
    val spec = PipeSpec(PipeKeys("prop", s"diff_${axis.name}"),
      columns = ColumnRoles(Map("datetime" -> "dt", "primary" -> "id")),
      chunkMinutes = axis.chunkMinutes, epochUnit = axis.epochUnit,
      nullIndices = p.nullIndices)
    val frames = batches.zipWithIndex.map { case (rows, b) => frame(axis, rows, b) }
    def run(eng: SyncEngine): (Seq[SyncResult], Seq[Row]) = {
      val rs = frames.map(f => eng.sync(spec, f.drop("b")))
      (rs, eng.storage(spec).read.select("id", "dt", "v", "s")
        .collect().toSeq.sortBy(_.toString))
    }
    val (onParquet, tParquet) = run(new SyncEngine(spark, tmpDir()))
    val (inMemory, tMemory) = run(new SyncEngine(spark, tmpDir(),
      storeFactory = MemoryStore.factory))
    val want = oracle(frames)
    val counts = onParquet.map(r => (r.inserted, r.updated))
    Prop(counts == expected) :| s"parquet counts $counts, model $expected" &&
      Prop(inMemory.map(r => (r.inserted, r.updated)) == expected) :|
        s"memory counts ${inMemory.map(r => (r.inserted, r.updated))}" &&
      Prop(tParquet == want) :| s"parquet table differs from the oracle ($p)" &&
      Prop(tMemory == want) :| s"memory table differs from the oracle ($p)"
  }

  axes.foreach { axis =>
    test(s"diff sequences match the oracle and MemoryStore (${axis.name} axis)") {
      val res = ScTest.check(
        ScTest.Parameters.default.withMinSuccessfulTests(3).withWorkers(1),
        forAll(params)(p => runCase(axis, p)))
      assert(res.passed, res.status.toString)
    }
  }
}
