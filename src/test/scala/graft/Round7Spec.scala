package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.{ApproxDedup, Corpus, Sampling, SimilaritySearch}

/** Round-7 operators: SemDeDup, cluster-balanced sampling, Unicode
  * normalization, and the Gopher composite quality filter. */
class SemDeDupSpec extends SparkSpec {
  import spark.implicits._

  // three tight groups around orthogonal directions + one singleton:
  // near-identical vectors within a group, near-zero cosine across groups
  private def vecs = {
    val base = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0))
    val rows = for {
      g <- base.indices
      j <- 0 until 3
    } yield {
      val v = base(g).clone()
      v((g + 1) % 4) += 0.01 * (j + 1) // tiny perturbation, cosine ~0.9999
      ((g * 3 + j).toLong, v.map(_.toFloat))
    }
    (rows :+ (9L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
  }

  private val axes: Seq[Seq[Double]] = Seq(
    Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
    Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))

  test("semanticDedup keeps one representative per tight group") {
    val out = ApproxDedup.semanticDedup(vecs, "vec_id", "embedding", axes, 0.99)
      .orderBy($"vec_id")
      .as[(Long, Long, Int)].collect()
    assert(out.length == 10)
    // group members collapse to the group's lowest id
    for (g <- 0 until 3; j <- 0 until 3) {
      val (_, rep, keep) = out(g * 3 + j)
      assert(rep == g * 3L, s"member ${g * 3 + j} must point at ${g * 3}")
      assert(keep == (if (j == 0) 1 else 0))
    }
    // the singleton survives as its own representative
    assert(out(9) == ((9L, 9L, 1)))
  }

  test("semanticDedup pair search never leaves a cell (no cross-cell pair shuffle)") {
    // vectors in different cells with cosine 1.0 against each other would
    // be missed by design — verify the cell pruning actually binds by
    // checking the plan joins on the cell column
    val cells = SimilaritySearch.withIvfCell(vecs, "embedding", axes, "__cell")
    val plan = ApproxDedup.semanticDedupPairs(vecs, "vec_id", "embedding", axes, 0.99)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__cell"), "pair join must key on the cell id")
    assert(!plan.toLowerCase.contains("cartesianproduct") &&
           !plan.contains("Cross"), s"pair search must never cross join:\n$plan")
    assert(cells.select("__cell").distinct().count() > 1)
  }
}

class ClusterSampleSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq.tabulate(60) { i =>
    (i.toLong, Array(math.sin(i * 1.7), math.cos(i * 0.9),
      (i % 7) / 7.0 - 0.5, (i % 11) / 11.0 - 0.5).map(_.toFloat))
  }.toDF("vec_id", "embedding")

  test("clusterSample keeps at most perCell rows per cell, deterministically") {
    val cents = SimilaritySearch.sampleCentroids(vecs, "vec_id", "embedding", 4)
    val s1 = Sampling.clusterSample(vecs, "vec_id", "embedding", cents, 3)
      .orderBy($"cell", $"vec_id").as[(Int, Long)].collect()
    val s2 = Sampling.clusterSample(vecs.repartition(7), "vec_id", "embedding", cents, 3)
      .orderBy($"cell", $"vec_id").as[(Int, Long)].collect()
    assert(s1.sameElements(s2), "membership must not depend on partitioning")
    val perCell = s1.groupBy(_._1).view.mapValues(_.length)
    assert(perCell.values.forall(_ <= 3))
    assert(perCell.values.sum == s1.length)
  }

  test("clusterSample covers every non-empty cell") {
    val cents = SimilaritySearch.sampleCentroids(vecs, "vec_id", "embedding", 4)
    val cells = SimilaritySearch.withIvfCell(vecs, "embedding", cents, "cell")
      .select($"cell").distinct().as[Int].collect().toSet
    val sampled = Sampling.clusterSample(vecs, "vec_id", "embedding", cents, 2)
      .select($"cell").distinct().as[Int].collect().toSet
    assert(sampled == cells, "every semantic region must contribute")
  }
}

class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("NFC composes decomposed sequences; composed text is unchanged") {
    val df = Seq(
      (1L, "Cafe\u0301"),      // decomposed é
      (2L, "Caf\u00e9"),       // precomposed é
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "s")
    val out = df.select($"id", TextFns.unicodeNormalize($"s").as("n"))
      .orderBy($"id").as[(Long, String)].collect()
    assert(out(0)._2 == "Caf\u00e9")
    assert(out(1)._2 == "Caf\u00e9")
    assert(out(2)._2 == "plain ascii")
    assert(out(3)._2 == null)
    // idempotent
    val twice = df.select(TextFns.unicodeNormalize(
      TextFns.unicodeNormalize($"s")).as("n")).orderBy($"n").collect()
    assert(twice.length == 4)
  }

  test("NFKC folds compatibility characters (ﬁ ligature, fullwidth digits)") {
    val out = Seq((1L, "\ufb01le \uff11\uff12")).toDF("id", "s")
      .select(TextFns.unicodeNormalize($"s", "NFKC")).as[String].head()
    assert(out == "file 12")
  }

  test("graft_nfc is callable from SQL") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_nfc('Cafe\u0301') AS n").as[String].head()
    assert(r == "Caf\u00e9")
  }
}

class QualityFilterSpec extends SparkSpec {
  import spark.implicits._

  private val goodText = {
    // >= 50 words, mean length in [3,10], stopwords present, alphabetic
    val s = "the quick brown fox jumps over that lazy dog with great energy and style "
    (s * 5).trim
  }

  test("gopherQualityFilter passes normal prose and names each violated rule") {
    val docs = Seq(
      (1L, goodText),
      (2L, "short text"),                               // word_count (+ stopwords)
      (3L, ("#" * 30 + " word ") * 20 + goodText),      // symbol_ratio
      (4L, (1 to 60).map(_ => "- bullet item").mkString("\n")), // bullet_lines
      (5L, goodText.split(" ").map(_ => "12345").mkString(" ")) // alpha + stopwords
    ).toDF("doc_id", "text")
    val out = Corpus.gopherQualityFilter(docs, "doc_id", "text")
      .select($"doc_id", $"keep", $"reject_reasons")
      .orderBy($"doc_id").as[(Long, Int, String)].collect()
    assert(out(0) == ((1L, 1, "")))
    assert(out(1)._2 == 0 && out(1)._3.contains("word_count"))
    assert(out(2)._2 == 0 && out(2)._3.contains("symbol_ratio"))
    assert(out(3)._2 == 0 && out(3)._3.contains("bullet_lines"))
    assert(out(4)._2 == 0 && out(4)._3.contains("alpha_words")
      && out(4)._3.contains("stopwords"))
  }

  test("quality filter is a pure projection: no exchange in the plan") {
    val docs = Seq((1L, goodText)).toDF("doc_id", "text")
    val plan = Corpus.gopherQualityFilter(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scan-local op must not shuffle:\n$plan")
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile: one aggregate pass, nulls excluded, typed min/max slots") {
    val df = Seq(
      (1L, Some("a"), Some(2.5)),
      (2L, None, Some(-1.0)),
      (3L, Some("b"), None),
      (4L, Some("a"), Some(2.5))
    ).toDF("id", "s", "v")
    val out = graft.ops.Maintenance.profile(df, Seq("id", "s", "v"))
      .orderBy($"col_name")
      .as[(String, Long, Long, Option[Double], Option[Double], Option[String], Option[String])]
      .collect()
    assert(out(0) == (("id", 4L, 4L, Some(1.0), Some(4.0), None, None)))
    assert(out(1) == (("s", 3L, 2L, None, None, Some("a"), Some("b"))))
    assert(out(2) == (("v", 3L, 2L, Some(-1.0), Some(2.5), None, None)))
  }
}

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("histogram bins partition the value range; counts sum to non-null rows") {
    val df = (Seq.tabulate(100)(i => Some(i.toDouble)) :+ None).toDF("v")
    val h = graft.ops.Maintenance.histogram(df, "v", 10)
      .orderBy($"bin").as[(Int, Double, Long)].collect()
    assert(h.map(_._3).sum == 100)
    assert(h.map(_._1).toSeq == (0 until 10))
    assert(h.forall(_._3 == 10)) // uniform data, equi-width bins
    assert(h.head._2 == 0.0 && h.last._2 == 9 * (99.0 / 10))
  }

  test("constant column lands in one bin") {
    val h = graft.ops.Maintenance.histogram(
      Seq(5.0, 5.0, 5.0).toDF("v"), "v", 4).collect()
    assert(h.length == 1 && h.head.getLong(2) == 3)
  }
}

class AsofVariantsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
  private val lhs = Seq((1L, 10L, ts(10)), (2L, 10L, ts(30)), (3L, 20L, ts(5)))
    .toDF("id", "k", "t")
  private val rhs = Seq((100L, 10L, ts(8)), (101L, 10L, ts(10)),
                        (102L, 10L, ts(45)), (103L, 20L, ts(50)))
    .toDF("rid", "k", "t")

  test("forward direction picks the nearest FOLLOWING right row") {
    val out = graft.ops.Relational.asofJoin(lhs, rhs, Seq("k"), "t", "t",
        rightPayload = Seq("rid"), rightOrder = Seq("rid"),
        direction = "forward")
      .orderBy($"id").select($"id", $"rid").as[(Long, Option[Long])].collect()
    assert(out(0) == ((1L, Some(101L)))) // inclusive: same-ts row visible
    assert(out(1) == ((2L, Some(102L)))) // next at 10:45
    assert(out(2) == ((3L, Some(103L))))
  }

  test("tolerance nulls matches beyond the bound but keeps the rows") {
    val out = graft.ops.Relational.asofJoin(lhs, rhs, Seq("k"), "t", "t",
        rightPayload = Seq("rid"), rightOrder = Seq("rid"),
        direction = "forward", toleranceUs = Some(15L * 60 * 1000000))
      .orderBy($"id").select($"id", $"rid").as[(Long, Option[Long])].collect()
    assert(out(0) == ((1L, Some(101L)))) // 0 min away
    assert(out(1) == ((2L, Some(102L)))) // 15 min away — at the bound
    assert(out(2) == ((3L, None)))       // 45 min away — beyond
  }

  test("backward + tolerance keeps unmatched rows with null payload") {
    val out = graft.ops.Relational.asofJoin(lhs, rhs, Seq("k"), "t", "t",
        rightPayload = Seq("rid"), rightOrder = Seq("rid"),
        toleranceUs = Some(2L * 60 * 1000000))
      .orderBy($"id").select($"id", $"rid").as[(Long, Option[Long])].collect()
    assert(out(0) == ((1L, Some(101L)))) // same ts, distance 0
    assert(out(1) == ((2L, None)))       // latest preceding is 20 min back
    assert(out(2) == ((3L, None)))       // nothing precedes
  }
}

class VerifyReplaceSpec extends SparkSpec {
  import spark.implicits._

  test("verify repairs EXTRA target rows (diff re-sync could never delete them)") {
    val root = java.nio.file.Files.createTempDirectory("graft_vrepl").toString
    val eng = new graft.sync.SyncEngine(spark, root)
    val spec = graft.catalog.PipeSpec(
      graft.catalog.PipeKeys("verify", "extras"),
      columns = graft.catalog.ColumnRoles(
        Map("datetime" -> "ts", "primary" -> "id")))
    val src = Seq.tabulate(100) { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00"), i.toLong, s"v$i")
    }.toDF("ts", "id", "v")
    eng.sync(spec, src)
    // damage: inject rows that the SOURCE never had (same window, new keys)
    val store = eng.storage(spec)
    val extras = Seq(
      (java.sql.Timestamp.valueOf("2024-01-05 13:00:00"), 9001L, "ghost1"),
      (java.sql.Timestamp.valueOf("2024-01-06 13:00:00"), 9002L, "ghost2")
    ).toDF("ts", "id", "v")
    eng.sync(spec, extras) // lands them in storage like a bad upstream batch
    val res = graft.ops.Maintenance.verify(eng, spec, src,
      windowMinutes = Some(1440))
    assert(res.chunksMismatched > 0)
    val after = eng.getData(spec).select($"id").as[Long].collect().toSet
    assert(!after.contains(9001L) && !after.contains(9002L),
      "extra rows must be gone after window replacement")
    assert(after == (0L until 100L).toSet)
    // second verify: everything clean
    val res2 = graft.ops.Maintenance.verify(eng, spec, src,
      windowMinutes = Some(1440))
    assert(res2.chunksMismatched == 0)
  }
}

class RepetitionMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("repetition matrix: overlap-safe char coverage, hand-checked") {
    // "a bb a bb a bb" — top bigram "a bb" occurs 3x at pos 0,2,4 covering
    // positions 0..5 = all 6 tokens (chars 1+2 each → 9); dup_2 same rows
    val docs = Seq((1L, "a bb a bb a bb")).toDF("doc_id", "text")
    val out = graft.ops.Corpus.repetitionMatrix(docs, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(2))
      .orderBy($"signal")
      .as[(Long, String, Long, Long, Double)].collect()
    // dup branch: both distinct bigrams ("a bb" x3, "bb a" x2) duplicated →
    // coverage = all positions = 9 chars of 9
    assert(out(0) == ((1L, "dup_02_gram", 9L, 9L, 1.0)))
    assert(out(1) == ((1L, "top_02_gram", 9L, 9L, 1.0)))
  }

  test("repetition matrix: non-repeating text emits top rows only") {
    val docs = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val out = graft.ops.Corpus.repetitionMatrix(docs, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(2, 3))
      .select($"signal").as[String].collect().toSet
    assert(out == Set("top_02_gram")) // no within-doc duplicates
  }
}

class RepetitionMatrixLawsSpec extends SparkSpec {
  import spark.implicits._

  test("dup-gram char coverage is monotone non-increasing in n") {
    // every sub-n-gram of a duplicated (n+1)-gram is itself duplicated and
    // spans all its positions, so coverage(n) >= coverage(n+1) must hold
    val rng = new scala.util.Random(7)
    val docs = Seq.tabulate(40) { i =>
      val words = Seq.fill(60)(s"w${rng.nextInt(12)}") // small vocab → repeats
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val m = graft.ops.Corpus.repetitionMatrix(docs, "doc_id", "text",
        topNs = Nil, dupNs = Seq(2, 3, 4, 5))
      .select($"doc_id", $"signal", $"covered_chars")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap)
    for ((doc, sig) <- m; n <- 2 to 4) {
      val hi = sig.getOrElse(f"dup_${n}%02d_gram", 0L)
      val lo = sig.getOrElse(f"dup_${n + 1}%02d_gram", 0L)
      assert(hi >= lo, s"doc $doc: dup_$n=$hi < dup_${n + 1}=$lo")
    }
    assert(m.nonEmpty)
  }
}

class VerifyPartialSourceSpec extends SparkSpec {
  import spark.implicits._

  private def pipe(root: String) = {
    val eng = new graft.sync.SyncEngine(spark, root)
    val spec = graft.catalog.PipeSpec(
      graft.catalog.PipeKeys("verify", "partial"),
      columns = graft.catalog.ColumnRoles(
        Map("datetime" -> "ts", "primary" -> "id")))
    (eng, spec)
  }

  private def rows(days: Range) = days.map { d =>
    (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), d.toLong, s"v$d")
  }.toDF("ts", "id", "v")

  test("a partial source slice must NEVER delete archived target history") {
    val (eng, spec) = pipe(
      java.nio.file.Files.createTempDirectory("graft_vpart").toString)
    eng.sync(spec, rows(1 to 20))          // full history in the pipe
    val recent = rows(15 to 20)            // upstream retains 6 days only
    val res = graft.ops.Maintenance.verify(eng, spec, recent,
      windowMinutes = Some(1440))
    // archived windows report mismatched (src=0, tgt>0) but stay intact
    assert(res.chunksMismatched == 14)
    assert(eng.storage(spec).rowCount == 20)
    assert(eng.getData(spec).select($"id").as[Long].collect().toSet ==
      (1L to 20L).toSet)
  }

  test("deleteMissing=true opts into dropping target-only windows") {
    val (eng, spec) = pipe(
      java.nio.file.Files.createTempDirectory("graft_vpart2").toString)
    eng.sync(spec, rows(1 to 20))
    graft.ops.Maintenance.verify(eng, spec, rows(15 to 20),
      windowMinutes = Some(1440), deleteMissing = true)
    assert(eng.getData(spec).select($"id").as[Long].collect().toSet ==
      (15L to 20L).toSet)
  }
}

class DupCharSpanSpec extends SparkSpec {
  import spark.implicits._

  test("duplicated char spans cover exactly the shared substring positions") {
    // doc 1 and 2 share a verbatim 30-char prefix; doc 3 is unique
    val shared = "the quick brown fox jumps over"
    val docs = Seq(
      (1L, shared + "1 one tail xyzzy"),      // tails diverge at char 30
      (2L, shared + "2 two differs totally"),
      (3L, "entirely unique content with no repeats at all")
    ).toDF("doc_id", "text")
    val out = graft.ops.ApproxDedup.dupCharSpanStats(docs, "doc_id", "text", n = 10)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect()
    // each sharer: the shared 30-char prefix is fully covered (its 10-grams
    // all duplicate); the unique tails are not
    assert(out(0)._3 == 30 && out(1)._3 == 30)
    assert(out(2)._3 == 0 && out(2)._4 == 0.0)
  }
}
