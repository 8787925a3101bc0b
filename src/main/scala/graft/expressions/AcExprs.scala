package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern automaton (Aho & Corasick 1975, CACM 18(6))
  * frozen into flat arrays: one text scan finds every occurrence of every
  * pattern — O(len + hits) per document regardless of pattern count,
  * where the per-pattern `contains` scan the C4-style array-literal
  * blocklist runs is O(len · patterns). This is the kernel for 100k-entry
  * blocklists.
  *
  * Patterns are deduplicated and sorted at build; a pattern's id is its
  * rank in that sorted order, so ids are deterministic for any input
  * order. Matching is raw-substring (no token boundaries) over the text
  * as given — callers lowercase text and patterns together if they want
  * case folding. Occurrences are counted at EVERY end position, overlaps
  * and nested patterns included ("aa" occurs twice in "aaa"; "ab" and
  * "b" both hit in "ab") — the textbook automaton semantics, replayable
  * in SQL by counting positions where the slice equals the pattern.
  *
  * Build is O(Σ|pattern|) trie insertion + BFS for failure links; the
  * frozen form keeps per-node transitions as sorted char/target arrays
  * (binary search per input char) and pattern emission behind dictionary
  * suffix links, so matching touches only emitting nodes. The automaton
  * rides to executors inside the stage's task binary, which Spark
  * broadcasts once per executor — a megabyte-scale automaton ships once,
  * not per task.
  */
final class AcAutomaton private (
    private val chars: Array[Array[Char]],
    private val targets: Array[Array[Int]],
    private val fail: Array[Int],
    private val emit: Array[Array[Int]],
    private val dict: Array[Int],
    val patterns: Array[String]) extends Serializable {

  private def step(from: Int, c: Char): Int = {
    var state = from
    while (true) {
      val cs = chars(state)
      val i = java.util.Arrays.binarySearch(cs, c)
      if (i >= 0) return targets(state)(i)
      if (state == 0) return 0
      state = fail(state)
    }
    0 // unreachable
  }

  /** PREFIX matches: pattern ids whose full pattern is a prefix of
    * `text` — the pure trie walk from the root (failure links unused),
    * the URL deny-list / robots-rule semantics. O(min(|text|, max
    * pattern length)) per value at ANY pattern count. Sorted by id. */
  def prefixMatches(text: String): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var state = 0
    var i = 0
    val n = text.length
    var live = true
    while (live && i < n) {
      val idx = java.util.Arrays.binarySearch(chars(state), text.charAt(i))
      if (idx < 0) live = false
      else {
        state = targets(state)(idx)
        out ++= emit(state)
        i += 1
      }
    }
    out.sorted.toArray
  }

  /** Per-pattern occurrence counts over `text`, sorted by pattern id. */
  def matchCounts(text: String): Array[(Int, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[Int, Long]
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      state = step(state, text.charAt(i))
      var e = if (emit(state).nonEmpty) state else dict(state)
      while (e >= 0) {
        val pids = emit(e)
        var j = 0
        while (j < pids.length) {
          counts.update(pids(j), counts.getOrElse(pids(j), 0L) + 1L)
          j += 1
        }
        e = dict(e)
      }
      i += 1
    }
    counts.toArray.sortBy(_._1)
  }
}

object AcAutomaton {
  def build(rawPatterns: Seq[String]): AcAutomaton = {
    val patterns = rawPatterns.distinct.sorted.toArray
    require(patterns.nonEmpty, "empty blocklist")
    require(patterns.forall(_.nonEmpty), "empty-string pattern")
    // mutable trie
    val next = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.HashMap.empty[Char, Int])
    val emitB = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var state = 0
      p.foreach { c =>
        state = next(state).getOrElseUpdate(c, {
          next += scala.collection.mutable.HashMap.empty[Char, Int]
          emitB += scala.collection.mutable.ArrayBuffer.empty[Int]
          next.size - 1
        })
      }
      emitB(state) += pid
    }
    val n = next.size
    val fail = new Array[Int](n)
    val dict = new Array[Int](n)
    java.util.Arrays.fill(dict, -1)
    // BFS failure links (root's children fail to root)
    val queue = new java.util.ArrayDeque[Int]()
    next(0).valuesIterator.foreach { v => fail(v) = 0; queue.add(v) }
    while (!queue.isEmpty) {
      val u = queue.poll()
      dict(u) = if (emitB(fail(u)).nonEmpty) fail(u) else dict(fail(u))
      next(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = next(f).get(c).filter(_ != v).getOrElse(0)
        queue.add(v)
      }
    }
    // freeze transitions to sorted parallel arrays
    val chars = new Array[Array[Char]](n)
    val targets = new Array[Array[Int]](n)
    (0 until n).foreach { s =>
      val entries = next(s).toArray.sortBy(_._1)
      chars(s) = entries.map(_._1)
      targets(s) = entries.map(_._2)
    }
    new AcAutomaton(chars, targets, fail, emitB.map(_.toArray).toArray, dict, patterns)
  }
}

/** Call target for [[AcMatchCounts]]'s generated code — shared with
  * interpreted eval so the two paths cannot drift. */
object AcKernel {
  def prefixArray(text: UTF8String, ac: AcAutomaton): ArrayData =
    new GenericArrayData(ac.prefixMatches(text.toString))

  def compute(text: UTF8String, ac: AcAutomaton): ArrayData = {
    val hits = ac.matchCounts(text.toString)
    val rows = new Array[Any](hits.length)
    var i = 0
    while (i < hits.length) {
      rows(i) = InternalRow(hits(i)._1, hits(i)._2)
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** `array<int>` of pattern ids that are PREFIXES of the input — the
  * deny-list trie walk ([[AcAutomaton.prefixMatches]]), codegen'd via
  * the same reference-object idiom as [[AcMatchCounts]]. */
case class AcPrefixMatches(child: Expression, ac: AcAutomaton)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ac_prefix_matches expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    AcKernel.prefixArray(v.asInstanceOf[UTF8String], ac)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac, classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expressions.AcKernel.prefixArray($v, $acRef);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `array<struct<pid int, cnt bigint>>` of per-pattern overlapping
  * occurrence counts — one automaton pass per document. Codegen'd via a
  * reference object so the hot loop stays inside whole-stage codegen. */
case class AcMatchCounts(child: Expression, ac: AcAutomaton)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pid", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ac_matches expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    AcKernel.compute(v.asInstanceOf[UTF8String], ac)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac, classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expressions.AcKernel.compute($v, $acRef);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
