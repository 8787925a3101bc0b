package syncbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: `parent` is 0 for an operation root. Times are
  * `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans open and close around calls into a layer
  * from the benchmark's side of the seam; nothing inside graft is touched.
  *
  * Job attribution: while a span is open on a thread, the Spark local
  * property [[Tracer.Key]] carries its id, so every job that thread submits
  * is tagged with the span in `SparkListenerJobStart.properties`. A span
  * opened with `sticky = true` leaves the property set after it closes, for
  * calls that return a lazy frame whose jobs run later on the same thread
  * (the server writing a response).
  *
  * Disabled, `span` is a plain call: untraced runs pay one branch. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val closed = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  /** Innermost span open on the client thread: the parent of spans opened
    * on server threads while the client waits on a round trip. */
  @volatile private var clientLeaf = 0
  @volatile private var clientThread: Thread = null

  /** Spans recorded so far, in closing order. */
  def spans: Seq[Span] = closed.asScala.toSeq
  def clear(): Unit = closed.clear()

  /** Bind the calling thread as the client thread. */
  def bindClient(): Unit = clientThread = Thread.currentThread()

  def span[A](name: String, op: String = "", sticky: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val onClient = Thread.currentThread() eq clientThread
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(if (onClient) 0 else clientLeaf)
      val id = ids.incrementAndGet()
      val prevProp = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      stack.set(id :: outer)
      if (onClient) clientLeaf = id
      val t0 = System.nanoTime()
      try body
      finally {
        closed.add(Span(id, parent, name, op, t0, System.nanoTime()))
        stack.set(outer)
        if (onClient) clientLeaf = outer.headOption.getOrElse(0)
        if (!sticky) sc.setLocalProperty(Tracer.Key, prevProp)
      }
    }
}

object Tracer {
  val Key = "syncbench.span"

  /** Total length of a union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Recorded spans as a forest. */
final class SpanTree(val spans: Seq[Span]) {
  private val kids = spans.groupBy(_.parent)
  private val byId = spans.map(s => s.id -> s).toMap

  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children (each clipped to the parent), so
    * overlapping children count once. Never negative. */
  val self: Map[Int, Long] = spans.map { s =>
    val covered = Tracer.union(kids.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a })
    s.id -> math.max(0L, s.dur - covered)
  }.toMap

  /** Every span in the subtree under `root`, root included. */
  def subtree(root: Int): Seq[Span] = {
    def walk(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: walk(c.id))
    byId.get(root).toSeq ++ walk(root)
  }

  /** Sum of self times over the subtree minus the root's wall time. */
  def closureResidual(root: Int): Long =
    subtree(root).map(s => self(s.id)).sum - byId(root).dur
}

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var shuffleWriteBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L
  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    shuffleWriteBytes += o.shuffleWriteBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes
    this
  }
}

/** Totals Spark jobs, stages and task metrics per span id (0 = untagged).
  * A job belongs to the span in its start properties; a stage belongs to
  * the first job whose `stageInfos` lists it — exact under concurrent jobs,
  * where "the most recently started job" is not. */
final class SpanListener extends SparkListener {
  private val stageSpan = TrieMap.empty[Int, Int]
  private val work = TrieMap.empty[Int, Work]
  private def at(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    at(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    at(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = at(stageSpan.getOrElse(e.stageId, 0))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskNs += m.executorRunTime * 1000000L
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.inputRecords += m.inputMetrics.recordsRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Work of the given spans, summed. */
  def workOf(spans: Iterable[Int]): Work = synchronized {
    spans.foldLeft(new Work)((acc, s) => work.get(s).map(acc.add).getOrElse(acc))
  }

  /** Work of every span, tagged or not. */
  def total: Work = synchronized { work.values.foldLeft(new Work)(_ add _) }
}
