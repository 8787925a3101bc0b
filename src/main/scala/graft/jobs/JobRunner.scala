package graft.jobs

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

import graft.catalog.PipeSpec
import graft.sources.Source
import graft.streaming.Schedule
import graft.sync.{SyncEngine, SyncResult}

/** One recorded execution of a scheduled job. */
final case class JobRun(fire: LocalDateTime, startedMs: Long, durationMs: Long,
                        result: Either[String, SyncResult]) {
  def succeeded: Boolean = result.isRight
}

sealed trait JobStatus
object JobStatus {
  case object Pending   extends JobStatus
  case object Running   extends JobStatus
  case object Stopped   extends JobStatus // stop() before maxRuns reached
  case object Completed extends JobStatus // maxRuns reached
}

/** A named background job that OWNS recurring execution of one pipe's sync —
  * the loop the reference runs as a daemonized `sync pipes --loop` job
  * (jobs/_Job.py:69+ manages the daemon; scheduling via the same DSL our
  * [[graft.streaming.Schedule]] implements). Each fire runs
  * `SyncEngine.fetchSync` (which already carries the bounded-retry and hook
  * machinery) and records a [[JobRun]]; failures are captured, never thrown
  * out of the loop — a transient sync error must not kill the schedule.
  *
  * Threading: one daemon thread per job; [[stop]] wakes any pending sleep
  * via the monitor so shutdown is prompt, and joins the thread. The runs
  * log is bounded (`maxKeptRuns`, oldest dropped) — the reference rotates
  * its job logs for the same reason.
  */
final class Job private[jobs] (
    val name: String,
    engine: SyncEngine,
    spec: PipeSpec,
    source: Source,
    val schedule: String,
    maxRuns: Option[Int],
    maxKeptRuns: Int,
    clock: () => LocalDateTime) {

  private val lock = new Object
  private val runsBuf = scala.collection.mutable.ArrayBuffer.empty[JobRun]
  private var nRuns = 0L
  @volatile private var stopRequested = false
  @volatile private var state: JobStatus = JobStatus.Pending

  private val thread = new Thread(() => loop(), s"graft-job-$name")
  thread.setDaemon(true)

  private def loop(): Unit = {
    var lastFire: Option[LocalDateTime] = None
    try {
      while (!stopRequested && maxRuns.forall(nRuns < _)) {
        val now = clock()
        // First fire: at-or-after now; a past `starting` anchor catches up
        // ONCE at now. Subsequent fires: STRICTLY after max(lastFire, now)
        // — nextFires' at-or-after contract would re-yield the anchor and
        // run the job back-to-back, and advancing from lastFire alone
        // would storm through every missed grid point after a long sync
        // (misfires coalesce, standard cron grace behavior).
        val fireOpt = lastFire match {
          case None =>
            Schedule.nextFires(schedule, now, 1).headOption
              .map(f => if (f.isBefore(now)) now else f)
          case Some(lf) =>
            Schedule.nextFireAfter(schedule, if (lf.isAfter(now)) lf else now)
        }
        val fire = fireOpt match {
          case Some(f) => f
          case None    => state = JobStatus.Completed; return
        }
        // stop-aware sleep: stop() notifies the monitor, so a job sleeping
        // toward a far-future fire still shuts down promptly
        lock.synchronized {
          var waitMs = ChronoUnit.MILLIS.between(clock(), fire)
          while (waitMs > 0 && !stopRequested) {
            lock.wait(math.min(waitMs, 60000L))
            waitMs = ChronoUnit.MILLIS.between(clock(), fire)
          }
        }
        if (!stopRequested) {
          val t0 = System.currentTimeMillis()
          val result =
            try Right(engine.fetchSync(spec, source))
            catch { case e: Throwable =>
              Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
            }
          lock.synchronized {
            runsBuf += JobRun(fire, t0, System.currentTimeMillis() - t0, result)
            if (runsBuf.size > maxKeptRuns) runsBuf.remove(0)
            nRuns += 1
          }
          lastFire = Some(fire)
        }
      }
      state = if (stopRequested) JobStatus.Stopped else JobStatus.Completed
    } catch {
      case _: InterruptedException => state = JobStatus.Stopped
    }
  }

  private[jobs] def start(): Job = { state = JobStatus.Running; thread.start(); this }

  /** Request a prompt stop and wait for the loop to exit. Idempotent. */
  def stop(timeoutMs: Long = 30000L): Unit = {
    stopRequested = true
    lock.synchronized { lock.notifyAll() }
    thread.join(timeoutMs)
    if (thread.isAlive) thread.interrupt()
  }

  def status: JobStatus = state
  def isAlive: Boolean = thread.isAlive

  /** Recorded runs, oldest first (bounded by `maxKeptRuns`). */
  def runs: Seq[JobRun] = lock.synchronized { runsBuf.toSeq }
  def runCount: Long = lock.synchronized { nRuns }

  /** Test/ops helper: block until `n` total runs recorded (or timeout /
    * loop exit). */
  def awaitRuns(n: Int, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (runCount < n && System.currentTimeMillis() < deadline && thread.isAlive)
      Thread.sleep(20)
    runCount >= n
  }
}

/** Registry of named jobs — the reference's jobs surface (`get_jobs`,
  * start/stop/delete by name, jobs/_Job.py + jobs/__init__.py). One runner
  * per SyncEngine; names are unique among live jobs. */
final class JobRunner(engine: SyncEngine,
                      clock: () => LocalDateTime = () => LocalDateTime.now()) {

  private val jobs = scala.collection.concurrent.TrieMap.empty[String, Job]

  // the reference bans path-hostile characters in job names (daemon ids
  // become directories); same constraint here
  private val ValidName = "^[A-Za-z0-9][A-Za-z0-9_.-]*$".r

  /** Create AND start a job. `maxRuns` bounds total fires (None = forever);
    * a finished or stopped job's name can be reused. */
  def start(name: String, spec: PipeSpec, source: Source, schedule: String,
            maxRuns: Option[Int] = None, maxKeptRuns: Int = 100): Job = {
    require(ValidName.matches(name), s"invalid job name: '$name'")
    // validate the schedule EAGERLY — a typo'd DSL must fail at start, not
    // inside the background thread where the error is only a log line
    Schedule.nextFires(schedule, clock(), 1)
    // registration + thread start are one atomic section: a lock-free
    // putIfAbsent could observe a just-registered job whose thread hasn't
    // started yet (isAlive == false), replace it, and leave TWO live jobs
    // syncing the same pipe with one orphaned from the registry
    jobs.synchronized {
      jobs.get(name).foreach { existing =>
        if (existing.isAlive || existing.status == JobStatus.Pending)
          throw new IllegalArgumentException(s"job '$name' is already running")
      }
      val job = new Job(name, engine, spec, source, schedule, maxRuns,
        maxKeptRuns, clock)
      jobs.put(name, job)
      job.start()
    }
  }

  def get(name: String): Option[Job] = jobs.get(name)
  def list: Seq[(String, JobStatus)] =
    jobs.toSeq.sortBy(_._1).map { case (n, j) => (n, j.status) }

  /** Stop a job (no-op when absent); keep its run log. */
  def stop(name: String): Unit = jobs.get(name).foreach(_.stop())

  /** Stop and forget a job — the reference's `delete_job`. */
  def delete(name: String): Unit = { stop(name); jobs.remove(name); () }
}
