package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). Runs named queries under the Bench session and warm-up
  * ([[Session]]) and prints, per query, the Spark-job ladder — one line per
  * job with wall ms, stage/task counts and shuffle bytes — plus the
  * inter-job driver gaps (see [[timeline]]). Distinguishes "many tiny
  * jobs" (driver/plan/fixed-overhead bound) from "one slow stage"
  * (compute/shuffle bound), which is the first fork in the optimization
  * playbook.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> q_a,q_b [reps]"` (or via
  * java -cp with the Spark jars). Not part of the driver surface.
  */
object Profile {

  private[graft] final case class Job(id: Int, desc: String, start: Long,
                                      var end: Long = 0L, var stages: Int = 0,
                                      var tasks: Int = 0, var shuffleReadMB: Double = 0.0,
                                      var shuffleWriteMB: Double = 0.0)

  /** Per-job wall time, stages, tasks and shuffle bytes. A completed stage
    * counts for the job whose `SparkListenerJobStart.stageIds` first listed
    * it, so jobs that overlap (`inParallel`, `fetchSyncMany`) keep their own
    * stages. */
  private[graft] final class JobLog extends SparkListener {
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.put(js.jobId, Job(js.jobId, desc, js.time))
      js.stageIds.foreach(stageJob.putIfAbsent(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.get(je.jobId).foreach(_.end = je.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += info.numTasks
        j.shuffleReadMB += info.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
        j.shuffleWriteMB += info.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
      }
    }
    /** Jobs in start order. */
    def ordered: Seq[Job] = jobs.values.toSeq.sortBy(_.id)
    def reset(): Unit = { jobs.clear(); stageJob.clear() }
  }

  /** Milliseconds inside at least one job — the union of the job
    * intervals, so jobs that overlap (AQE stages, `inParallel`) count once
    * — and each job, in start order, with its gap: the time since the
    * latest end among the jobs started before it, 0 while one still
    * runs. */
  private[graft] def timeline(jobs: Seq[Job]): (Long, Seq[(Job, Long)]) = {
    var inJob = 0L
    var latest = Long.MinValue
    val gaps = jobs.sortBy(j => (j.start, j.id)).map { j =>
      val end = math.max(j.start, j.end)
      val gap = if (latest == Long.MinValue) 0L else math.max(0L, j.start - latest)
      inJob += math.max(0L, end - math.max(j.start, latest))
      latest = math.max(latest, end)
      j -> gap
    }
    (inJob, gaps)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
                else Seq.empty
    val reps = if (args.length > 2) args(2).toInt else 1
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Session.local()
    Session.warm(spark, sfDir)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)

    def runPhase(label: String, body: () => Unit): Unit = {
      log.reset()
      val t0 = System.nanoTime()
      body()
      val wall = (System.nanoTime() - t0) / 1e6
      // drain listener bus so late job-end events land (no public flush API)
      Thread.sleep(250)
      val (jobMs, jobs) = timeline(log.ordered)
      println(f"== $label%-44s wall ${wall / 1000}%8.3f s  jobs ${jobs.size}%3d  in-job ${jobMs / 1000.0}%8.3f s  driver-gap ${(wall - jobMs) / 1000}%8.3f s")
      jobs.foreach { case (j, gap) =>
        val d = (j.end - j.start).toDouble
        if (d >= 40 || gap >= 40)
          println(f"   job ${j.id}%4d ${d / 1000}%7.3f s (gap ${gap / 1000.0}%6.3f) stages ${j.stages}%2d tasks ${j.tasks}%4d shufR ${j.shuffleReadMB}%8.2f MB shufW ${j.shuffleWriteMB}%8.2f MB  ${j.desc.take(90)}")
      }
    }

    (1 to reps).foreach { rep =>
      names.foreach { name =>
        val phases: Seq[(String, () => Unit)] = SparkEntry.staged.get(name) match {
          case Some(mk) =>
            val (build, probe) = mk(spark, sfDir)
            Seq(s"${name}_build[$rep]" -> build,
              s"$name[$rep]" -> (() => { probe().count(); () }))
          case None =>
            Seq(s"$name[$rep]" -> (() => { SparkEntry.queries(name)(spark, sfDir).count(); () }))
        }
        phases.foreach { case (l, b) => runPhase(l, b) }
        Session.sweep(spark)
      }
    }
    spark.stop()
  }
}
