package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.GraftTestBus

/** Gates the test's tasks block on (local mode: tasks share the JVM). */
object ProfileJobLogGates {
  @volatile var oneStage = new CountDownLatch(1)
  @volatile var shuffle = new CountDownLatch(1)
}

/** `Profile.JobLog` attributes each stage to the job that submitted it,
  * also while jobs overlap. The one-stage job starts first and finishes
  * while the later shuffle job is still open: a "most recent open job"
  * rule hands its stage to the shuffle job. */
class ProfileJobLogSpec extends SparkSpec {
  test("two overlapping jobs keep their own stage and task counts") {
    val sc = spark.sparkContext
    ProfileJobLogGates.oneStage = new CountDownLatch(1)
    ProfileJobLogGates.shuffle = new CountDownLatch(1)
    val log = new Profile.JobLog
    sc.addSparkListener(log)
    def started(desc: String): Boolean = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!log.jobs.values.exists(_.desc == desc) && System.nanoTime() < deadline)
        Thread.sleep(10)
      log.jobs.values.exists(_.desc == desc)
    }
    def run(desc: String)(body: => Unit): Thread = {
      val t = new Thread(() => { sc.setJobDescription(desc); body })
      t.start(); t
    }
    try {
      val a = run("one-stage") {
        sc.parallelize(1 to 10, 2)
          .map { i => ProfileJobLogGates.oneStage.await(); i }.collect(); ()
      }
      assert(started("one-stage"))
      val b = run("shuffle") {
        sc.parallelize(1 to 90, 3)
          .map { i => ProfileJobLogGates.shuffle.await(); (i % 5, i) }
          .reduceByKey(_ + _, 2).collect(); ()
      }
      assert(started("shuffle"))
      ProfileJobLogGates.oneStage.countDown()
      a.join()
      ProfileJobLogGates.shuffle.countDown()
      b.join()
      GraftTestBus.waitUntilListenerBusEmpty(sc)
      val byDesc = log.ordered.map(j => j.desc -> (j.stages, j.tasks)).toMap
      assert(byDesc == Map("one-stage" -> (1, 2), "shuffle" -> (2, 5)), log.ordered)
    } finally {
      ProfileJobLogGates.oneStage.countDown()
      ProfileJobLogGates.shuffle.countDown()
      sc.removeSparkListener(log)
    }
  }

  test("overlapping jobs count once: in-job ≤ wall, driver-gap ≥ 0") {
    val sc = spark.sparkContext
    ProfileJobLogGates.oneStage = new CountDownLatch(1)
    ProfileJobLogGates.shuffle = new CountDownLatch(1)
    val log = new Profile.JobLog
    sc.addSparkListener(log)
    def job(first: Boolean): Thread = {
      val t = new Thread(() => {
        sc.parallelize(1 to 4, 2).map { i =>
          (if (first) ProfileJobLogGates.oneStage else ProfileJobLogGates.shuffle).await(); i
        }.collect(); ()
      })
      t.start(); t
    }
    try {
      val t0 = System.currentTimeMillis()
      val a = job(first = true)
      val b = job(first = false)
      // both jobs open at once, held open together
      val deadline = System.nanoTime() + 30e9.toLong
      while (log.jobs.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      Thread.sleep(300)
      ProfileJobLogGates.oneStage.countDown()
      ProfileJobLogGates.shuffle.countDown()
      a.join(); b.join()
      GraftTestBus.waitUntilListenerBusEmpty(sc)
      val wall = System.currentTimeMillis() - t0
      val jobs = log.ordered
      assert(jobs.size == 2, jobs)
      val (inJob, gaps) = Profile.timeline(jobs)
      // the sum of the job times counts the shared 300 ms twice
      assert(jobs.map(j => j.end - j.start).sum > inJob, jobs)
      assert(inJob <= wall, s"in-job $inJob ms > wall $wall ms: $jobs")
      assert(wall - inJob >= 0)
      assert(gaps.map(_._2) == Seq(0L, 0L), gaps)
    } finally {
      ProfileJobLogGates.oneStage.countDown()
      ProfileJobLogGates.shuffle.countDown()
      sc.removeSparkListener(log)
    }
  }
}
