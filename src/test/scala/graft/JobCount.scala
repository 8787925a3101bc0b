package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts. Jobs are attributed through a
  * thread-local property, which Spark carries into its broadcast and
  * query-stage threads, so only the block's own jobs count as its; the
  * jobs other threads start meanwhile (an in-process server's request
  * threads, say) are returned apart. */
object JobCount {
  private val Tag = "graft.test.jobs"

  /** `body`'s result, its jobs and the other jobs that started while it
    * ran, each named by the description of the SQL execution that ran it. */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Seq[String], Seq[String]) = {
    val token = java.util.UUID.randomUUID().toString
    val jobs  = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val others = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val exec = String.valueOf(props.map(_.getProperty("spark.sql.execution.id")).orNull)
        if (props.exists(_.getProperty(Tag) == token)) jobs.add(exec) else others.add(exec)
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.put(s.executionId.toString, s.description)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(Tag, token)
    def named(q: java.util.Queue[String]) =
      q.asScala.toSeq.map(id => Option(execs.get(id)).getOrElse(s"execution $id"))
    try {
      GraftTestBus.waitUntilListenerBusEmpty(spark.sparkContext)
      val a = body
      GraftTestBus.waitUntilListenerBusEmpty(spark.sparkContext)
      (a, named(jobs), named(others))
    } finally {
      spark.sparkContext.setLocalProperty(Tag, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  def describe(jobs: Seq[String]): String =
    jobs.groupBy(identity).map { case (d, js) => s"${js.size} × $d" }.mkString("; ")
}
