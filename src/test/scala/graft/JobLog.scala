package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the jobs of one block did: each job's short call site (e.g.
  * "collect at ConnectedComponents.scala:80" — the name of the job's last
  * stage, its result stage, as the Spark UI shows it) and the summed task
  * updates of the `kg.pages_processed` extract counter. */
final class JobLog extends SparkListener {
  private val sites = new ConcurrentLinkedQueue[String]()
  private val pagesSum = new AtomicLong()

  def callSites: Seq[String] = sites.asScala.toSeq
  def pagesProcessed: Long = pagesSum.get()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    sites.add(e.stageInfos.maxBy(_.stageId).name)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    e.taskInfo.accumulables.foreach { a =>
      (a.name, a.update) match {
        case (Some("kg.pages_processed"), Some(v: java.lang.Long)) =>
          pagesSum.addAndGet(v)
        case _ =>
      }
    }
}

object JobLog {
  /** Runs `body` with a fresh [[JobLog]] listening to exactly its jobs. */
  def during[A](spark: SparkSession)(body: => A): (A, JobLog) = {
    val sc = spark.sparkContext
    val log = new JobLog
    ListenerBusTestAccess.drain(sc)
    sc.addSparkListener(log)
    try {
      val out = body
      ListenerBusTestAccess.drain(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }
}
