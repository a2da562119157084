package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task and stage totals attributed to one span. */
final class SpanMetrics {
  var jobs, stages, tasks = 0L
  var taskNanos, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, outputBytes = 0L
  /** Stages whose tasks wrote shuffle output: the exchanges the span ran. */
  var exchanges = 0L
  /** Per-task updates of named accumulators (the `kg.*` extract counters). */
  val accums = mutable.Map.empty[String, Long]
}

/** One traced interval. Benchmark spans are opened around public calls;
  * table spans are created by the listener for each SQL execution that
  * writes a `KgTables` table (`kg_*`) inside a benchmark span. Times are
  * epoch milliseconds. */
final class Span(val id: Int, val name: String, val parent: Int,
    val iter: Int, var startMs: Double, var endMs: Double,
    val fromTable: Boolean = false) {
  val m = new SpanMetrics
  def durS: Double = (endMs - startMs) / 1e3
}

/** Span recorder plus a `SparkListener` that attributes every job's stage
  * and task metrics to the span named by the `perfbench.span` local
  * property of the thread that submitted it. Registered once per session
  * and only in traced runs; spans stay in memory until `writeJsonl`. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageHasShuffle = new ConcurrentHashMap[Int, java.lang.Boolean]()
  // SQL execution id -> written kg_* table, and -> its table span
  private val execTable = new ConcurrentHashMap[Long, (String, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  @volatile private var listenerNanos = 0L

  /** Seconds spent inside this listener's callbacks. */
  def listenerS: Double = listenerNanos / 1e9

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Run `body` inside a new span that is a child of the current one. */
  def span[A](name: String, iter: Int)(body: => A): A = {
    val s = spans.synchronized {
      val s = new Span(spans.size, name, current, iter, nowMs, Double.NaN)
      spans += s
      s
    }
    val parent = current
    current = s.id
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      current = parent
      sc.setLocalProperty(Tracer.Key, if (parent >= 0) parent.toString else null)
    }
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNanos += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        Tracer.writtenTable(e.sparkPlanInfo).foreach { t =>
          execTable.put(e.executionId, (t, e.time))
        }
      case e: SparkListenerSQLExecutionEnd =>
        Option(execSpan.get(e.executionId)).foreach(_.endMs = e.time.toDouble)
      case _ =>
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = timed {
    val props = Option(job.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt)
      .foreach { id =>
        val owner = spans.synchronized(spans(id))
        val execId = props.flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val target = execId.flatMap(x => Option(execTable.get(x)).map(x -> _)) match {
          case Some((x, (table, startMs))) =>
            execSpan.computeIfAbsent(x, _ => spans.synchronized {
              val s = new Span(spans.size, Tracer.stageOf(table), owner.id,
                owner.iter, startMs.toDouble, Double.NaN, fromTable = true)
              spans += s
              s
            })
          case None => owner
        }
        target.m.synchronized(target.m.jobs += 1)
        job.stageIds.foreach(stageSpan.put(_, target))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val id = e.stageInfo.stageId
    Option(stageSpan.get(id)).foreach { s =>
      s.m.synchronized {
        s.m.stages += 1
        if (stageHasShuffle.remove(id) != null) s.m.exchanges += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = s.m
      m.synchronized {
        m.tasks += 1
        Option(e.taskMetrics).foreach { t =>
          m.taskNanos += t.executorRunTime * 1000000L
          m.gcMs += t.jvmGCTime
          m.shuffleReadBytes += t.shuffleReadMetrics.totalBytesRead
          m.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
          m.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
          m.inputBytes += t.inputMetrics.bytesRead
          m.outputBytes += t.outputMetrics.bytesWritten
          if (t.shuffleWriteMetrics.bytesWritten > 0)
            stageHasShuffle.put(e.stageId, true)
        }
        e.taskInfo.accumulables.foreach { a =>
          (a.name, a.update) match {
            case (Some(n), Some(v: java.lang.Long)) if n.startsWith("kg.") =>
              m.accums(n) = m.accums.getOrElse(n, 0L) + v
            case _ =>
          }
        }
      }
    }
  }

  /** Seconds of `s` not covered by its direct children (they never overlap:
    * one job is in flight at a time). */
  def selfS(s: Span, spansNow: Seq[Span]): Double =
    s.durS - spansNow.filter(_.parent == s.id).map(_.durS).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    val now = all
    now.foreach { s =>
      val m = s.m
      val acc = m.accums.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      sb ++= f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""iter":${s.iter},"table":${s.fromTable},"start_ms":${s.startMs}%.0f,"end_ms":${s.endMs}%.0f,""" +
        f""""self_s":${selfS(s, now)}%.4f,"jobs":${m.jobs},"stages":${m.stages},""" +
        f""""tasks":${m.tasks},"task_s":${m.taskNanos / 1e9}%.4f,"gc_s":${m.gcMs / 1e3}%.3f,""" +
        s""""shuffle_read_b":${m.shuffleReadBytes},"shuffle_write_b":${m.shuffleWriteBytes},""" +
        s""""spill_b":${m.spillBytes},"input_b":${m.inputBytes},"output_b":${m.outputBytes},""" +
        s""""exchanges":${m.exchanges},"accums":$acc}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Key = "perfbench.span"

  private val TablePath = """/(kg_[a-z]+)[,\s\]]""".r

  /** The `kg_*` table an execution writes, read from its plan's write
    * command, e.g. `Execute InsertIntoHadoopFsRelationCommand file:/…/kg_nodes, …`. */
  def writtenTable(p: SparkPlanInfo): Option[String] =
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      TablePath.findFirstMatchIn(p.simpleString).map(_.group(1))
    else p.children.iterator.map(writtenTable).collectFirst { case Some(t) => t }

  /** Pipeline stage that owns a `KgTables` table. */
  def stageOf(table: String): String = table match {
    case "kg_entities" | "kg_edges" | "kg_scrapes" => "extract"
    case "kg_nodes" => "link"
    case "kg_components" => "cc"
    case "kg_metrics" => "stats"
    case other => other
  }
}
