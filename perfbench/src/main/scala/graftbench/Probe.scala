package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One file write as the engine reported it: output path, wall time of
  * the write command, and its write-command SQL metrics. */
final case class WriteStat(path: String, seconds: Double, rows: Long,
                           files: Long, bytes: Long, parts: Long,
                           jobCommitMs: Long, taskCommitMs: Long)

final case class JobStat(id: Int, startMs: Long, endMs: Long,
                         execId: Option[Long], stages: Seq[Int])

final case class StageStat(id: Int, tasks: Int, cpuNs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long,
                           taskMs: Seq[Long])

/** Listens to Spark's own events: streaming progress, SQL executions and
  * their write-command metrics always (the output checks need them);
  * jobs, stages and tasks only when `full` (the traced run). Nothing
  * inside the program is instrumented. */
final class Probe(spark: SparkSession, val full: Boolean) {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val failedQueries = mutable.ArrayBuffer.empty[String]
  val writes = mutable.ArrayBuffer.empty[WriteStat]
  val jobs = mutable.ArrayBuffer.empty[JobStat]
  val stages = mutable.Map.empty[Int, StageStat]
  /** SQL execution id -> (start ms, end ms, plan text). */
  val executions = mutable.Map.empty[Long, (Long, Long, String)]
  private val jobStarts = mutable.Map.empty[Int, (Long, Option[Long], Seq[Int])]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var firstTaskMs: Long = Long.MaxValue

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach(x => Probe.this.synchronized { failedQueries += x })
  }

  /** The write command of a plan, also when adaptive execution wraps it. */
  private def writeCommand(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case d: DataWritingCommandExec => Some(d)
    case a: AdaptiveSparkPlanExec => writeCommand(a.executedPlan)
    case c: CommandResultExec => writeCommand(c.commandPhysicalPlan)
    case q: QueryStageExec => writeCommand(q.plan)
    case other => other.children.iterator.flatMap(writeCommand).nextOption()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = if (full) Probe.this.synchronized {
      val exec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobStarts(js.jobId) = (js.time, exec, js.stageIds)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (full) Probe.this.synchronized {
      jobStarts.remove(je.jobId).foreach { case (t0, exec, st) =>
        jobs += JobStat(je.jobId, t0, je.time, exec, st) }
    }
    override def onTaskStart(ts: SparkListenerTaskStart): Unit =
      if (full && ts.taskInfo.launchTime < firstTaskMs) firstTaskMs = ts.taskInfo.launchTime
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (full) Probe.this.synchronized {
      taskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (full) Probe.this.synchronized {
        val si = sc.stageInfo; val tm = si.taskMetrics
        stages(si.stageId) = StageStat(si.stageId, si.numTasks, tm.executorCpuTime,
          tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
          tm.memoryBytesSpilled + tm.diskBytesSpilled,
          taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
      }
    override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
      case s: SparkListenerSQLExecutionStart => Probe.this.synchronized {
        executions(s.executionId) = (s.time, Long.MaxValue, s.physicalPlanDescription) }
      case e: SparkListenerSQLExecutionEnd => Probe.this.synchronized {
        executions.get(e.executionId).foreach { case (t0, _, d) =>
          executions(e.executionId) = (t0, e.time, d)
          // the write commands of every session, foreachBatch clones too
          org.apache.spark.sql.graftbench.Bus.query(e).flatMap(q => writeCommand(q.executedPlan)).foreach { w =>
            val path = w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
              case other => other.nodeName
            }
            def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
            writes += WriteStat(path, (e.time - t0) / 1e3, m("numOutputRows"),
              m("numFiles"), m("numOutputBytes"), m("numParts"),
              m("jobCommitTime"), m("taskCommitTime"))
          }
        } }
      case _ =>
    }
  }

  spark.streams.addListener(streamListener)
  spark.sparkContext.addSparkListener(sparkListener)

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.sql.graftbench.Bus.drain(spark.sparkContext)

  /** Drain, then forget everything seen so far. */
  def reset(): Unit = {
    drain()
    synchronized(clear())
  }
  private def clear(): Unit = {
    progress.clear(); failedQueries.clear(); writes.clear(); jobs.clear()
    stages.clear(); executions.clear(); taskMs.clear(); firstTaskMs = Long.MaxValue
  }

  def close(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

/** Union length of [start, end) intervals, in the intervals' unit. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, run: String)

/** Spans recorded from the benchmark's own files around calls into the
  * program: name, start, end, parent and run id. Kept in memory; written
  * out once when the run ends. */
final class Spans(run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body finally {
      done += Span(id, name, t0, System.nanoTime(), parent, run)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = done.toSeq

  /** Self seconds per span name: duration minus the part its children cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = done.groupBy(_.parent)
    done.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.union(kids.getOrElse(s.id, Seq.empty).toSeq.map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
