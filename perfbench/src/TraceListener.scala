package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.util.AccumulatorContext

import graftbench.{Harness, Json}

/** Helpers that need Spark's package-private API. */
object Bus {
  /** Block until every posted listener event has been delivered, so the
    * trace is complete before it is read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** "timing" (ms), "nsTiming" (ns), "size", "sum", ... for a SQL metric. */
  def metricType(accumId: Long): Option[String] =
    AccumulatorContext.get(accumId).collect { case m: SQLMetric => m.metricType }
}

/** Harness-owned listener for the traced run. It keeps, in memory, one span
  * per Spark job (parent: the harness span named by the job's local
  * property) and per stage (parent: its job), plus task-metric and SQL-metric
  * sums per stage. Nothing is written until the run ends. */
class TraceListener extends SparkListener {
  final class StageAgg {
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var tasks = 0L
    var inBytes = 0L; var shufWBytes = 0L; var shufWRecords = 0L
    var shufRBytes = 0L; var fetchWaitMs = 0L; var diskSpill = 0L; var memSpill = 0L
    val sql = mutable.Map[String, Long]()
  }
  final case class JobRec(id: Int, startMs: Long, var endMs: Long, parent: String,
      stages: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, name: String, submitMs: Long,
      endMs: Long, numTasks: Int)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val aggs = mutable.Map[(Int, Int), StageAgg]()
  private val metricTypes = mutable.Map[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanProp)))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, parent, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shufWBytes += m.shuffleWriteMetrics.bytesWritten
      a.shufWRecords += m.shuffleWriteMetrics.recordsWritten
      a.shufRBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.diskSpill += m.diskBytesSpilled; a.memSpill += m.memoryBytesSpilled
    }
    e.taskInfo.accumulables.foreach { acc =>
      (acc.name, acc.update) match {
        case (Some(n), Some(v: Long)) if acc.metadata.contains("sql") =>
          val t = metricTypes.getOrElseUpdate(acc.id, Bus.metricType(acc.id).getOrElse("sum"))
          val key = s"$n|$t"
          a.sql(key) = a.sql.getOrElse(key, 0L) + v
        case _ => ()
      }
    }
  }

  /** Job and stage spans, one JSON object per line. */
  def spans: Seq[String] = synchronized {
    val stageJob = jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
    jobs.values.toSeq.map { j =>
      Json.obj(Seq("id" -> Json.str(s"job-${j.id}"), "parent" -> Json.str(j.parent),
        "name" -> Json.str("spark.job"), "start_us" -> Json.num(j.startMs * 1000.0),
        "end_us" -> Json.num(j.endMs * 1000.0)))
    } ++ stages.toSeq.filter(s => s.submitMs > 0 && s.endMs > 0).map { s =>
      Json.obj(Seq("id" -> Json.str(s"stage-${s.id}.${s.attempt}"),
        "parent" -> Json.str(stageJob.get(s.id).map(j => s"job-$j").getOrElse("")),
        "name" -> Json.str("spark.stage"), "start_us" -> Json.num(s.submitMs * 1000.0),
        "end_us" -> Json.num(s.endMs * 1000.0),
        "attrs" -> stageAttrs(s)))
    }
  }

  private def stageAttrs(s: StageRec): String = {
    val a = aggs.getOrElse((s.id, s.attempt), new StageAgg)
    val base = Seq("tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
      "gc_ms" -> a.gcMs, "input_bytes" -> a.inBytes, "shuffle_write_bytes" -> a.shufWBytes,
      "shuffle_records_written" -> a.shufWRecords, "shuffle_read_bytes" -> a.shufRBytes,
      "fetch_wait_ms" -> a.fetchWaitMs, "disk_spill_bytes" -> a.diskSpill,
      "memory_spill_bytes" -> a.memSpill)
    Json.obj(base.map { case (k, v) => k -> v.toString } ++
      Seq("sql" -> Json.obj(a.sql.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
        "name" -> Json.str(s.name.take(120))))
  }

  def toJson: String = synchronized {
    Json.obj(Seq("jobs" -> jobs.size.toString, "stages" -> stages.size.toString))
  }
}
