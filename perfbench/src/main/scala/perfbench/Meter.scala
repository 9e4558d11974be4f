package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One Spark job as the listener saw it, with the task metrics of all its
  * stages. `group` is the job group the calling thread had set (the
  * benchmark sets one per layer call); streaming jobs carry their query's
  * id and micro-batch id instead. Times are epoch milliseconds. */
final class JobRec(val id: Int, val group: String, val queryId: String,
    val batchId: String, val start: Long) {
  var end: Long = start
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** Totals over a set of jobs. */
final case class JobTotals(jobs: Int, tasks: Long, cpuMs: Double, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, inputBytes: Long,
    inputRecords: Long, outputBytes: Long, busyMs: Double)

/** Listener side of the benchmark: registered only in traced runs. It
  * attributes jobs and task metrics to job groups and keeps every
  * streaming progress report. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
  }

  /** Deliver every pending listener event; call before reading counters. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
    jobs(e.jobId) = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId"), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private val streaming = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toVector)
  def jobsOfGroup(group: String): Seq[JobRec] = allJobs.filter(_.group == group)
  def jobsBetween(t0: Long, t1: Long): Seq[JobRec] =
    allJobs.filter(j => j.start >= t0 && j.start <= t1)
  def progresses: Seq[StreamingQueryProgress] = synchronized(progress.toVector)

  def totals(js: Seq[JobRec]): JobTotals = JobTotals(js.size,
    js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e6, js.map(_.gcMs).sum,
    js.map(_.shuffleRead).sum, js.map(_.shuffleWrite).sum, js.map(_.spill).sum,
    js.map(_.inputBytes).sum, js.map(_.inputRecords).sum,
    js.map(_.outputBytes).sum, Meter.unionMs(js.map(j => (j.start.toDouble, j.end.toDouble))))

  /** The `spark.*` per-layer metrics over a set of jobs. */
  def sparkMetrics(js: Seq[JobRec]): Seq[(String, Double)] = {
    val t = totals(js)
    Seq("spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
      "spark.task_cpu_ms" -> t.cpuMs, "spark.gc_ms" -> t.gcMs.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.input_bytes" -> t.inputBytes.toDouble,
      "spark.output_bytes" -> t.outputBytes.toDouble)
  }
}

object Meter {
  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
