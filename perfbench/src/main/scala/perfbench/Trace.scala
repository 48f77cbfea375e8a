package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Job records for the traced run, gathered by a listener the benchmark
  * registers itself: per job its time span, job group (the step it ran
  * in), SQL execution id, the long call site of its result stage, the
  * summed task run time and the shuffle bytes its tasks moved. Layer
  * attribution from the call site happens when the run is reported.
  *
  * Time outside every job is driver-side work, which no listener event
  * covers; a sampler reads the calling thread's stack every
  * [[Recorder.SampleMs]] ms and keeps the innermost engine frame, so that
  * time can be attributed to layers too. */
final class Recorder(spark: SparkSession) extends SparkListener {
  final class Job(val id: Int, val start: Long, val group: String,
      val execId: String, val callSite: String) {
    @volatile var end: Long = -1L
    var taskMs: Long = 0L
    var shuffleWrite: Long = 0L
    var shuffleRead: Long = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlCallSite = mutable.HashMap.empty[String, String]

  spark.sparkContext.addSparkListener(this)

  private val target = Thread.currentThread()
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    while (sampling) {
      val frame = target.getStackTrace
        .find(_.getClassName.startsWith("graft."))
        .map(e => s"${e.getClassName}.${e.getMethodName}(${e.getFileName})")
        .getOrElse("")
      samples.synchronized {
        samples += ((System.currentTimeMillis(), frame)) }
      Thread.sleep(Recorder.SampleMs)
    }
  }, "perfbench-stack-sampler")
  sampler.setDaemon(true)
  sampler.start()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      .getOrElse("")
    // the result stage is created last, so it carries the highest id; its
    // details field is the job's long-form call site
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new Job(e.jobId, e.time, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      j.taskMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlCallSite(s.executionId.toString) = s.details
    }
    case _ =>
  }

  /** Listener delivery is asynchronous: wait (bounded) until every
    * started job has its end event, then stop listening. */
  def drain(): Unit = {
    sampling = false
    sampler.join()
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(jobs.values.exists(_.end < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(this)
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "group" -> j.group, "exec_id" -> j.execId,
        "call_site" -> j.callSite,
        "sql_call_site" -> sqlCallSite.getOrElse(j.execId, ""),
        "task_s" -> j.taskMs / 1000.0,
        "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead)
    }
  }

  /** (time, innermost engine frame or "") per stack sample. */
  def samplesJson: Seq[Seq[Any]] = samples.synchronized {
    samples.toSeq.map { case (t, f) => Seq(t, f) }
  }
}

object Recorder {
  val SampleMs = 10L
}

object FsStats {
  /** Bytes read and written through Hadoop FileSystems so far, summed
    * over every scheme (process-global; tasks run in this JVM). */
  def snapshot(): (Long, Long) = {
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator()
    var r = 0L
    var w = 0L
    while (it.hasNext) {
      val s = it.next()
      Option(s.getLong("bytesRead")).foreach(r += _)
      Option(s.getLong("bytesWritten")).foreach(w += _)
    }
    (r, w)
  }
}
