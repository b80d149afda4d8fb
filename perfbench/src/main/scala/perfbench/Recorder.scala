package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of what Spark did while the traced passes ran: one
  * row per job (task metrics folded in), per SQL execution (call site,
  * files written), per action's planning phase and per micro-batch
  * (progress phases), plus the peak storage memory of cached blocks. Nothing is written until the run
  * ends; the analysis happens outside the JVM.
  *
  * The three listeners are attached only for traced passes, so an
  * untraced pass in the same JVM measures the engine without them.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Job(val id: Int, val start: Long, val execId: Option[Long],
      val stream: Boolean, val short: String, val long: String) {
    var end: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var csvInput = 0L
    var csvTaskMs = 0L
    var output = 0L
  }
  final class Exec(val id: Long, val short: String, val long: String, val start: Long,
      val fileCounters: Set[Long]) {
    var filesWritten = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val csvStages = mutable.Set.empty[Int]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[Recorder.Batch]
  private val blockMem = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage carries the call site Spark recorded for the job
      val result = e.stageInfos.maxByOption(_.stageId)
      val job = new Job(e.jobId, e.time, prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId").isDefined,
        result.map(_.name).getOrElse(""), result.map(r => graftFrames(r.details)).getOrElse(""))
      jobs(e.jobId) = job
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job))
      e.stageInfos.foreach { si =>
        if (si.rddInfos.exists(_.scope.exists(_.name.toLowerCase.startsWith("scan csv"))))
          csvStages += si.stageId
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        job.tasks += 1
        job.taskMs += m.executorRunTime
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.diskBytesSpilled
        job.output += m.outputMetrics.bytesWritten
        if (csvStages(e.stageId)) {
          job.csvInput += m.inputMetrics.bytesRead
          job.csvTaskMs += m.executorRunTime
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val mem = if (info.storageLevel.isValid) info.memSize else 0L
        cachedNow += mem - blockMem.getOrElse(key, 0L)
        if (mem == 0L) blockMem.remove(key) else blockMem(key) = mem
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        execs(s.executionId) = new Exec(s.executionId, s.description, graftFrames(s.details), s.time,
          fileCounters(s.sparkPlanInfo))
      }
      // a write command reports the files it wrote from the driver
      case u: SparkListenerDriverAccumUpdates => Recorder.this.synchronized {
        execs.get(u.executionId).foreach { ex =>
          ex.filesWritten += u.accumUpdates.collect { case (id, v) if ex.fileCounters(id) => v }.sum
        }
      }
      case _ =>
    }
  }

  /** The graft and benchmark frames of a long call site, innermost first:
    * all the attribution needs, at a fraction of the record's size. */
  private def graftFrames(callSite: String): String =
    callSite.split('\n').iterator.filter(l => l.contains("graft.") || l.contains("perfbench."))
      .take(12).mkString("\n")

  /** Accumulator ids of the "number of written files" metrics in a plan. */
  private def fileCounters(plan: SparkPlanInfo): Set[Long] =
    plan.metrics.filter(_.name == "number of written files").map(_.accumulatorId).toSet ++
      plan.children.flatMap(fileCounters)

  /** Planning phases (analysis, optimization, planning) of every action. */
  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      phases ++= qe.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Recorder.this.synchronized {
        batches += Recorder.Batch(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, durations)
      }
    }
  }
  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detaches after every queued event has been delivered. */
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  /** Peak storage memory since the last reset, then starts a new window. */
  def takeCachePeak(): Long = synchronized {
    val p = cachedPeak
    cachedPeak = cachedNow
    p
  }

  def toMap: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map { j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "exec" -> j.execId, "stream" -> j.stream,
          "short" -> j.short, "long" -> j.long, "tasks" -> j.tasks,
          "task_ms" -> j.taskMs, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
          "csv_input" -> j.csvInput, "csv_task_ms" -> j.csvTaskMs,
          "output" -> j.output)
      },
      "execs" -> execs.values.toSeq.map { e =>
        Map("id" -> e.id, "short" -> e.short, "long" -> e.long, "start" -> e.start,
          "files_written" -> e.filesWritten)
      },
      "phases" -> phases.toSeq.map { case (n, s, t) => Map("name" -> n, "start" -> s, "end" -> t) },
      "batches" -> batches.toSeq.map { b =>
        Map("query" -> b.query, "batch" -> b.batch, "time" -> b.time, "rows" -> b.rows,
          "durations" -> b.durations)
      })
  }
}

object Recorder {
  final case class Batch(query: String, batch: Long, time: Long, rows: Long, durations: Map[String, Long])
}
