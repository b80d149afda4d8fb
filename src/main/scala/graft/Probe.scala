package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.QueryTrait

/** Dev probe over the named queries: one session ([[SessionDefaults.local]]),
  * one timed run ([[SessionDefaults.timedRun]]) and one listener
  * ([[Probe.RunProfile]]) for every mode.
  *
  * Usage: Probe <mode> <sfDir> ...
  *  - `time <query...> [n] [k=v...]`: best of n (default 2) runs of each
  *    query; `k=v` are extra session confs.
  *  - `ab <query> <confKey> <a> <b> [pairs]`: interleaved A/B of one SQL
  *    conf after one discarded warm-up run, alternating arms in one warm
  *    JVM so load bursts hit both (default 3 pairs).
  *  - `plan <query...|all> <outFile>`: one shape line per query, counted on
  *    the AQE-final plan of its run; named queries also get that plan's
  *    `explain("formatted")`. Declared streams are skipped: building their
  *    frame runs the drain, and their plan story is the checkpoint's metadata.
  *  - `jobs <query...|all>`: a warm run, then a measured one: each job's
  *    wall, stages, tasks and description, each micro-batch's `durationMs`,
  *    each OS process the run launched ([[Probe.launches]]), and the run's
  *    wall split into the union of its job intervals and the driver-only gap.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir) = args.take(2)
    val rest = args.drop(2).toSeq
    val (confArgs, positional) =
      if (mode == "time") rest.partition(_.contains("=")) else (Nil, rest)
    val spark = SessionDefaults.local(confArgs.map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    })
    val profile = RunProfile.install(spark)
    def run(name: String): Double = {
      val (wall, outcome) = SessionDefaults.timedRun(spark, sfDir, SparkEntry.queries(name))
      outcome.get
      wall
    }
    def runs(ts: Seq[Double]): String =
      f"best=${ts.min}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}"
    try mode match {
      case "time" =>
        val (counts, names) = positional.partition(_.forall(_.isDigit))
        val n = counts.headOption.fold(2)(_.toInt)
        names.foreach(name => println(s"[probe time] $name ${runs(Seq.fill(n)(run(name)))}"))
      case "ab" =>
        val Seq(name, key, a, b) = positional.take(4)
        val pairs = positional.lift(4).fold(3)(_.toInt)
        def arm(v: String): Double = { spark.conf.set(key, v); run(name) }
        arm(a) // warm-up, discarded
        val (as, bs) = Seq.fill(pairs)((arm(a), arm(b))).unzip
        println(s"[probe ab] $name $key A=$a ${runs(as)}")
        println(s"[probe ab] $name $key B=$b ${runs(bs)}")
      case "plan" =>
        val outFile = positional.last
        val all = positional.init == Seq("all")
        val names = if (all) SparkEntry.queries.keys.toSeq.sorted else positional.init
        val out = new StringBuilder(
          "# plan-shape audit: node counts of the AQE-final plan of each query's noop run\n" +
            s"# sfDir=$sfDir; streams skipped (plan story = checkpoint metadata)\n")
        val explains = new StringBuilder
        names.foreach { name =>
          if (SparkEntry.traits(name)(QueryTrait.Stream))
            out.append(f"$name%-42s STREAM (skipped)\n")
          else try {
            profile.reset()
            run(name)
            val qe = profile.lastExecution()
            out.append(f"$name%-42s ${PlanShape.of(qe.executedPlan).line}\n")
            if (!all) explains.append(s"\n== $name ==\n${qe.explainString(FormattedMode)}")
          } catch { case scala.util.control.NonFatal(e) =>
            out.append(f"$name%-42s ERROR ${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(80)}\n")
          }
        }
        Option(Paths.get(outFile).getParent).foreach(Files.createDirectories(_))
        Files.writeString(Paths.get(outFile), out.append(explains).toString)
        println(s"[probe plan] ${names.size} queries -> $outFile")
      case "jobs" =>
        val names = if (positional == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else positional
        names.foreach { name => try {
          run(name) // warm: class loading, codegen compile
          profile.reset()
          val ((t0, t1), procs) = launches {
            val t0 = System.currentTimeMillis()
            run(name)
            (t0, System.currentTimeMillis())
          }
          val (jobs, batches) = profile.recorded()
          jobs.foreach { j =>
            println(f"[probe jobs]   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s " +
              s"stages=${j.stages} tasks=${j.tasks} ${j.description}")
          }
          batches.foreach { p =>
            println(s"[probe jobs]   batch ${p.batchId} rows=${p.numInputRows} durationMs=" +
              p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }
                .mkString("{", ",", "}"))
          }
          procs.foreach(p => println(s"[probe jobs]   proc ${p.thread}: ${p.command.take(120)}"))
          val union = unionMs(jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1))))
          println(f"[probe jobs] $name wall=${(t1 - t0) / 1e3}%.3f s jobs=${jobs.size} " +
            f"batches=${batches.size} jobUnion=${union / 1e3}%.3f s gap=${(t1 - t0 - union) / 1e3}%.3f s " +
            s"procs=${procs.size}")
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[probe jobs] $name ERROR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(80))
        } }
      case other =>
        sys.error(s"unknown mode '$other' (time | ab | plan | jobs)")
    } finally spark.stop()
  }

  /** Milliseconds covered by at least one of `intervals` (start, end):
    * jobs that `ConcurrentJobs.awaitAll` runs side by side are counted
    * once, so wall minus this union is the driver-only gap.
    */
  private[graft] def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }

  /** One OS process launch: its command line, the launching thread and
    * its stack frames (`class.method`, innermost first).
    */
  private[graft] final case class Launch(command: String, thread: String, frames: Seq[String])

  /** `body`'s result and every process the JVM launched while it ran, from
    * a JFR recording of `jdk.ProcessStart` alone (with stack traces).
    */
  private[graft] def launches[A](body: => A): (A, Seq[Launch]) = {
    val recording = new Recording()
    val file = Files.createTempFile("graft-launches", ".jfr")
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      val result = try body finally recording.stop()
      recording.dump(file)
      // a dump also holds the events of any other recording in this JVM
      val events = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        Launch(e.getString("command"), Option(e.getThread).fold("?")(_.getJavaName), frames)
      }
      (result, events)
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }

  private[graft] final case class Job(id: Int, start: Long, end: Long, stages: Int, tasks: Int,
      description: String)

  /** The one listener a probe installs: every job's interval, stage and task
    * counts and description (or call site), every micro-batch's progress,
    * and the last SQL execution that succeeded.
    */
  private[graft] final class RunProfile private (spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private val open = mutable.Map.empty[Int, Job]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    private var last: Option[QueryExecution] = None

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage, created last, is named after the job's call site;
      // a description (streaming sets one per batch) may span lines
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name)
      val description = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).mkString(" "))
      open(e.jobId) = Job(e.jobId, e.time, e.time, e.stageInfos.size,
        e.stageInfos.map(_.numTasks).sum, (site ++ description).mkString(" | "))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
    }

    // streaming progress reaches every SparkListener through the shared bus
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized { batches += p.progress }
      case _ =>
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { last = Some(qe) }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Forget everything recorded so far, once every posted event is in. */
    def reset(): Unit = {
      ListenerBusDrain(spark.sparkContext)
      synchronized { open.clear(); jobs.clear(); batches.clear(); last = None }
    }

    /** Jobs (in start order) and micro-batches since the last [[reset]]. */
    def recorded(): (Seq[Job], Seq[StreamingQueryProgress]) = {
      ListenerBusDrain(spark.sparkContext)
      synchronized { (jobs.sortBy(_.start).toSeq, batches.toSeq) }
    }

    /** The last execution that succeeded: after a run, its action (every
      * action a query's build runs ends before the run's own write starts).
      */
    def lastExecution(): QueryExecution = {
      ListenerBusDrain(spark.sparkContext)
      synchronized(last).getOrElse(sys.error("no SQL execution recorded"))
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  private[graft] object RunProfile {
    def install(spark: SparkSession): RunProfile = {
      val profile = new RunProfile(spark)
      spark.sparkContext.addSparkListener(profile)
      spark.listenerManager.register(profile)
      profile
    }
  }

  /** Node counts of a plan that ran, one audit line per query. */
  private[graft] final case class PlanShape(shuffles: Int, bcast: Int, scans: Int,
      cached: Int, codegen: Int, pushedScans: Int, unpartWindows: Int,
      joins: Seq[(String, Int)]) {
    def line: String =
      f"shuffles=$shuffles%-3d bcast=$bcast%-3d scans=$scans%-3d cached=$cached%-3d " +
        f"codegen=$codegen%-3d pushedScans=$pushedScans%-3d unpartWindows=$unpartWindows%-3d " +
        joins.map { case (j, n) => s"$j:$n" }.mkString("joins=[", ",", "]")
  }

  private[graft] object PlanShape {
    def of(plan: SparkPlan): PlanShape = {
      val all = nodes(plan)
      def n(p: PartialFunction[SparkPlan, Boolean]): Int = all.count(p.orElse { case _ => false })
      PlanShape(
        shuffles = n { case _: ShuffleExchangeExec => true },
        bcast = n { case _: BroadcastExchangeExec => true },
        scans = n { case _: FileSourceScanExec => true },
        cached = n { case _: InMemoryTableScanExec => true },
        codegen = n { case _: WholeStageCodegenExec => true },
        pushedScans = n { case s: FileSourceScanExec =>
          s.metadata.get("PushedFilters").exists(_ != "[]") },
        unpartWindows = n { case w: WindowExec => w.partitionSpec.isEmpty },
        joins = all.collect { case j: BaseJoinExec => j.nodeName }
          .groupBy(identity).toSeq.map { case (j, js) => j -> js.size }.sortBy(_._1))
    }

    /** Every node that ran: AQE's final plan and its query stages, cached
      * relations' plans and subqueries included. A reused exchange is a
      * leaf, since its plan ran once where it was first planned.
      */
    private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case p => p.children ++ p.subqueries
    }).flatMap(nodes)
  }
}
