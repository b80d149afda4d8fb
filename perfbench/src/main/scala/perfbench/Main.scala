package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.CacheScope
import graft.star.StarBuilder

/** Runs one workload in one JVM and writes a raw JSON record of it:
  * set-up, one untimed verification pass, then timed passes for at least
  * `--seconds`. With `--trace 1` half the passes (at least two) are traced,
  * and those carry the [[Recorder]]'s listener events and
  * the benchmark's own spans. All arithmetic on the record (percentiles,
  * interval unions, layer attribution) happens in `perfbench/analysis.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--ops a,b --stages s,t] [--passes N]
  * where the named-query workloads take their ops and the
  * [[SparkEntry.stages]] those ops read as arguments, and an untraced run
  * times at least N passes (default 1).
  */
object Main {

  /** Writes the record: Scala maps, sequences and options as JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Monotonic clock in epoch milliseconds, comparable with the epoch
    * timestamps Spark puts on listener events.
    */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Span(name: String, start: Double, end: Double, children: Seq[Span]) {
    def toMap: Map[String, Any] =
      Map("name" -> name, "start" -> start, "end" -> end, "children" -> children.map(_.toMap))
  }

  /** Times `body`, collecting the spans it opens as children. */
  final class Spans {
    private val stack = mutable.Stack(mutable.ArrayBuffer.empty[Span])
    def apply[T](name: String)(body: => T): T = {
      val t0 = now()
      stack.push(mutable.ArrayBuffer.empty[Span])
      try body
      finally {
        val kids = stack.pop().toSeq
        stack.top += Span(name, t0, now(), kids)
      }
    }
    def take(): Seq[Span] = { val s = stack.top.toSeq; stack.top.clear(); s }
  }

  trait Workload {
    def ops: Seq[String]
    /** The repeated part of set-up; `rep` numbers the repetition. */
    def prepare(rep: Int): Unit
    def warm(): Unit
    /** One timed op. */
    def run(op: String, spans: Spans): Unit
    /** Untimed check of `op`'s output: the facts the harness compares. */
    def verify(op: String): Map[String, Any]
    /** Untimed checks after a timed pass (only `star_etl` checks every op). */
    def afterPass(): Seq[Map[String, Any]] = Nil
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = Paths.get(args("data")).toAbsolutePath.toString
    val work = Paths.get(args("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    def list(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)

    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.registerAll(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionS = (now() - jvmStart) / 1e3

    val wl: Workload = workload match {
      case "star_etl" => new StarEtl(spark, seed, work)
      case _ => new Queries(spark, data, work, list(args("ops")), list(args("stages")))
    }

    // set-up: the repeated part three times (median reported), then a warm op
    val prepS = (0 until 3).map { rep =>
      val t0 = now(); wl.prepare(rep); (now() - t0) / 1e3
    }
    val warmS = { val t0 = now(); wl.warm(); (now() - t0) / 1e3 }

    val rng = new scala.util.Random(seed)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch { case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        System.err.println(s"[perfbench] $what failed: $msg")
        failures += Map("what" -> what, "error" -> msg)
        None
      }

    // untimed verification pass: every op once, output checked
    val verifyStart = now()
    val checks = rng.shuffle(wl.ops).map(op => attempt(s"verify $op")(wl.verify(op))
      .getOrElse(Map("op" -> op, "error" -> true)))
    val verifyS = (now() - verifyStart) / 1e3

    val recorder = if (traced) Some(new Recorder(spark)) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opChecks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = if (traced) 4 else args.get("passes").map(_.toInt).getOrElse(1)
    val measureStart = now()
    var pass = 0
    while (pass < minPasses || now() - measureStart < seconds * 1e3) {
      // traced runs go untraced, traced, traced, untraced, ... so a warm-up
      // trend over the passes does not bias the tracing overhead
      val tracedPass = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (tracedPass) recorder.foreach(_.attach())
      val order = rng.shuffle(wl.ops)
      val spans = new Spans
      val gc0 = gcMs(); val io0 = Proc.wchar(); val t0 = now()
      val opRecs = order.map { op =>
        val ok = attempt(s"op $op")(spans(op)(wl.run(op, spans))).isDefined
        (op, ok, spans.take().head)
      }
      val t1 = now(); val io1 = Proc.wchar(); val gc1 = gcMs()
      val cachePeak = recorder.filter(_ => tracedPass).map { r => r.detach(); r.takeCachePeak() }
      attempt("output check")(wl.afterPass()).foreach(opChecks ++= _)
      passes += Map(
        "index" -> pass, "traced" -> tracedPass, "start" -> t0, "end" -> t1,
        "gc_s" -> (gc1 - gc0) / 1e3, "wchar" -> (io1 - io0), "cache_peak" -> cachePeak,
        "ops" -> opRecs.map { case (op, ok, span) => Map("op" -> op, "ok" -> ok, "span" -> span.toMap) })
      pass += 1
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "seconds" -> seconds,
      "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS, "prep_s" -> prepS, "warm_s" -> warmS, "verify_s" -> verifyS),
      "checks" -> (checks ++ opChecks),
      "failures" -> failures.toSeq,
      "passes" -> passes.toSeq,
      "peak_rss_kb" -> Proc.status("VmHWM"),
      "trace" -> recorder.map(_.toMap))
    Files.writeString(Paths.get(args("out")), json.writeValueAsString(record))
    spark.stop()
  }

  /** The reference pipeline: seeded CSV -> star schema, one op per run. */
  final class StarEtl(spark: SparkSession, seed: Long, work: Path) extends Workload {
    val ops = Seq("star_pipeline")
    private var csv: Path = _
    private var runs = 0
    def prepare(rep: Int): Unit = {
      if (csv != null) Files.deleteIfExists(csv)
      csv = work.resolve(s"csv/rep$rep/campaigns.csv")
      KickstarterCsv.write(seed, csv)
    }
    private def warehouse(k: Int): String = work.resolve(s"warehouse/run$k").toString
    def warm(): Unit = { StarBuilder.runPipeline(spark, csv.toString, warehouse(0)); wipe(warehouse(0)) }
    def run(op: String, spans: Spans): Unit = {
      runs += 1
      spans("runPipeline")(StarBuilder.runPipeline(spark, csv.toString, warehouse(runs)))
    }
    def verify(op: String): Map[String, Any] = Map("op" -> op, "csv_bytes" -> Files.size(csv))
    override def afterPass(): Seq[Map[String, Any]] = {
      val wh = warehouse(runs)
      def t(name: String) = spark.read.parquet(s"$wh/$name")
      val fact = t("Fact_Campaigns")
      val split = fact.join(t("Dim_State"), "state_key").groupBy("is_successful").count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap[String, Long]
      val nullKeys = fact.filter(col("state_key").isNull || col("category_key").isNull ||
        col("launched_date_key").isNull).count()
      val check = Map("op" -> ops.head, "star" -> Map(
        "dim_date" -> t("Dim_Date").count(), "dim_state" -> t("Dim_State").count(),
        "dim_category" -> t("Dim_Category").count(), "fact" -> fact.count(),
        "unsuccessful" -> split.getOrElse("0", 0L).toLong, "successful" -> split.getOrElse("1", 0L).toLong,
        "null_fk" -> nullKeys))
      wipe(wh)
      Seq(check)
    }
    private def wipe(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** Named queries from [[SparkEntry.queries]], each run to a `noop` sink
    * under [[CacheScope.scoped]], the way the engine's own bench runs them.
    * Set-up builds the [[SparkEntry.stages]] the ops read, in a fresh
    * staging dir per repetition.
    */
  final class Queries(spark: SparkSession, data: String, work: Path,
      val ops: Seq[String], stages: Seq[String]) extends Workload {
    def prepare(rep: Int): Unit = {
      val dir = work.resolve(s"staging/rep$rep")
      Files.createDirectories(dir)
      // Staging keys artifacts under java.io.tmpdir, read at every call
      System.setProperty("java.io.tmpdir", dir.toString)
      stages.foreach(s => CacheScope.scoped { SparkEntry.stages(s)(spark, data); () })
    }
    /** The verification pass runs every op untimed before the timed
      * passes, so no separate warm op is needed. */
    def warm(): Unit = ()
    def run(op: String, spans: Spans): Unit = CacheScope.scoped {
      val df = spans("build")(SparkEntry.queries(op)(spark, data))
      spans("action")(df.write.format("noop").mode("overwrite").save())
    }
    def verify(op: String): Map[String, Any] = CacheScope.scoped {
      val (rows, fp) = Fingerprint.of(SparkEntry.queries(op)(spark, data))
      Map("op" -> op, "rows" -> rows, "fingerprint" -> fp)
    }
  }
}

/** Reads of this process's /proc entries. */
object Proc {
  private def lines(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).asScala.toSeq

  /** Bytes this process has passed to write(2) and friends. */
  def wchar(): Long =
    lines("/proc/self/io").find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** A `kB` field of /proc/self/status, e.g. VmHWM. */
  def status(field: String): Long =
    lines("/proc/self/status").find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
