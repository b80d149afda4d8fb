package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.CacheScope
import graft.sources.LocalFs

/** Engine-level session settings every graft entry point applies.
  *
  * `InferFiltersFromGenerate` is excluded: the rule infers a
  * `size(generatorChild) > 0` filter under every explode, and predicate
  * pushdown then alias-substitutes the generator child's FULL defining
  * expression into the filter and sinks it to the file scan. For cheap
  * children that is a win; for expensive computed arrays (word shingles
  * here) it duplicates the kernel into the scan stage — which for a
  * small/under-split input is a single task — serializing the most
  * expensive computation in the plan (observed 6-10 s single-threaded vs
  * <1 s post-repartition on the 32-core bench; the SPARK-33544 class of
  * issue). The filter's only benefit is skipping empty arrays before the
  * explode, which the explode does anyway.
  */
object SessionDefaults {
  val excludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.excludedRules", excludedOptimizerRules)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE inside CACHED plans. Off (the Spark default, kept for exact
      // output-partitioning compat) every `CacheScope.pin` kernel executes
      // without partition coalescing or runtime broadcast-join conversion:
      // a pinned aggregate keeps all `shuffle.partitions` reducers however
      // small its data, every downstream stage inherits that task count,
      // and joins under a cache stay sort-merge even when one side is
      // kilobytes. Profiled on the LM family: q212 spends ~28 near-empty
      // 32-task jobs either way, and this flag alone cut it 2.5→1.8 s
      // (q115 −32%, q232 −16%, q209 −10% in interleaved same-JVM A/B).
      // Scale-safe by construction: coalescing only merges partitions
      // below the advisory size and broadcast conversion only fires on
      // runtime-small sides, so a 100 TB cache's plan is unchanged — the
      // flag only removes the fixed overhead of under-filled partitions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the `file` scheme on graft.sources.LocalFs, for both Hadoop APIs:
      // no chmod/readlink child process per created file or checkpoint rename
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)

  /** The local session every dev, bench and verify main runs on: these
    * defaults at `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, the UI off, WARN logs and the graft extensions registered
    * (so every query sees the same registry and optimizer rules whatever
    * its position in the run). `confs` are extra session confs.
    */
  def local(confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.registerAll(spark)
    spark
  }

  /** Wall seconds of `body`, run in one [[CacheScope]] so every block it
    * pins is released at exit, and its result: a non-fatal failure is
    * returned, not thrown.
    */
  def timed[A](body: => A): (Double, Try[A]) = {
    val t0 = System.nanoTime()
    val outcome = Try(CacheScope.scoped(body))
    ((System.nanoTime() - t0) / 1e9, outcome)
  }

  /** [[timed]] build and run of a named query to the noop sink: every
    * operator and projection executes without write-side cost (a bare
    * `count()` lets Catalyst prune projections).
    */
  def timedRun(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Try[Unit]) =
    timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
}
