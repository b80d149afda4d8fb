package graft

import org.apache.spark.sql.SparkSession

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
  /** Dedup/ANN queries pair-score candidates (the heavy tail); everything
    * else is scan-agg-join shaped. Heavy family runs last.
    */
  private[graft] def isHeavy(name: String): Boolean = {
    val id = name.takeWhile(_ != '_')
    id.drop(1).toIntOption.exists(n => n >= 20 && n <= 27) ||
      Set("q39", "q43", "q70", "q74", "q76", "q78", "q82", "q84", "q85",
        "q86", "q90", "q91", "q115", "q120", "q122", "q131",
        "q137", "q138", "q139",
        // r12/r13 candidate-heavy additions: cross-set decontamination,
        // all-pairs TF-IDF, the fused bipartiteness propagation, the
        // incremental materialization (q91-closure-dominated), trigram KN
        "q148", "q152", "q203", "q209", "q212").contains(id)
  }

  /** Micro-batch Structured Streaming queries (checkpointed sinks).
    * Matched on the full query id, not a 3-char prefix — "q102".take(3)
    * is "q10", which silently dropped every 3-digit streaming query
    * (q100/q102/q113/q116) into the light group without its settle.
    * Membership re-audited r13 (grep for readStream/`Stream.` callers):
    * the r12 additions q151/q156/q165/q179/q205 had drifted into the
    * light group without their settle.
    */
  val streamingIds: Set[String] =
    Set("q36", "q38", "q44", "q47", "q49", "q57", "q64", "q83", "q92", "q95",
      "q100", "q102", "q113", "q116", "q128",
      "q151", "q156", "q165", "q179", "q205", "q213", "q215", "q220", "q234",
      "q238")

  private[graft] def isStreaming(name: String): Boolean =
    streamingIds.contains(name.takeWhile(_ != '_'))

  /** Queries whose construction starts (and awaits) a stream drain or a
    * multi-batch ingest: [[streamingIds]] plus the staged ingests the bench
    * times as batch queries. Their readout plans are trivial read-backs, so
    * plan audits skip them.
    */
  private[graft] def isDrain(name: String): Boolean =
    (streamingIds ++ Set("q241", "q242")).contains(name.takeWhile(_ != '_'))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.local()
    // failures are VISIBLE, not silent (r8 advice): NonFatal only — an
    // OOM/thread-death must kill the run, not record a bogus time — the
    // query is named on stderr, and the error set lands in the artifact
    val errored = scala.collection.mutable.TreeSet.empty[String]
    def run(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // plan + action under one CacheScope: operator-pinned blocks are
      // released at scope exit, so one query's cached intermediates can't
      // occupy memory during its neighbors' runs
      val (wall, outcome) = SessionDefaults.timedRun(spark, sfDir, fn)
      outcome.failed.foreach { e =>
        errored += name
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      wall
    }
    // untimed settle between streaming runs: drain GC debt and give the
    // state-store/checkpoint machinery a beat to quiesce
    def settle(): Unit = { System.gc(); Thread.sleep(1500) }
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
    // a query pair that disagrees >30% got hit by something external on
    // one run — give it a tiebreaker so the recorded min is two-vote
    def spreadResolve(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        pre: () => Unit,
        runs: Seq[Double]): Seq[Double] =
      if (runs.max / runs.min > 1.3) { pre(); runs :+ run(name, fn) } else runs
    // untimed warmup: a scan-join-agg over the largest table touches the
    // executor pool, parquet reader, broadcast machinery, and codegen
    SparkEntry.queries.get("q01_revenue_by_nation").foreach(fn => run("warmup", fn))
    errored.clear() // the warmup is not a measured query
    // pre-build every per-source-state stage UNTIMED, reporting each
    // build's cost as its own metric: a cold stage (fresh tmpdir in the
    // driver container) otherwise lands on run 1 of whichever query
    // touches it first — invisible contamination in the artifact (r7).
    // A FAILED build is named in the artifact (r8 advice: a swallowed
    // failure re-lands the real build cost on run 1 of the first query
    // that touches the stage, with no signal) — NonFatal only.
    val stageErrors = scala.collection.mutable.TreeSet.empty[String]
    val stageTimes = SparkEntry.stages.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try graft.operators.CacheScope.scoped { fn(spark, sfDir); () }
      catch { case scala.util.control.NonFatal(e) =>
        stageErrors += name
        System.err.println(s"[bench] stage $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(q => isStreaming(q._1))
    val (light, heavy) = batch.partition(q => !isHeavy(q._1))
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
    var settleTries = 0
    var pair = (calibrate(), calibrate())
    while (math.max(pair._1, pair._2) / math.min(pair._1, pair._2) > 1.3
        && settleTries < 4) {
      Thread.sleep(10000L)
      settleTries += 1
      pair = (calibrate(), calibrate())
    }
    // every calibration POINT is a settled min-of-pair, exactly like the
    // first: a single un-settled sample taken right after a query group
    // carries that group's GC debt and JIT state, and min-of-two is
    // biased low vs one draw — mixing the two shapes made the first
    // point read 2-3x faster than the rest on a QUIET machine, flagging
    // contention that was really probe-methodology skew
    def calibPoint(): Double = { settle(); math.min(calibrate(), calibrate()) }
    val calibs = scala.collection.mutable.ArrayBuffer(math.min(pair._1, pair._2))
    val noPre = () => ()
    val lightR = light.map { case (name, fn) =>
      name -> spreadResolve(name, fn, noPre, Seq(run(name, fn), run(name, fn)))
    }
    calibs += calibPoint()
    // MID-GROUP canaries (round-13 verdict #2): the start/boundary
    // probes cannot see a load burst that arrives mid-way through the
    // long heavy group — a probe every 10 heavy queries lands in the
    // same calibration record, so mid-run contention flags the artifact
    // exactly like start-window contention does.
    val heavyR = heavy.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 10 == 0) calibs += calibPoint()
      name -> spreadResolve(name, fn, noPre, Seq(run(name, fn), run(name, fn)))
    }
    calibs += calibPoint()
    val streamR = streaming.map { case (name, fn) =>
      name -> spreadResolve(name, fn, () => settle(),
        Seq({ settle(); run(name, fn) }, { settle(); run(name, fn) }))
    }
    calibs += calibPoint()
    val firstPass: Seq[(String, Seq[Double])] = lightR ++ heavyR ++ streamR
    val contended = calibs.max / calibs.min > 2.0
    // CONTENDED-WINDOW SALVAGE (round-10 verdict #5): when the probes say
    // the window was contended despite the settle retries, the artifact
    // must still carry usable numbers — give the 10 widest-spread queries
    // one more run each (their recorded min was most likely decided by a
    // load spike, not the engine) and mark the artifact rerun_advised so
    // a reader knows the uncontended sibling (BENCH_LOCAL) is the
    // authoritative regression record.
    val rerunNames = scala.collection.mutable.ArrayBuffer.empty[String]
    val results: Seq[(String, Seq[Double])] =
      if (!contended) firstPass
      else {
        val worst = firstPass
          .filter(_._2.min > 0.2) // spread on a sub-200ms query is noise, not load
          .sortBy { case (_, v) => -(v.max / v.min) }
          .take(10).map(_._1).toSet
        val patched = firstPass.map { case (name, v) =>
          if (!worst(name)) name -> v
          else {
            rerunNames += name
            if (isStreaming(name)) settle()
            name -> (v :+ run(name, SparkEntry.queries(name)))
          }
        }
        calibs += calibPoint()
        patched
      }
    // HISTORY-ANCHORED RERUNS (round-13 verdict #2): the r13 driver
    // artifact recorded 7.48 s for a query whose settled record is
    // 0.28 s — a mid-run burst the bracketing probes missed, and the
    // contended flag stayed false. The cross-round record is the one
    // reference that doesn't share this window: any query whose minimum
    // exceeds 3x its best same-SF BENCH_HISTORY minimum gets ONE more
    // same-window run before the artifact freezes (capped at 15, named
    // in the artifact so a reader sees which numbers were salvaged).
    val historyMin: Map[String, Double] = {
      val f = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(f)) Map.empty
      else {
        val pat = """"(q\d+_[A-Za-z0-9_]*)":([0-9.]+)""".r
        val acc = scala.collection.mutable.Map.empty[String, Double]
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(f)).asScala
          .filter(_.contains(s""""sf":"$sfDir""""))
          .foreach(line => pat.findAllMatchIn(line).foreach { m =>
            val v = m.group(2).toDouble
            acc(m.group(1)) = math.min(acc.getOrElse(m.group(1), Double.MaxValue), v)
          })
        acc.toMap
      }
    }
    val historyReruns = scala.collection.mutable.ArrayBuffer.empty[String]
    val finalResults: Seq[(String, Seq[Double])] = results.map { case (name, v) =>
      val suspect = historyMin.get(name)
        .exists(h => h > 0.2 && v.min > 3.0 * h) // sub-200ms records are noise-floor
      if (suspect && historyReruns.size < 15 && !errored.contains(name)) {
        historyReruns += name
        if (isStreaming(name)) settle()
        name -> (v :+ run(name, SparkEntry.queries(name)))
      } else name -> v
    }
    def jmap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jarr(names: Iterable[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // explicit ROOT locale: f"%.3f" uses the JVM default, which under a
    // comma-decimal locale (de_DE) would emit unparseable JSON ('1,234')
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // the AUTHORITATIVE-ROW POINTER (round-15 verdict #6): when THIS
    // capture lands contended, the defensible numbers are the best-of
    // same-SF rows already in BENCH_HISTORY.jsonl — embed their
    // best-of-minima total over this run's query set (and the row
    // count it came from) in the artifact itself, so a reader of a
    // noisy driver capture is pointed at the settled record without
    // leaving the file
    val histRef: String = {
      val f = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
      if (!java.nio.file.Files.exists(f)) "\"history_rows\":0"
      else try {
        import scala.jdk.CollectionConverters._
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val sameSf = java.nio.file.Files.readAllLines(f).asScala
          .filter(_.nonEmpty).map(mapper.readTree)
          .filter(r => r.path("sf").asText() == sfDir)
        // LATEST round's rows only: the driver regenerates testdata
        // between rounds, so cross-round minima are not comparable
        val latest = sameSf.map(_.path("round").asText())
          .maxByOption(_.stripPrefix("r").toIntOption.getOrElse(-1))
          .getOrElse("")
        val rows = sameSf.filter(_.path("round").asText() == latest)
        val names = finalResults.map(_._1)
        val best = scala.collection.mutable.Map.empty[String, Double]
        rows.foreach { r =>
          val q = r.path("queries")
          names.foreach { n =>
            if (q.has(n)) {
              val v = q.path(n).asDouble()
              if (!best.contains(n) || v < best(n)) best(n) = v
            }
          }
        }
        val covered = names.count(best.contains)
        val tot = best.values.sum
        "\"history_rows\":" + rows.size + ",\"history_best_total\":" + f3(tot) +
          ",\"history_covered\":" + covered
      } catch { case _: Exception => "\"history_rows\":-1" }
    }
    // CANARY-NORMALIZED ADJUDICATION (r19 verdict #4): the host-paced
    // streaming/materialize queries drift with the machine's per-job
    // pace, not with code — NOTES_r19 root-caused the family's
    // round-over-round swings to exactly this. The settled defense is
    // the ratio to the q44 canary (same window, same pacing): flat
    // ratio = pacing, moved ratio = plan change. Record that ratio IN
    // the artifact row so a later PERF triage carries its own noise
    // defense instead of re-litigating from NOTES. Additive fields
    // only — no timed section changed.
    val canaryJson: String = {
      val q44 = finalResults.find(_._1.startsWith("q44_")).map(_._2.min)
      val paced = Seq("q92_dedup_ingest_stream", "q95_dedup_ingest_stream_embedding",
        "q100_dedup_ingest_stream_semantic", "q102_ann_ingest_stream_ivfpq",
        "q115_dedup_groups_chain", "q131_materialize_training",
        "q209_materialize_incremental", "q220_dsir_select_stream")
      q44 match {
        case Some(c) if c > 0 =>
          // bare query ids as keys: the final stdout line must stay well
          // inside the driver's ~2 KB tail capture even when both rerun
          // lists are populated
          val ratios = finalResults.filter(r => paced.contains(r._1))
            .map { case (k, v) => k.takeWhile(_ != '_') -> f3(v.min / c) }
          s""","canary_q44":${f3(c)},"canary_ratios":${jmap(ratios)}"""
        case _ => ""
      }
    }
    val calibJson = s"""{"values":${calibs.map(f3).mkString("[", ",", "]")},"contended":$contended,"settle_tries":$settleTries,"rerun_advised":$contended,"contention_rerun":${jarr(rerunNames)},"history_rerun":${jarr(historyReruns)},$histRef$canaryJson}"""
    // per-query minima at 3 dp: the COMPLETE record in ~6 KB, printed
    // SECOND-TO-LAST (see the ordering note below)
    val qs = jmap(finalResults.map { case (k, v) => k -> f3(v.min) })
    val total = finalResults.map(_._2.min).sum
    // LINE ORDER MATTERS (round-11 verdict #5, round-12 verdict #2):
    // the driver's capture keeps only a ~2000-char TAIL of stdout, and
    // 206 queries x ~30 chars ≈ 6 KB, so a final line carrying every
    // minimum is itself truncation-lossy ("parsed": null in r12). The
    // truncatable long lines print FIRST (raw runs, then stage builds,
    // then the full per-query minima), and the LAST line is a compact
    // ≤1.9 KB self-contained summary — total, counts, calibration, and
    // only the 10 slowest minima — guaranteed to survive the tail cut.
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
    // the final, self-contained line (the driver contract's "ONE JSON
    // line"): compact by construction — top-10 slowest minima only
    val top10 = jmap(finalResults.sortBy(-_._2.min).take(10)
      .map { case (k, v) => k -> f3(v.min) })
    println(s"""{"metric":"total","bench_schema":2,"value":$total,"unit":"sec","queries":$top10,"queries_are":"top10_slowest_minima","n_queries":${finalResults.size},"n_errors":${errored.size},"sf":"$sfDir","calibration":$calibJson}""")
    // the COMPLETE per-query artifact, committed to the tree each round:
    // the driver's BENCH_r{N}.json tail-truncates the long runs line, so
    // regressions were not diffable without re-measuring (r8 verdict #5)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","bench_schema":2,"value":$total,"unit":"sec","queries":$qs,"n_queries":${finalResults.size},"sf":"$sfDir","calibration":$calibJson}\n$runsJson\n$stagesJson\n""")
    // cross-round regression history: one (round-tagged) JSONL row per
    // bench run with the per-query minima — r9/r10/r11 local artifacts
    // each had a different shape, so cross-round comparisons needed one
    // parser per round (round-11 verdict #7). Appended, never rewritten.
    sys.env.get("SPARK_GRAFT_BENCH_ROUND").foreach { round =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        s"""{"round":"$round","total":${f3(total)},"n_queries":${finalResults.size},"contended":$contended,"sf":"$sfDir","queries":$qs}\n""",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
