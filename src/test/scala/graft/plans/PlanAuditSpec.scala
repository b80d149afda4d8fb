package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.queries.QueryTrait

/** Plan-shape regression gate over EVERY declared batch query (r19
  * verdict #5): the wall-clock bench is ±35 % noisy on this host, so an
  * accidental join-strategy regression — a stats change degenerating a
  * hash join to CartesianProduct / BroadcastNestedLoopJoin, the round-2
  * ScaleOut bug class — must fail a deterministic test, not wait to be
  * spotted in a noisy number. The committed `plans/<round>/PLAN_AUDIT.txt`
  * artifact (`graft.Probe plan all`) is the diffable per-query record
  * (exchange/broadcast/codegen/pushed-filter counts); this spec is the
  * hard floor underneath it.
  *
  * Declared streams ([[graft.queries.QueryTrait.Stream]]) are skipped for
  * the same reason the audit skips them: building their frame RUNS the
  * drain, and their plan story is the checkpoint's state-partitioning
  * metadata. The sweep also fails any other query whose build starts a
  * streaming query, so an undeclared stream cannot hide in it.
  */
class PlanAuditSpec extends SparkTestBase {
  import PlanAuditSpec.Audit

  private val sfDir = "/root/testdata/sf0.001"
  private def haveTestdata = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  /** Queries whose plan legitimately carries BroadcastNestedLoopJoin:
    * every occurrence is a SCALAR ATTACH — `crossJoin(broadcast(agg))`
    * of a 1-row (or group-cardinality-bounded) aggregate (a total-count
    * denominator, a global quantile row, an nmax) onto a stream — which
    * Spark plans as BNLJ with the bounded side as build. That shape is
    * O(n·1), not an accidental O(n·m) nested loop. Adjudicated from
    * plans/r20/PLAN_AUDIT.txt; a NEW query (or a stats regression on an
    * old one) introducing BNLJ fails here and must be read, not waved
    * through.
    */
  private val scalarAttachBnlj: Set[String] = Set(
    // crossJoin(broadcast(<1-row aggregate>)) scalar attaches
    // (plans/r20/PLAN_AUDIT.txt members at sf0.1)
    "q114_ccnet_buckets", "q127_kmv_jaccard_langs", "q134_kneser_ney_logprob",
    "q177_order_price_deciles", "q185_order_drift_psi",
    "q189_collocations_pmi", "q194_source_lang_chi2", "q195_neyman_sample",
    "q196_rolling_wau", "q206_events_acf",
    // threshold-scalar attach (SeqPatterns crossJoin(broadcast(th)))
    "q208_events_seq_patterns",
    // LM family: crossJoin(broadcast(btRow)) — the 1-row bigram-type
    // total every KN interpolation chain carries (visible at sf0.001
    // where the head/tail collapse keeps the scalar in the initial plan)
    "q89_unigram_logprob", "q97_bigram_logprob", "q212_kneser_ney_trigram",
    "q232_kneser_ney_4gram",
    // 1-row scalar attaches visible only at sf0.001 stats: the
    // Holt-Winters seed row and the DSIR selection threshold
    "q207_events_forecast", "q214_dsir_selection",
    // bounded-side NON-EQUI broadcast joins by contract: the exact
    // brute-force baselines broadcast the (user-bounded) query batch /
    // increment and join on =!= — O(corpus × bounded), not O(n·m)
    "q24_dedup_embedding", "q26_ann_topk", "q93_ann_topk_pq")

  /** Queries whose plan carries a `Window` with no partition spec, which
    * Spark runs on ONE partition (one task). Adjudicated from the sf0.001
    * plans of this sweep: each window's input is recorded in CHANGES.md as
    * bounded (a small aggregate) or scaling with a table. A new one fails
    * here and must be read, not waved through.
    */
  private val unpartitionedWindows: Set[String] = Set(
    "q06_join_composite_dim", "q16_surrogate_keys", "q55_tokenize_ids",
    "q169_events_peak_concurrency", "q177_order_price_deciles", "q180_part_skyline",
    "q185_order_drift_psi")

  /** Every batch query's INITIAL physical plan — the optimizer's
    * stats-driven strategy choices, without running the query's own
    * action (some constructors, q115/q131/q209, run gate actions) — and
    * the streaming queries its build started; construction errors by name.
    */
  private lazy val sweep: (Map[String, Audit], Seq[String]) = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    // onQueryStarted runs synchronously inside start(), on the build's thread
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val constructionErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val audits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        if (SparkEntry.traits(name)(QueryTrait.Stream)) None
        else {
          started.set(0)
          try graft.operators.CacheScope.scoped {
            Some(name -> Audit(fn(spark, sfDir).queryExecution.executedPlan, started.get))
          } catch { case scala.util.control.NonFatal(e) =>
            // construction failures are Verify/bench territory, not this
            // spec's — but record them so a silent sweep gap is visible
            constructionErrors += s"$name: ${e.getClass.getSimpleName}"
            None
          }
        }
      }
      (audits.toMap, constructionErrors.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  test("no CartesianProduct anywhere; BroadcastNestedLoopJoin only in adjudicated scalar attaches") {
    assume(haveTestdata)
    val (audits, constructionErrors) = sweep
    def named(p: String => Boolean) = audits.collect { case (n, a) if p(a.plan.toString) => n }
    val cartesian = named(_.contains("CartesianProduct"))
    val bnlj = named(_.contains("BroadcastNestedLoopJoin")).filterNot(scalarAttachBnlj)
    assert(cartesian.isEmpty, s"CartesianProduct in: ${cartesian.mkString(", ")}")
    assert(bnlj.isEmpty,
      s"unadjudicated BroadcastNestedLoopJoin in: ${bnlj.mkString(", ")}")
    // every batch query must actually have been audited (a construction
    // error here would silently shrink the sweep)
    assert(constructionErrors.isEmpty,
      s"plans not auditable for: ${constructionErrors.mkString(", ")}")
  }

  test("unpartitioned windows only in adjudicated queries") {
    assume(haveTestdata)
    val stray = sweep._1.collect {
      case (n, a) if Probe.PlanShape.of(a.plan).unpartWindows > 0 => n
    }.toSet -- unpartitionedWindows
    assert(stray.isEmpty, s"unadjudicated unpartitioned Window in: ${stray.toSeq.sorted.mkString(", ")}")
  }

  test("only queries declared Stream start a streaming query") {
    assume(haveTestdata)
    val undeclared = sweep._1.collect { case (n, a) if a.streamsStarted > 0 => n }.toSeq.sorted
    assert(undeclared.isEmpty,
      s"started a streaming query but not declared QueryTrait.Stream: ${undeclared.mkString(", ")}")
  }

  // with AQE on, the plan before execution holds no WholeStageCodegenExec
  // yet, so an audit of that plan read codegen=0 on every query
  test("plan audit counts the AQE-final plan of the run: q01 has codegen spans") {
    assume(haveTestdata)
    val profile = Probe.RunProfile.install(spark)
    try {
      profile.reset()
      val (_, outcome) = SessionDefaults.timedRun(
        spark, sfDir, SparkEntry.queries("q01_revenue_by_nation"))
      outcome.get
      val shape = Probe.PlanShape.of(profile.lastExecution().executedPlan)
      assert(shape.codegen > 0, shape.line)
      assert(shape.scans == 4 && shape.joins.toMap.get("BroadcastHashJoin").contains(3), shape.line)
    } finally profile.close()
  }
}

object PlanAuditSpec {
  private final case class Audit(plan: SparkPlan, streamsStarted: Int)
}
