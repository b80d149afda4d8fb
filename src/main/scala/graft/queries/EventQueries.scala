package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.streaming.EventStreams

/** Streaming/event query surface over `events` (SURVEY §2.9 extension):
  * tumbling-window aggregation in batch and true Structured-Streaming
  * (watermark + AvailableNow) forms, plus gaps-and-islands
  * sessionization. The streaming oracle encodes append-mode semantics:
  * only windows whose end <= final watermark (max ts - delay) are
  * emitted.
  *
  * Staging hygiene: the streaming queries ingest a parquet DIRECTORY
  * (file stream sources list directories — at scale the feed lands as
  * files in a dir), so the single-file driver table is staged once per
  * (tmpdir, sfDir) under a FIXED path and reused across invocations;
  * result/checkpoint dirs are likewise fixed per query and wiped before
  * each run. Repeated bench/verify invocations therefore neither re-write
  * the input nor grow /tmp without bound.
  */
object EventQueries extends QueryFamily {

  private val gapMinutes = 30

  /** Stage `events` as a parquet directory once per SOURCE STATE
    * ([[Staging]] contract — file stream sources list directories; at
    * scale the feed lands as files in a dir).
    */
  private def stagedEventsDir(s: SparkSession, dir: String): String =
    Staging.dir(s, "graft_events_stage",
      Seq(s"$dir/events.parquet"), "", "_SUCCESS") { stage =>
      graft.Tables.events(s, dir).write.mode("overwrite").parquet(stage)
    }

  /** Shared purchase/click sides of the as-of attribution pair (q48/q69):
    * clicks pre-aggregated per (user, ts) for the uniqueness precondition;
    * one definition so the two queries cannot drift.
    */
  private def purchasesAndClicks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = graft.Tables.events(s, dir)
    (ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("value")),
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").cast("timestamp").as("ts"))
        .agg(max(col("value")).as("click_value")))
  }

  /** The matching oracle CTEs (ts cast to micros — see the q48 note). */
  // q204/q205 oracle: the token-bucket recurrence unrolled per user by
  // row number in a recursive CTE (single reference per step). The
  // streaming form appends the engine's emission rule with its exact
  // ms-truncated watermark arithmetic.
  private def rateLimitSql(streamFilter: Boolean): String = {
    val filt = if (streamFilter)
      """WHERE tus2 <= ((SELECT MAX(epoch_us(ts)) FROM events) // 1000
                        - 1800000) * 1000"""
    else ""
    s"""WITH RECURSIVE ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS tus,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events),
        st(user_id, rn, level, last_us, event_id, allowed) AS (
          SELECT user_id, rn, CAST(1000000 AS BIGINT), tus, event_id, TRUE
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.rn,
             CASE WHEN LEAST(2000000, s.level + (e.tus - s.last_us) // 21600) >= 1000000
                  THEN LEAST(2000000, s.level + (e.tus - s.last_us) // 21600) - 1000000
                  ELSE LEAST(2000000, s.level + (e.tus - s.last_us) // 21600) END,
             e.tus, e.event_id,
             LEAST(2000000, s.level + (e.tus - s.last_us) // 21600) >= 1000000
          FROM st s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        SELECT event_id, user_id, allowed, CAST(level AS BIGINT) AS level_after
        FROM (SELECT st.*, last_us AS tus2 FROM st) $filt
        ORDER BY event_id"""
  }

  // q206/q207 shared grid: the engine's zero-filled (type, day-index,
  // count) spine over the global day span ([[graft.operators.Acf
  // .dailyCountSpine]]); GENERATE_SERIES over dates yields timestamps,
  // DATE - DATE is integer days
  private val daySpineCtes: String =
    """cnts AS (SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS c
                FROM events GROUP BY 1, 2),
       bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM cnts),
       spine AS (SELECT t.event_type, CAST(u.d AS DATE) AS d, b.lo
                 FROM (SELECT DISTINCT event_type FROM cnts) t
                 CROSS JOIN bounds b,
                 LATERAL (SELECT UNNEST(GENERATE_SERIES(b.lo, b.hi,
                   INTERVAL 1 DAY)) AS d) u),
       grid AS (SELECT s.event_type, CAST(s.d - s.lo AS BIGINT) AS i,
                       CAST(COALESCE(c.c, 0) AS BIGINT) AS c
                FROM spine s LEFT JOIN cnts c
                  ON c.event_type = s.event_type AND c.d = s.d)"""

  // q208 oracle: the same greedy-bound containment algebra — support
  // via first/last bounds, e2 = earliest-after, a-priori prune
  private val seqPatternsSql: String =
    """WITH occ AS (
         SELECT user_id AS u, event_type AS t,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS p
         FROM events),
       fl AS (SELECT u, t, MIN(p) AS f, MAX(p) AS l FROM occ GROUP BY 1, 2),
       th AS (SELECT (COUNT(DISTINCT u) * 5 + 99) // 100 AS th FROM occ),
       s2 AS (SELECT a.t AS a, b.t AS b, COUNT(*) AS support
              FROM fl a JOIN fl b ON b.u = a.u AND b.l > a.f
              GROUP BY 1, 2),
       f2 AS (SELECT a, b, support FROM s2, th WHERE support >= th),
       e2 AS (SELECT o.u, a.t AS a, o.t AS b, MIN(o.p) AS e
              FROM occ o JOIN fl a ON a.u = o.u AND o.p > a.f
              GROUP BY 1, 2, 3),
       s3 AS (SELECT e2.a, e2.b, c.t AS c, COUNT(*) AS support
              FROM e2
              JOIN (SELECT a, b FROM f2) pf USING (a, b)
              JOIN fl c ON c.u = e2.u AND c.l > e2.e
              GROUP BY 1, 2, 3)
       SELECT a, b, '' AS c, CAST(support AS BIGINT) AS support FROM f2
       UNION ALL
       SELECT a, b, c, CAST(support AS BIGINT) AS support
       FROM s3, th WHERE support >= th
       ORDER BY a, b, c"""

  // q178/q179 twin oracle: per-term floor decay at the fixed horizon;

  // epoch_us keeps microsecond timestamps integer (EPOCH() is a double)
  private val decayScoreSql: String =
    """WITH x AS (
         SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS vc,
                GREATEST((epoch_us(TIMESTAMP '2024-02-01') - epoch_us(ts))
                           // 3600000000, 0) AS age
         FROM events)
       SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(CASE WHEN age < 63
                            THEN vc // (CAST(1 AS BIGINT) << age)
                            ELSE 0 END) AS BIGINT) AS score
       FROM x GROUP BY 1 ORDER BY 1"""

  private val asofCtes: String =
    """purchases AS (
         SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
         WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS click_value
         FROM events
         WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS TIMESTAMP))"""

  /** Run a synchronous stream drain with state partitioning sized by
    * STATE VOLUME instead of core count. Stateful streaming cost has a
    * fixed per-partition-per-batch floor (state-store open/commit, task
    * launch, a sink file) that data volume cannot amortize at small
    * state; 32 partitions of kilobyte state pay that floor 32×. The
    * partition count is pinned into the checkpoint at first start, so it
    * is a per-deployment sizing decision — at 100 TB feed rates set
    * `SPARK_GRAFT_STREAM_PARTITIONS` to the state-volume-appropriate
    * count. Results are partition-count-invariant (the oracles pin it).
    */
  private val streamStatePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8")

  private def withStreamShuffle[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }


  override def stages: Map[String, (SparkSession, String) => String] = Map(
    "events_stage" -> (stagedEventsDir _))

  override def traits: Map[String, Set[QueryTrait]] = QueryTrait.of(
    QueryTrait.Stream -> Seq("q36_events_hourly_stream", "q38_events_sessionize_stream",
      "q44_events_sessionize_native", "q47_events_enriched_stream",
      "q49_events_attribution_stream", "q57_events_dedup_stream", "q64_events_hourly_topk_stream",
      "q151_events_hopping_stream", "q156_events_trend_stream",
      "q165_events_attribution_outer_stream", "q179_user_decay_score_stream",
      "q205_rate_limit_stream"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_events_hourly" -> ((s, dir) =>
      EventStreams.hourlyByType(graft.Tables.events(s, dir))
        .orderBy("window_start", "event_type")),

    "q36_events_hourly_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.hourlyByTypeStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q36", dir)))
        .orderBy("window_start", "event_type")),

    "q37_events_sessionize" -> ((s, dir) =>
      EventStreams.sessionize(graft.Tables.events(s, dir), gapMinutes)
        .withColumn("session_seq", col("session_seq").cast("long"))
        .orderBy("user_id", "session_seq")),

    // same task as q38 through Spark's NATIVE session_window aggregation
    // (built-in-first); shares q38's deadline-rule oracle
    "q44_events_sessionize_native" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.sessionizeWindowStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q44", dir), gapMinutes))
        .orderBy("user_id", "session_start")),

    // ordered conversion funnel: first view, first click AT-OR-AFTER that
    // view, first purchase at-or-after that click — per-user MIN
    // aggregates chained through broadcastable joins (each stage's frame
    // is one row per qualifying user); never a window over raw events
    "q66_events_funnel" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts").cast("timestamp").as("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") >= col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      Seq("1_view" -> v, "2_click" -> c, "3_purchase" -> p)
        .map { case (nm, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(nm).as("stage"), col("n_users"))
        }
        .reduce(_ unionByName _)
        .orderBy("stage")
    }),

    // retention cohorts: users bucketed by first-seen day, activity
    // counted per week offset — (user, day) de-duplicated FIRST so the
    // grid aggregation never rescans raw events
    "q67_events_retention" -> ((s, dir) => {
      val days = graft.Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val first = days.groupBy("user_id").agg(min("d").as("cohort_day"))
      days.join(first, "user_id")
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          floor(datediff(col("d"), col("cohort_day")) / 7).cast("long").as("week_offset"),
          col("user_id"))
        .groupBy("cohort_day", "week_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "week_offset")
    }),

    // salted hot-key join end-to-end: ~2/3 of events collapse onto key 0
    // (users < 100), joined to a per-key label dim through Skew.saltedJoin
    // and rolled up — the oracle (plain unsalted join) proves the salt
    // changes the shuffle layout, never the result
    "q61_skew_salted_join" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(when(col("user_id") < 100, 0L).otherwise(col("user_id")).as("k"))
      val dim = ev.distinct()
        .withColumn("label", concat(lit("g"), pmod(col("k"), lit(7L))))
      graft.operators.Skew.saltedJoin(ev, dim, "k", salts = 8)
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),

    // exact distinct users per event type: Spark plans count_distinct as
    // Expand + two-phase aggregation (partial per (type, user), then
    // merge) — scale-safe while per-group distinct cardinality fits a
    // shuffle partition; q60 is the sketch twin for when it doesn't
    "q59_events_distinct_users" -> ((s, dir) =>
      graft.Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // HyperLogLog++ sketch twin of q59: constant state per group at any
    // cardinality. Rows-only (DuckDB's approx sketch differs); SketchSpec
    // bounds its error against the exact answer
    "q60_events_distinct_users_approx" -> ((s, dir) =>
      graft.Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"))
        .orderBy("event_type")),

    // the engine's OWN HyperLogLog ([[graft.operators.Hll]]): same
    // constant-state scale shape as q60, but the estimate is built from
    // integer arithmetic over the public hash64 — so unlike q60 it
    // carries a FULL bit-exact oracle that replays registers, ranks, and
    // both estimator branches in SQL
    "q104_events_distinct_users_hll" -> ((s, dir) =>
      graft.operators.Hll.approxCountDistinct(
          graft.Tables.events(s, dir), "event_type", col("user_id"))
        .withColumnRenamed("est", "n_users_hll")
        .orderBy("event_type")),

    // bucketed RANGE JOIN: events assigned to the maintenance window
    // containing them (02:00-02:45 of each active day, derived from the
    // events' own distinct days so the oracle is closed-form). The
    // operator equi-joins on hour buckets and filters exactly — never a
    // nested-loop over |events| x |windows|.
    "q58_events_range_join" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
      val windows = graft.Tables.events(s, dir)
        .select(to_date(col("ts")).as("d")).distinct()
        .select(date_format(col("d"), "yyyy-MM-dd").as("win_day"),
          (col("d").cast("timestamp") + expr("INTERVAL 2 HOURS")).as("win_start"),
          (col("d").cast("timestamp") + expr("INTERVAL 2 HOURS 45 MINUTES")).as("win_end"))
      graft.operators.RangeJoin
        .pointInInterval(ev, "ts", windows, "win_start", "win_end", bucketSeconds = 3600)
        .select(col("event_id"), col("win_day"))
        .orderBy("event_id", "win_day")
    }),

    // per-event trailing-hour rolling aggregate (feature engineering):
    // a RANGE window frame over event-time seconds — peer-inclusive and
    // order-independent at timestamp ties, so it hash-matches DuckDB's
    // RANGE INTERVAL frame exactly. One shuffle by user_id.
    "q56_events_rolling" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_seconds(col("ts").cast("timestamp")))
        .rangeBetween(-3600, 0)
      graft.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          count(lit(1)).over(w).as("n_hour"),
          round(sum(col("value")).over(w), 2).as("sum_hour"))
        .orderBy("event_id")
    }),

    // trailing-window ROLLING DISTINCT — the window shape Spark's
    // RANGE frames cannot express (count_distinct over a moving frame
    // is unsupported): per event, distinct users among ALL events in
    // the inclusive trailing hour. Expressed as the q58 bucketed
    // point-in-interval range join (each event spans [ts−1h, ts], each
    // contributes its own point; candidates meet in exactly one
    // bucket) feeding one exact count_distinct — pair surface is
    // events × window-occupancy, never events²
    "q164_events_rolling_distinct" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("user_id"))
      // anchor on purchases: the fraud-review shape ("how many distinct
      // users were active in the hour before this purchase") — and the
      // anchor set bounds the pair surface at |purchases| × occupancy
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("a_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"), col("ts").as("w_end"))
      val points = ev.select(col("ts").as("p_ts"), col("user_id"))
      graft.operators.RangeJoin.pointInInterval(
          points, "p_ts", intervals, "w_start", "w_end", bucketSeconds = 900L)
        .groupBy(col("a_id").as("event_id"))
        .agg(count_distinct(col("user_id")).as("n_users_hour"))
        .orderBy("event_id")
    }),

    // sweep-line peak concurrency: every event opens a 30-minute lease
    // [ts, ts+30m); per hour, the max number of simultaneously open
    // leases at event boundaries — the distributed two-phase prefix sum
    // ([[graft.operators.SweepLine]]: within-bucket running sums + one
    // #buckets-sized carry window), never a global single-partition sort
    "q169_events_peak_concurrency" -> ((s, dir) => {
      val iv = graft.Tables.events(s, dir).select(
        col("ts").cast("timestamp").as("s"),
        (col("ts").cast("timestamp") + expr("INTERVAL 30 MINUTES")).as("e"))
      graft.operators.SweepLine.peakConcurrency(iv, "s", "e", bucketSeconds = 3600L)
        .select(date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("peak"))
        .orderBy("bucket_start")
    }),

    // robust median/MAD outlier gate over integer cents, with planted
    // 50× spikes (event_id % 37) riding the natural heavy tail — all
    // arithmetic integer ([[graft.operators.RobustStats]]: med2/dev2/
    // mad4 doubling trick), so the k=3 decision is bit-exact
    "q170_value_outliers_mad" -> ((s, dir) => {
      val v = graft.Tables.events(s, dir).select(
        col("event_id"), col("event_type"),
        (round(col("value") * 100).cast("long") *
          when(col("event_id") % 37 === 0, 50L).otherwise(1L)).as("vc"))
      graft.operators.RobustStats.madOutliers(v, Seq("event_type"), "vc", k = 3L)
        .select(col("event_id"), col("event_type"), col("vc").as("value_c"),
          col("dev2"), col("med2"), col("mad4"))
        .orderBy("event_id")
    }),

    // q144's straight-line sibling: gap minutes take the value on the
    // line between the neighboring observed closes, in integer cents
    // with the offset-floor blend ([[graft.operators.Resample
    // .linearGapFill]] — floor stays exact when the series moves down
    // across the gap, the q173 signed-division lesson)
    "q183_events_linear_gapfill" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir).select(
        col("event_id"), col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("vc"))
      graft.operators.Resample.linearGapFill(
          ev, "event_type", "ts", "event_id", "vc", bucketSeconds = 60L)
        .select(col("event_type"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket_ts"),
          col("value_i"), col("n_events"), col("is_gap"))
        .orderBy("event_type", "bucket_ts")
    }),

    // length-3 journey mining: q155's Markov transitions extended to
    // ordered per-user TRIGRAM paths — one per-user window (two leads
    // share its exchange), one map-side-combined path count, top-20
    // with a full deterministic tie-break
    "q186_events_top_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      graft.Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("b", lead(col("a"), 1).over(w))
        .withColumn("c", lead(col("a"), 2).over(w))
        .filter(col("c").isNotNull)
        .groupBy("a", "b", "c").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"), col("c"))
        .limit(20)
    }),

    // per-user behavioral DIVERSITY: Shannon entropy of the event-type
    // mix in integer MICRO-NATS — H = ln(N) − Σ n·ln(n)/N, with every
    // ln() frozen to round(ln·1e6) per TERM before the sum, so the
    // cross-partition aggregation is an exact order-free long sum (a
    // raw double Σ n·ln(n) would merge partials in shuffle order — the
    // q149 divergence this representation kills)
    "q188_user_type_entropy" -> ((s, dir) => {
      val counts = graft.Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val lnMicro = round(log(col("n").cast("double")) * 1e6).cast("long")
      counts.groupBy(col("user_id"))
        .agg(sum(col("n")).as("total"),
          count(lit(1)).as("n_types"),
          sum(col("n") * lnMicro).as("snl"))
        .select(col("user_id"), col("total"), col("n_types"),
          (round(log(col("total").cast("double")) * 1e6).cast("long") -
            expr("snl div total")).as("entropy_micro"))
        .orderBy("user_id")
    }),

    // rolling 7-day ACTIVE USERS (WAU-per-day): each (day, user)
    // presence covers the 7 report days it contributes to — a bounded
    // ×7 explode + one exact distinct, never a per-day rescan of the
    // corpus (the q164 bucket discipline on the day grid); report days
    // clipped to the observed span so no partial-coverage edge rows
    "q196_rolling_wau" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(to_date(col("ts").cast("timestamp")).as("d"), col("user_id"))
        .distinct()
      val span = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      ev.withColumn("report_day",
          explode(sequence(col("d"), date_add(col("d"), 6))))
        .select(col("report_day"), col("user_id")).distinct()
        .crossJoin(broadcast(span)) // 1-row span
        .filter(col("report_day") >= date_add(col("lo"), 6) &&
          col("report_day") <= col("hi"))
        .groupBy(col("report_day"))
        .agg(count_distinct(col("user_id")).as("wau"))
        .select(date_format(col("report_day"), "yyyy-MM-dd").as("report_day"),
          col("wau"))
        .orderBy("report_day")
    }),

    // MULTI-TOUCH attribution (q48's as-of is last-touch; this splits):
    // each purchase's value divides EVENLY in integer cents across the
    // user's clicks in the trailing hour, remainder to the latest click
    // — credit conservation is exact (Σ credits == value_c, spec'd by
    // the oracle's arithmetic). Candidates meet through the q58/q164
    // bucketed range join, never events²
    "q202_multitouch_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("user_id"),
          round(col("value") * 100).cast("long").as("vc"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("puser"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"),
          col("ts").as("w_end"), col("vc"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cuser"),
          col("ts").as("cts"))
      val pairs = graft.operators.RangeJoin.pointInInterval(
          clicks, "cts", purchases, "w_start", "w_end", bucketSeconds = 900L)
        .filter(col("cuser") === col("puser"))
      val wp = Window.partitionBy("pid")
      val credited = pairs
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("rn", row_number().over(
          Window.partitionBy("pid").orderBy(col("cts").desc, col("cid").desc)))
        .select(col("cid"),
          (expr("vc div n") +
            when(col("rn") === 1, col("vc") % col("n")).otherwise(0L)).as("credit"))
      credited.groupBy(col("cid").as("click_id"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("credit")).as("credit_c"))
        .orderBy("click_id")
    }),

    // TOKEN-BUCKET rate limiting, batch form: capacity 2 tokens, cost 1
    // per event, refill 1 token / 6 h, all in integer micro-tokens —
    // the recurrence is NONLINEAR (each decision feeds the next level),
    // the canonical ordered per-key stateful fold
    "q204_rate_limit" -> ((s, dir) => {
      import s.implicits._
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Event]
      EventStreams.rateLimit(ev, capacityMicro = 2000000L,
          refillDivUs = 21600L, costMicro = 1000000L).toDF()
        .orderBy("event_id")
    }),

    // the STREAMING twin (q38's custom-state discipline applied to an
    // order-critical recurrence): state buffers the watermark-
    // uncertified tail and folds only certified events, so emitted
    // decisions are final and batch-identical; events above the final
    // watermark stay unemitted and the oracle replicates the engine's
    // ms-truncated watermark arithmetic exactly
    "q205_rate_limit_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.rateLimitStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q205", dir),
          capacityMicro = 2000000L, refillDivUs = 21600L, costMicro = 1000000L))
        .orderBy("event_id")),

    // integer AUTOCORRELATION of the daily event-count series per type
    // ([[graft.operators.Acf]]): zero-filled global day grid, floored-
    // mean deviations, lag 1..7 coefficients in micro-units — the
    // corpus pays ONE (type, day) count aggregate; everything after is
    // spine-sized (5 types x 30 days)
    "q206_events_acf" -> ((s, dir) =>
      graft.operators.Acf.dailyCountAcf(
          graft.Tables.events(s, dir), keyCol = "event_type", tsCol = "ts",
          maxLag = 7)
        .orderBy("event_type", "lag")),

    // Holt double exponential smoothing forecast ([[graft.operators
    // .HoltWinters]]): level+trend fold over the same zero-filled
    // spine, alpha=1/5 beta=1/10 as exact integer floor arithmetic,
    // 7-day forecast per type — the ordered fold runs on the POLICY-
    // SIZED spine, so the sequential step never scales with corpus size
    "q207_events_forecast" -> ((s, dir) =>
      graft.operators.HoltWinters.dailyCountForecast(
          graft.Tables.events(s, dir), keyCol = "event_type", tsCol = "ts",
          horizon = 7)
        .orderBy("event_type", "h")),

    // GSP-style SEQUENTIAL pattern mining ([[graft.operators
    // .SeqPatterns]]): gapped length-2/3 type subsequences contained by
    // >= 5% of users, decided by greedy first/last/earliest-after
    // occurrence bounds (exact) — never a positional self-join; the
    // a-priori prefix prune gates the length-3 support join
    "q208_events_seq_patterns" -> ((s, dir) =>
      graft.operators.SeqPatterns.frequentSequences(
          graft.Tables.events(s, dir), userCol = "user_id",
          typeCol = "event_type", tsCol = "ts", tieCol = "event_id",
          minSupportPct = 5)
        .orderBy("a", "b", "c")),

    // distributed CUSUM change-point detection ([[graft.operators
    // .Cusum]]): a level shift PLANTED into the error stream
    // (+400.00 after Jan 21) must raise alarms there and nowhere else —
    // the closed form C_t − min(0, min C_j) runs as two bucketed
    // two-phase prefix scans, never a per-group single-partition sort
    "q176_value_cusum_alarms" -> ((s, dir) => {
      val x = graft.Tables.events(s, dir).select(
        col("event_id"), col("event_type"), col("ts"),
        (round(col("value") * 100).cast("long") +
          when(col("event_type") === "error" &&
            col("ts").cast("timestamp") >= lit("2024-01-21").cast("timestamp"), 40000L)
            .otherwise(0L)).as("vc"))
      graft.operators.Cusum.alarms(x, Seq("event_type"), "ts", "event_id",
          "vc", k = 12000L, threshold = 200000L, bucketSeconds = 3600L)
        .select(col("event_id"), col("event_type"), col("cusum"))
        .orderBy("event_id")
    }),

    // backward AS-OF join: each purchase attributed to the user's most
    // recent click at-or-before it (clicks pre-aggregated per (user, ts)
    // to satisfy the operator's — and DuckDB ASOF's — uniqueness
    // precondition). One union+window shuffle, no pair explosion.
    "q48_asof_click_attribution" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      graft.operators.AsOf.asofBackward(
          purchases, clicks, "user_id", "ts", rightTsOut = "click_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("click_value"))
        .orderBy("event_id")
    }),

    // the as-of TOLERANCE path, oracle-checked: same attribution as q48
    // but matches older than 10 minutes are nulled out (left-join rows
    // survive with null click columns)
    "q69_asof_tolerance" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      graft.operators.AsOf.asofBackward(purchases, clicks, "user_id", "ts",
          rightTsOut = "click_ts", toleranceMs = Some(10L * 60000))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("click_value"))
        .orderBy("event_id")
    }),

    // stream-static enrichment: the event stream joined to the customer
    // dimension (user_id -> market segment) before the hourly aggregate;
    // watermark/append semantics identical to q36's
    "q47_events_enriched_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.enrichedHourlyStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q47", dir),
          graft.Tables.table(s, dir, "customer"), "c_custkey", "c_mktsegment"))
        .orderBy("window_start", "segment")),

    // per-window TOP-K over the stream: append mode emits each window's
    // rows exactly once when the watermark finalizes it, so ranking the
    // materialized sink is correct-by-construction — rank is not
    // expressible inside an append-mode stream, and this composition is
    // the honest shape (finalize first, rank finalized windows)
    "q64_events_hourly_topk_stream" -> ((s, dir) => {
      val hourly = withStreamShuffle(s)(EventStreams.hourlyByTypeStreaming(
        s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q64", dir)))
      val w = Window.partitionBy("window_start")
        .orderBy(col("sum_value").desc, col("event_type"))
      hourly
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 2)
        .orderBy("window_start", "rank")
    }),

    // stream-STREAM interval join: purchases x same-user clicks within
    // the preceding hour, both sides watermarked (bounded join state)
    "q49_events_attribution_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.attributionStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q49", dir), windowMinutes = 60))
        .orderBy("event_id", "click_id")),

    // LEFT OUTER stream-stream interval join (q49's outer sibling):
    // unmatched purchases emit null-click rows only once the watermark
    // proves their window closed; the rest never emit
    "q165_events_attribution_outer_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.attributionOuterStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q165", dir), windowMinutes = 60))
        .orderBy(col("event_id"), col("click_id").asc_nulls_first)),

    // streaming ingest dedup: event_id uniqueness repaired with bounded
    // (watermark-horizon) state; the driver feed has unique ids, so the
    // oracle is the identity projection — the dedup SEMANTICS (planted
    // re-deliveries, state eviction) are pinned by DedupStreamSpec
    "q57_events_dedup_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.dedupStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q57", dir)))
        .orderBy("event_id")),

    "q38_events_sessionize_stream" -> ((s, dir) => {
      withStreamShuffle(s)(EventStreams.sessionizeStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q38", dir), gapMinutes))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // minute-grid OHLC resample + date-spine gap fill: open/close are
    // order-selections (ts, event_id tie-break), the spine densifies
    // every minute of each type's span, empty minutes carry the close
    // forward (LOCF). All values selected, never combined — bit-exact
    "q144_events_ohlc_gapfill" -> ((s, dir) =>
      graft.operators.Resample.ohlcGapFill(
          graft.Tables.events(s, dir),
          groupCol = "event_type", tsCol = "ts", idCol = "event_id",
          valueCol = "value", bucketSeconds = 60L)
        .select(col("event_type"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket_ts"),
          col("open"), col("high"), col("low"), col("close"),
          col("n_events"), col("is_gap"))
        .orderBy("event_type", "bucket_ts")),

    // HOPPING (sliding) windows — q35's tumbling sibling: 1-hour
    // windows every 15 minutes, so each event lands in exactly
    // duration/hop = 4 window instances. Spark plans the multi-window
    // explode before the hash aggregate; the shuffle carries ×4 rows
    // by design (the semantics, not a defect) and partial aggregation
    // still combines map-side per (window, type)
    "q147_events_hopping_window" -> ((s, dir) =>
      graft.Tables.events(s, dir)
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // the ranked-analytics window-function suite in ONE pass: ntile /
    // percent_rank / cume_dist / lag / lead / running sum over the same
    // (event_type, (ts, id)) window — one exchange serves every
    // function. The running sum accumulates INTEGER cents (a running
    // double would be frame-order-associative and engine-divergent);
    // ratios round 6dp at the edge
    "q161_events_window_suite" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      graft.Tables.events(s, dir)
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("value"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_type"), col("event_id"),
          row_number().over(w).cast("long").as("rn"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          lag(col("value"), 1).over(w).as("prev_v"),
          lead(col("value"), 1).over(w).as("next_v"),
          round(sum(col("cents")).over(frame) / lit(100.0), 2).as("run_sum"))
        .orderBy("event_type", "rn")
    }),

    // q147 under true Structured Streaming: watermark + append mode,
    // emission per window INSTANCE (q36's rule applied at 4× instance
    // density). Shares q147's membership arithmetic; the oracle adds
    // the append-mode HAVING clause
    "q151_events_hopping_stream" -> ((s, dir) =>
      withStreamShuffle(s)(EventStreams.hoppingByTypeStreaming(
          s, stagedEventsDir(s, dir), Scratch.freshDir(s, "q151", dir)))
        .orderBy("window_start", "event_type")),

    // per-user event-type TRANSITION matrix (the Markov-chain view of
    // user journeys — the funnel's (q66) unordered sibling): each
    // user's events in (ts, id) order yield consecutive-type pairs;
    // counts are exact, probabilities one 6dp division at the edge.
    // One shuffle for the per-user window, one for the pair counts;
    // the row-probability join is against a type-cardinality frame
    "q155_events_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = graft.Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val cnt = pairs
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("from_type").agg(sum("n").as("tot"))
      cnt.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // per-type OLS trend (the regr_slope/regr_intercept analytics op)
    // in EXACT integer sums: the float aggregates are shuffle-order-
    // dependent, so instead x = whole seconds since 2024-01-01 (bounded
    // re-centering for headroom), y = centi-units, and the five
    // sufficient statistics (n, Σx, Σy, Σx², Σxy) accumulate as exact
    // longs (map-side combinable, one shuffle of 5 numbers per group;
    // bounds: |x| ≤ 2.6e6 over the feed's 31 days, so Σx² fits a long
    // to ~1e6 rows/group and the decimal(38) combination to ~1e24).
    // Only the final slope/intercept touch doubles, through the same
    // expression shape the oracle replays — bit-identical
    "q149_events_trend_ols" -> ((s, dir) =>
      graft.operators.TrendOls.finish(graft.operators.TrendOls.sufficientStats(
        graft.operators.TrendOls.base(graft.Tables.events(s, dir))))),

    // q149's sufficient statistics as STREAMING STATE (the q113/q116/
    // q128 mergeable-state family): long sums merge by SUM, so the
    // drained complete-mode state equals the batch statistics and the
    // finished result shares q149's oracle VERBATIM — batch-boundary
    // invisibility stated as hash equality
    // no withStreamShuffle wrapper: the SketchStream drain self-sizes its
    // state partitioning from the feed ([[graft.streaming.StreamShuffle
    // .withDrainSized]] inside olsTrendStreaming) — an outer wrapper would
    // cap the inner derivation's clamp ceiling at the legacy env constant
    // instead of the true session count (r19 ADVICE)
    "q156_events_trend_stream" -> ((s, dir) =>
      graft.streaming.SketchStream.olsTrendStreaming(
          s, stagedEventsDir(s, dir), EventStreams.eventSchema,
          Scratch.freshDir(s, "q156", dir))
        .orderBy("event_type")),

    // time-decayed engagement score ([[graft.operators.DecayScore]]):
    // per-TERM integer floor decay (halved per hour of age at a FIXED
    // horizon) makes the sum exact, order-free and MERGEABLE — one
    // map-side projection + one user-keyed map-side-combined sum
    "q178_user_decay_score" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir).select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("vc"))
      graft.operators.DecayScore.aggregate(
          graft.operators.DecayScore.contributions(ev, horizon = "2024-02-01"))
        .orderBy("user_id")
    }),

    // the same aggregate as STREAMING STATE (the q113/q116/q128/q156
    // mergeable-state family, member five): fixed horizon ⇒ each
    // contribution is batch-independent, so the drained complete-mode
    // state shares q178's oracle VERBATIM
    // no withStreamShuffle wrapper — same reason as q156: the drain
    // self-sizes via withDrainSized
    "q179_user_decay_score_stream" -> ((s, dir) =>
      graft.streaming.SketchStream.decayScoreStreaming(
          s, stagedEventsDir(s, dir), EventStreams.eventSchema,
          Scratch.freshDir(s, "q179", dir), horizon = "2024-02-01")
        .orderBy("user_id"))
  )

  def oracleSql: Map[String, String] = Map(
    "q35_events_hourly" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // append-mode + watermark: a window emits iff window_end <= max(ts) - delay
    "q36_events_hourly_stream" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM events
         GROUP BY DATE_TRUNC('hour', ts), event_type
         HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY window_start, event_type""",
    "q37_events_sessionize" ->
      s"""WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > $gapMinutes * 60000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          numbered AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
            FROM flagged)
          SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                 COUNT(*) AS n_events,
                 STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                 STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                 ROUND(SUM(value), 2) AS sum_value
          FROM numbered GROUP BY user_id, session_seq
          ORDER BY user_id, session_seq""",
    // streaming sessionize (session_window-style append semantics) emits
    // a session iff the final watermark (max ts - 30 min) REACHES its gap
    // deadline (session_end + gap <= watermark, the native eviction rule
    // — non-strict, pinned at the exact tie by SessionizeStreamSpec) —
    // only then can no watermark-legal event still extend or bridge it.
    // Sessions whose deadline the watermark never reaches stay in state —
    // not emitted. Shared by the custom-state form (q38) and the native
    // session_window form (q44), which must agree.
    "q38_events_sessionize_stream" -> sessionizeStreamSql,
    "q44_events_sessionize_native" -> sessionizeStreamSql,
    "q57_events_dedup_stream" ->
      """SELECT event_id, user_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                event_type, value
         FROM events ORDER BY event_id""",
    "q59_events_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                COUNT(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the engine's own HLL, replayed bit-exactly: registers from DISTINCT
    // (group, value) hashes (max rank over occurrences == max over
    // distinct values), rank via integer threshold comparisons (NOT
    // floor(log2) — libm-unsafe), the indicator sum as exact HUGEINT, and
    // the linear-counting branch from the SAME spliced double literals
    // the engine's broadcast table uses
    "q104_events_distinct_users_hll" -> {
      import graft.operators.Hll
      s"""WITH RECURSIVE
            du AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
                   FROM events),
            tokh AS (SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type, u) AS tid,
                            HEX(ENCODE(u)) AS hx
                     FROM du),
            ${HashOracleSql.fnvFmixCtes},
            hx2 AS (SELECT t.event_type, s.tid, s.x
                    FROM tokh t JOIN sig s USING (tid)),
            p2(b, t) AS (VALUES ${Hll.rankThresholdValues}),
            pw(mj, v) AS (VALUES ${Hll.scaleValues}),
            lntab(vempty, lc) AS (VALUES ${Hll.lnTableValues}),
            rj AS (SELECT event_type, tid,
                          CAST(x // ${(BigInt(1) << (64 - Hll.p)).toString}::HUGEINT AS INT) AS j,
                          (x % ${(BigInt(1) << (64 - Hll.p)).toString}::HUGEINT)
                            * ${1 << Hll.p} AS rest
                   FROM hx2),
            rho AS (SELECT r.event_type, r.tid, r.j,
                           COALESCE(MIN(p.b), ${Hll.maxRho}) AS rho
                    FROM rj r LEFT JOIN p2 p ON r.rest >= p.t
                    GROUP BY r.event_type, r.tid, r.j),
            regs AS (SELECT event_type, j, MAX(rho) AS mj
                     FROM rho GROUP BY 1, 2),
            agg AS (SELECT r.event_type, SUM(pw.v) AS sp, COUNT(*) AS nregs
                    FROM regs r JOIN pw ON pw.mj = r.mj GROUP BY 1),
            fin AS (SELECT event_type, (${Hll.m} - nregs) AS vempty,
                           CAST(sp + (${Hll.m} - nregs)::HUGEINT
                                  * ${(BigInt(1) << Hll.maxRho).toString}::HUGEINT
                                AS DOUBLE) AS sd
                    FROM agg),
            est AS (SELECT f.event_type,
                           CASE WHEN f.vempty > 0
                                  AND ${Hll.dlit(Hll.kRaw)} / f.sd <= ${Hll.dlit(Hll.lcThreshold)}
                                THEN l.lc
                                ELSE ${Hll.dlit(Hll.kRaw)} / f.sd END AS e
                    FROM fin f LEFT JOIN lntab l ON l.vempty = f.vempty)
          SELECT event_type, ROUND(e, 4) AS n_users_hll
          FROM est ORDER BY event_type"""
    },
    // q36's append-mode window rule, then rank within each finalized window
    "q64_events_hourly_topk_stream" ->
      """WITH hourly AS (
           SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                  event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
           FROM events
           GROUP BY DATE_TRUNC('hour', ts), event_type
           HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR
                    <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events))
         SELECT window_start, event_type, n_events, sum_value,
                CAST(rnk AS BIGINT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                 ORDER BY sum_value DESC, event_type) AS rnk FROM hourly)
         WHERE rnk <= 2
         ORDER BY window_start, rank""",
    // stage comparisons at microsecond precision, matching Spark's ts cast
    "q66_events_funnel" ->
      """WITH e0 AS (
           SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         v AS (
           SELECT user_id, MIN(ts) AS t_view FROM e0
           WHERE event_type = 'view' GROUP BY user_id),
         c AS (
           SELECT e.user_id, MIN(e.ts) AS t_click FROM e0 e
           JOIN v ON v.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts >= v.t_view
           GROUP BY e.user_id),
         p AS (
           SELECT e.user_id, MIN(e.ts) AS t_purchase FROM e0 e
           JOIN c ON c.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
           GROUP BY e.user_id)
         SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
         UNION ALL SELECT '2_click', COUNT(*) FROM c
         UNION ALL SELECT '3_purchase', COUNT(*) FROM p
         ORDER BY stage""",
    "q67_events_retention" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         f AS (
           SELECT user_id, MIN(d) AS cohort_day FROM days GROUP BY user_id)
         SELECT STRFTIME(f.cohort_day, '%Y-%m-%d') AS cohort_day,
                CAST(FLOOR(DATE_DIFF('day', f.cohort_day, days.d) / 7) AS BIGINT) AS week_offset,
                COUNT(DISTINCT days.user_id) AS n_users
         FROM days JOIN f ON f.user_id = days.user_id
         GROUP BY 1, 2 ORDER BY cohort_day, week_offset""",
    "q61_skew_salted_join" ->
      """WITH ev AS (
           SELECT CASE WHEN user_id < 100 THEN 0 ELSE user_id END AS k FROM events),
         dim AS (
           SELECT DISTINCT k, 'g' || CAST(k % 7 AS VARCHAR) AS label FROM ev)
         SELECT label, COUNT(*) AS n
         FROM ev JOIN dim USING (k)
         GROUP BY label ORDER BY label""",
    "q58_events_range_join" ->
      """WITH wdef AS (
           SELECT STRFTIME(d, '%Y-%m-%d') AS win_day,
                  CAST(d AS TIMESTAMP) + INTERVAL 2 HOUR AS win_start,
                  CAST(d AS TIMESTAMP) + INTERVAL 2 HOUR + INTERVAL 45 MINUTE AS win_end
           FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events))
         SELECT e.event_id, w.win_day
         FROM events e JOIN wdef w
           ON CAST(e.ts AS TIMESTAMP) BETWEEN w.win_start AND w.win_end
         ORDER BY e.event_id, w.win_day""",
    // the frame is ordered by WHOLE SECONDS on both sides (Spark uses
    // unix_seconds): a sub-second RANGE boundary would otherwise
    // include/exclude same-second straddling pairs differently
    "q56_events_rolling" ->
      """SELECT event_id, user_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                COUNT(*) OVER w AS n_hour,
                ROUND(SUM(value) OVER w, 2) AS sum_hour
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    // DuckDB's native ASOF LEFT JOIN is the ground truth for the as-of
    // operator (same inclusive l.ts >= r.ts backward-match rule)
    // CAST(ts AS TIMESTAMP) everywhere a cross-event comparison happens:
    // DuckDB reads the parquet nanos column as TIMESTAMP_NS while Spark
    // compares at microseconds — a same-microsecond pair differing only
    // in nanos would otherwise flip the >= result
    "q48_asof_click_attribution" ->
      s"""WITH $asofCtes
         SELECT p.event_id, p.user_id,
                STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
                STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, c.click_value
         FROM purchases p ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""",
    // inner stream-stream join drained by AvailableNow emits every
    // qualifying pair exactly once == the batch interval join (ts cast
    // to microseconds to match Spark's comparison precision)
    "q49_events_attribution_stream" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events)
         SELECT p.event_id, p.user_id,
                STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                c.event_id AS click_id,
                STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                c.value AS click_value
         FROM e p JOIN e c
           ON p.event_type = 'purchase' AND c.event_type = 'click'
          AND p.user_id = c.user_id
          AND c.ts BETWEEN p.ts - INTERVAL 60 MINUTE AND p.ts
         ORDER BY p.event_id, click_id""",
    // matched pairs emit unconditionally; an unmatched purchase emits
    // (null click columns) iff its ts is below the GLOBAL watermark —
    // the MIN of the two branch watermarks, each branch tracking its
    // own max event time (the `click_ts <= ts` bound means a purchase
    // below the click watermark can never gain a future match, so
    // eviction needs no window lag; sf0.01's dense tail pins the
    // boundary: 22:46 emits, nothing above 22:54:57 = min-branch-max −
    // 30min does)
    "q165_events_attribution_outer_stream" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events),
         wm AS (SELECT LEAST(
                  (SELECT MAX(ts) FROM e WHERE event_type = 'click'),
                  (SELECT MAX(ts) FROM e WHERE event_type = 'purchase'))
                - INTERVAL 30 MINUTE AS w),
         m AS (
           SELECT p.event_id, p.user_id, p.ts,
                  c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
           FROM e p JOIN e c
             ON p.event_type = 'purchase' AND c.event_type = 'click'
            AND p.user_id = c.user_id
            AND c.ts BETWEEN p.ts - INTERVAL 60 MINUTE AND p.ts),
         u AS (
           SELECT p.event_id, p.user_id, p.ts,
                  NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts,
                  NULL::DOUBLE AS click_value
           FROM e p
           WHERE p.event_type = 'purchase'
             AND p.ts < (SELECT w FROM wm)
             AND NOT EXISTS (SELECT 1 FROM m WHERE m.event_id = p.event_id))
         SELECT event_id, user_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                click_id, STRFTIME(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                click_value
         FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
         ORDER BY event_id, click_id NULLS FIRST""",
    // the tolerance is applied POST-match (DuckDB ASOF has no tolerance
    // clause): the backward match stands, but stale matches null out
    "q69_asof_tolerance" ->
      s"""WITH $asofCtes
         SELECT p.event_id, p.user_id,
                STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
                CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE
                     THEN STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') END AS click_ts,
                CASE WHEN p.ts - c.ts <= INTERVAL 10 MINUTE
                     THEN c.click_value END AS click_value
         FROM purchases p ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""",
    // enrichment join then the same append-mode window rule as q36
    "q47_events_enriched_stream" ->
      """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                c_mktsegment AS segment, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY DATE_TRUNC('hour', ts), c_mktsegment
         HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR
                  <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY window_start, segment""",
    // OHLC selections via the same (ts, id)-ordered row_number rule;
    // spine via generate_series; LOCF via last_value IGNORE NULLS
    "q144_events_ohlc_gapfill" ->
      """WITH b AS (
           SELECT event_type, DATE_TRUNC('minute', ts) AS bucket_ts, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('minute', ts)
                    ORDER BY ts, event_id) AS rn_a,
                  ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('minute', ts)
                    ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM events),
         ohlc AS (
           SELECT event_type, bucket_ts,
                  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                  MAX(value) AS high, MIN(value) AS low,
                  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                  COUNT(*) AS n_events
           FROM b GROUP BY 1, 2),
         spine AS (
           SELECT event_type,
                  UNNEST(GENERATE_SERIES(MIN(bucket_ts), MAX(bucket_ts),
                                         INTERVAL 1 MINUTE)) AS bucket_ts
           FROM ohlc GROUP BY event_type)
         SELECT s.event_type,
                STRFTIME(s.bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                o.open, o.high, o.low,
                LAST_VALUE(o.close IGNORE NULLS) OVER (
                  PARTITION BY s.event_type ORDER BY s.bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
                CAST(COALESCE(o.n_events, 0) AS BIGINT) AS n_events,
                (o.bucket_ts IS NULL) AS is_gap
         FROM spine s LEFT JOIN ohlc o USING (event_type, bucket_ts)
         ORDER BY s.event_type, s.bucket_ts""",
    // each event belongs to the 4 hop-aligned windows ending at or
    // after it: starts = floor(epoch/900)·900 − k·900, k = 0..3
    // (hop divides duration, so membership is exactly 4 — Spark's
    // epoch-aligned window rule replayed arithmetically)
    "q147_events_hopping_window" ->
      """SELECT STRFTIME(TIMESTAMP '1970-01-01 00:00:00'
                  + TO_SECONDS((CAST(FLOOR(EPOCH(ts)/900) AS BIGINT) - k.k) * 900),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM events, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k) k
         GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q164_events_rolling_distinct" ->
      """SELECT a.event_id, COUNT(DISTINCT b.user_id) AS n_users_hour
         FROM events a JOIN events b
           ON b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
         WHERE a.event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",
    // half-open leases; exact (t, d) peers collapse under the default
    // RANGE frame on both engines, so the tie arithmetic is identical
    "q169_events_peak_concurrency" ->
      """WITH iv AS (SELECT ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events),
         pts AS (SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
                 UNION ALL SELECT e, CAST(-1 AS BIGINT) FROM iv),
         r AS (SELECT t, d, SUM(d) OVER (ORDER BY t, d) AS run FROM pts)
         SELECT STRFTIME(DATE_TRUNC('hour', t), '%Y-%m-%d %H:%M:%S') AS bucket_start,
                CAST(MAX(run) AS BIGINT) AS peak
         FROM r GROUP BY 1 ORDER BY bucket_start""",
    "q170_value_outliers_mad" ->
      """WITH v AS (
           SELECT event_id, event_type AS g,
                  CAST(ROUND(value*100) AS BIGINT)
                    * (CASE WHEN event_id % 37 = 0 THEN 50 ELSE 1 END) AS vc
           FROM events),
         c AS (SELECT g, vc, cnt,
                      SUM(cnt) OVER (PARTITION BY g ORDER BY vc) AS cum,
                      SUM(cnt) OVER (PARTITION BY g) AS n
               FROM (SELECT g, vc, COUNT(*) AS cnt FROM v GROUP BY 1,2)),
         m AS (SELECT g, MIN(vc) FILTER (WHERE cum > FLOOR(0.5*(n-1))) +
                        MIN(vc) FILTER (WHERE cum > CEIL(0.5*(n-1))) AS med2
               FROM c GROUP BY g),
         d AS (SELECT v.event_id, v.g, v.vc, ABS(2*v.vc - m.med2) AS dev2, m.med2
               FROM v JOIN m ON v.g = m.g),
         c2 AS (SELECT g, dev2, cnt,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY dev2) AS cum,
                       SUM(cnt) OVER (PARTITION BY g) AS n
                FROM (SELECT g, dev2, COUNT(*) AS cnt FROM d GROUP BY 1,2)),
         m2 AS (SELECT g, MIN(dev2) FILTER (WHERE cum > FLOOR(0.5*(n-1))) +
                        MIN(dev2) FILTER (WHERE cum > CEIL(0.5*(n-1))) AS mad4
                FROM c2 GROUP BY g)
         SELECT d.event_id, d.g AS event_type, d.vc AS value_c, d.dev2, d.med2, m2.mad4
         FROM d JOIN m2 ON d.g = m2.g
         WHERE 2*d.dev2 > 3*m2.mad4
         ORDER BY event_id""",
    "q183_events_linear_gapfill" ->
      """WITH b AS (
           SELECT event_type, DATE_TRUNC('minute', ts) AS bucket_ts,
                  CAST(ROUND(value*100) AS BIGINT) AS vc,
                  ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('minute', ts)
                    ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM events),
         closes AS (
           SELECT event_type, bucket_ts,
                  MAX(CASE WHEN rn_d = 1 THEN vc END) AS close,
                  COUNT(*) AS n_events
           FROM b GROUP BY 1, 2),
         spine AS (
           SELECT event_type,
                  UNNEST(GENERATE_SERIES(MIN(bucket_ts), MAX(bucket_ts),
                                         INTERVAL 1 MINUTE)) AS bucket_ts
           FROM closes GROUP BY event_type),
         j AS (SELECT s.event_type, s.bucket_ts, c.close, c.n_events
               FROM spine s LEFT JOIN closes c USING (event_type, bucket_ts)),
         w AS (
           SELECT *,
             LAST_VALUE(close IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN close IS NOT NULL THEN bucket_ts END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(close IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN close IS NOT NULL THEN bucket_ts END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket_ts
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM j),
         g AS (
           SELECT *, (epoch_us(bucket_ts) - epoch_us(pt)) // 60000000 AS i,
                  (epoch_us(nt) - epoch_us(pt)) // 60000000 AS len
           FROM w)
         SELECT event_type, STRFTIME(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                CAST(CASE WHEN close IS NOT NULL THEN close
                     ELSE ((pv + 2147483648) * (len - i) + (nv + 2147483648) * i)
                          // len - 2147483648 END AS BIGINT) AS value_i,
                CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
                (close IS NULL) AS is_gap
         FROM g ORDER BY event_type, bucket_ts""",
    "q204_rate_limit" -> rateLimitSql(streamFilter = false),
    "q205_rate_limit_stream" -> rateLimitSql(streamFilter = true),
    "q208_events_seq_patterns" -> seqPatternsSql,
    // q206: same zero-filled grid, floored-mean deviations, offset
    // floor-div — every value exact BIGINT (SUMs cast down from
    // DuckDB's HUGEINT)
    "q206_events_acf" ->
      s"""WITH $daySpineCtes,
          st AS (SELECT event_type, COUNT(*) AS n,
                        CAST(SUM(c) // COUNT(*) AS BIGINT) AS mu
                 FROM grid GROUP BY 1),
          dev AS (SELECT g.event_type, g.i, g.c - st.mu AS dv, st.n
                  FROM grid g JOIN st USING (event_type)),
          den AS (SELECT event_type, CAST(SUM(dv*dv) AS BIGINT) AS den,
                         MAX(n) AS n
                  FROM dev GROUP BY 1),
          num AS (SELECT a.event_type, l.lag,
                         CAST(SUM(a.dv*b.dv) AS BIGINT) AS num
                  FROM dev a
                  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1,7)) AS lag) l
                  JOIN dev b ON b.event_type = a.event_type
                            AND b.i = a.i + l.lag
                  GROUP BY 1, 2)
          SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
                 CAST(d.n AS BIGINT) AS n_days,
                 CASE WHEN d.den = 0 THEN NULL
                      ELSE (n.num*1000000 + 2000000*d.den) // d.den
                           - 2000000 END AS acf_micro
          FROM num n JOIN den d USING (event_type)
          ORDER BY event_type, lag""",
    // q207: the engine's fold replayed one row-number step per type;
    // DuckDB's // floors negatives exactly like Math.floorDiv
    "q207_events_forecast" ->
      s"""WITH RECURSIVE $daySpineCtes,
          idx AS (SELECT event_type, i, c * 1000000 AS y,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY i) AS rn
                  FROM grid),
          st(event_type, rn, l, b) AS (
            SELECT a.event_type, CAST(1 AS BIGINT), a.y, b2.y - a.y
            FROM idx a JOIN idx b2 ON b2.event_type = a.event_type
                                  AND b2.rn = 2
            WHERE a.rn = 1
            UNION ALL
            -- DuckDB integer // truncates toward zero; the engine's
            -- Math.floorDiv floors. +K*divisor offsets keep dividends
            -- positive so truncation IS floor (the q173 rule)
            SELECT s.event_type, s.rn + 1,
                   (e.y + 4*(s.l + s.b) + 5000000000000000) // 5
                     - 1000000000000000,
                   (((e.y + 4*(s.l + s.b) + 5000000000000000) // 5
                      - 1000000000000000) - s.l + 9*s.b
                    + 10000000000000000) // 10 - 1000000000000000
            FROM st s JOIN idx e ON e.event_type = s.event_type
                                AND e.rn = s.rn + 1),
          fin AS (SELECT event_type, l, b FROM st s
                  WHERE rn = (SELECT MAX(rn) FROM idx i
                              WHERE i.event_type = s.event_type))
          SELECT f.event_type, CAST(h.h AS BIGINT) AS h,
                 CAST(f.l + h.h * f.b AS BIGINT) AS forecast_micro,
                 CAST(f.l AS BIGINT) AS level_micro,
                 CAST(f.b AS BIGINT) AS trend_micro
          FROM fin f
          CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1,7)) AS h) h
          ORDER BY event_type, h""",
    "q202_multitouch_attribution" ->
      """WITH pur AS (SELECT event_id AS pid, user_id, ts,
                             CAST(ROUND(value*100) AS BIGINT) AS vc
                      FROM events WHERE event_type = 'purchase'),
         clk AS (SELECT event_id AS cid, user_id, ts
                 FROM events WHERE event_type = 'click'),
         pairs AS (
           SELECT p.pid, p.vc, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY p.pid
                    ORDER BY c.ts DESC, c.cid DESC) AS rn,
                  COUNT(*) OVER (PARTITION BY p.pid) AS n
           FROM pur p JOIN clk c
             ON c.user_id = p.user_id
            AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts),
         cr AS (SELECT cid, vc // n
                       + CASE WHEN rn = 1 THEN vc % n ELSE 0 END AS credit
                FROM pairs)
         SELECT cid AS click_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                CAST(SUM(credit) AS BIGINT) AS credit_c
         FROM cr GROUP BY 1 ORDER BY 1""",
    "q196_rolling_wau" ->
      """WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         s AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM p),
         cov AS (SELECT DISTINCT d + CAST(k AS INTEGER) AS report_day, user_id
                 FROM p, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 6)) AS k) u)
         SELECT STRFTIME(report_day, '%Y-%m-%d') AS report_day,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
         FROM cov CROSS JOIN s
         WHERE report_day >= lo + 6 AND report_day <= hi
         GROUP BY report_day ORDER BY report_day""",
    "q188_user_type_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
         u AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS total,
                      CAST(COUNT(*) AS BIGINT) AS n_types,
                      CAST(SUM(n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1e6) AS BIGINT))
                           AS BIGINT) AS snl
               FROM c GROUP BY 1)
         SELECT user_id, total, n_types,
                CAST(ROUND(LN(CAST(total AS DOUBLE)) * 1e6) AS BIGINT)
                  - snl // total AS entropy_micro
         FROM u ORDER BY user_id""",
    "q186_events_top_paths" ->
      """WITH p AS (
           SELECT event_type AS a,
                  LEAD(event_type, 1) OVER w AS b,
                  LEAD(event_type, 2) OVER w AS c
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT a, b, c, COUNT(*) AS n FROM p WHERE c IS NOT NULL
         GROUP BY 1, 2, 3 ORDER BY n DESC, a, b, c LIMIT 20""",
    "q178_user_decay_score" -> decayScoreSql,
    "q179_user_decay_score_stream" -> decayScoreSql,
    "q176_value_cusum_alarms" ->
      """WITH x AS (
           SELECT event_id, event_type AS g, ts,
                  CAST(ROUND(value*100) AS BIGINT)
                    + CASE WHEN event_type = 'error' AND ts >= TIMESTAMP '2024-01-21'
                           THEN 40000 ELSE 0 END
                    - 12000 AS d
           FROM events),
         c1 AS (SELECT *, SUM(d) OVER (PARTITION BY g ORDER BY ts, event_id) AS S FROM x),
         c2 AS (SELECT *, MIN(S) OVER (PARTITION BY g ORDER BY ts, event_id) AS rmin FROM c1)
         SELECT event_id, g AS event_type,
                CAST(S - LEAST(0, rmin) AS BIGINT) AS cusum
         FROM c2 WHERE S - LEAST(0, rmin) > 200000
         ORDER BY event_id""",
    "q161_events_window_suite" ->
      """SELECT event_type, event_id,
                ROW_NUMBER() OVER w AS rn,
                CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
                ROUND(CUME_DIST() OVER w, 6) AS cume,
                LAG(value) OVER w AS prev_v,
                LEAD(value) OVER w AS next_v,
                ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                        PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      / 100.0, 2) AS run_sum
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         ORDER BY event_type, rn""",
    "q155_events_transitions" ->
      """WITH p AS (
           SELECT user_id, event_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (
           SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
           FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n,
                ROUND(CAST(c.n AS DOUBLE) / t.tot, 6) AS p
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type""",
    // hopping membership arithmetic + the q36 append-mode rule: a
    // window INSTANCE emits iff its end <= final watermark
    "q151_events_hopping_stream" ->
      """WITH w AS (
           SELECT TIMESTAMP '1970-01-01 00:00:00'
                    + TO_SECONDS((CAST(FLOOR(EPOCH(ts)/900) AS BIGINT) - k.k) * 900) AS ws,
                  event_type, value
           FROM events, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k) k)
         SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM w
         GROUP BY ws, event_type
         HAVING ws + INTERVAL 1 HOUR <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY window_start, event_type""",
    // same sufficient statistics in HUGEINT, same double-expression
    // shape for the two outputs (x via integer-micros floor division —
    // EPOCH()'s double loses sub-second precision at 2024 epochs)
    "q149_events_trend_ols" -> trendOlsSql,
    // the drained mergeable state equals the batch statistics, so the
    // streaming drain shares q149's oracle VERBATIM (the q113 rule)
    "q156_events_trend_stream" -> trendOlsSql
  )

  /** See the q149 oracle comment; shared verbatim by q156. */
  private lazy val trendOlsSql: String =
      """WITH b AS (
           SELECT event_type,
                  (EPOCH_US(ts) // 1000000) - 1704067200 AS x,
                  CAST(ROUND(value * 100) AS BIGINT) AS y
           FROM events),
         a AS (
           SELECT event_type, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy
           FROM b GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_events,
                ROUND((CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                      * 864.0, 6) AS slope_per_day,
                ROUND((CAST(sy AS DOUBLE)
                       - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) / 100.0, 6) AS intercept
         FROM a ORDER BY event_type"""

  private lazy val sessionizeStreamSql: String =
    s"""WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR EPOCH_MS(ts) - EPOCH_MS(LAG(ts) OVER w) > $gapMinutes * 60000
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        numbered AS (
          SELECT user_id, ts, value,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged),
        sessions AS (
          SELECT user_id, session_seq,
                 COUNT(*) AS n_events, MIN(ts) AS s_start, MAX(ts) AS s_end,
                 ROUND(SUM(value), 2) AS sum_value
          FROM numbered GROUP BY user_id, session_seq)
        SELECT user_id,
               STRFTIME(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
               STRFTIME(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
               n_events, sum_value
        FROM sessions
        WHERE s_end + INTERVAL $gapMinutes MINUTE
                <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)
        ORDER BY user_id, session_start"""
}
