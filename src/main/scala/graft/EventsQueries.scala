package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.EventOps

/** the event-stream surface over `events`: rollups, sessions, sketches, as-of joins, funnels — the `Events` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object EventsQueries {

  import EntryOracleGen._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- event-stream operators over `events`
    "events_hourly" -> ((s, dir) => EventOps.hourlyRollup(Tables.events(s, dir))),

    "events_sliding" -> ((s, dir) => EventOps.slidingRollup(Tables.events(s, dir))),

    "events_outliers" -> ((s, dir) => EventOps.valueOutliers(Tables.events(s, dir))),

    "events_rolling" -> ((s, dir) => EventOps.rollingDaily(Tables.events(s, dir))),

    "events_retention" -> ((s, dir) => EventOps.retention(Tables.events(s, dir))),

    "events_sessions" -> ((s, dir) => EventOps.sessionize(Tables.events(s, dir))),

    "events_json" -> ((s, dir) => EventOps.jsonPropStats(Tables.events(s, dir))),

    "events_json_variant" -> ((s, dir) => EventOps.jsonPropStatsVariant(Tables.events(s, dir))),

    "events_topk" -> ((s, dir) => EventOps.topKPerType(Tables.events(s, dir))),

    "events_topk_agg" -> ((s, dir) => EventOps.topKPerTypeAgg(Tables.events(s, dir))),

    "events_rollup" -> ((s, dir) => EventOps.multiRollup(Tables.events(s, dir))),

    "events_distinct_users" -> ((s, dir) => EventOps.distinctUsers(Tables.events(s, dir))),

    // sketch cardinality: HLL++ internals aren't portable, so the
    // ORACLED surface is the error-envelope form — exact cardinality +
    // a violation count DuckDB asserts is zero (the sketch still runs
    // in-plan; EventOpsSpec additionally bounds the raw estimate)
    "events_approx_distinct" -> ((s, dir) =>
      EventOps.approxDistinctUsersChecked(Tables.events(s, dir))),

    // DataSketches HLL: same envelope treatment, plus merge_mismatches
    // asserting union-of-daily ≡ one direct sketch (register-wise max
    // is order-free, so a mismatch means the mergeable contract broke)
    "events_distinct_sketch" -> ((s, dir) =>
      EventOps.distinctUsersSketchMergeChecked(Tables.events(s, dir))),

    "events_percentiles" -> ((s, dir) => EventOps.valuePercentiles(Tables.events(s, dir))),

    // sketch path: GK summary internals aren't portable, so the oracled
    // surface is the envelope form — exact percentiles + violations of
    // the p±0.01 bracket, zero-asserted by DuckDB
    "events_percentiles_approx" -> ((s, dir) =>
      EventOps.valuePercentilesApproxChecked(Tables.events(s, dir))),

    "events_cube" -> ((s, dir) => EventOps.cubeByTypeDay(Tables.events(s, dir))),

    "events_histogram" -> ((s, dir) => EventOps.valueHistogram(Tables.events(s, dir))),

    "events_corr" -> ((s, dir) => EventOps.valueHourCorr(Tables.events(s, dir))),

    "events_mad" -> ((s, dir) => EventOps.valueMad(Tables.events(s, dir))),

    "events_transitions" -> ((s, dir) => EventOps.typeTransitions(Tables.events(s, dir))),

    // Misra-Gries counter values are merge-order-dependent, so the
    // oracled surface is the guarantee form: exact heavy-user counts +
    // missed_survivors/bound_violations, both deterministically zero
    // under the PODS'12 merge rule and zero-asserted by DuckDB
    // (HeavyHittersSpec still pins the guarantees on adversarial splits)
    "events_heavy_hitters" -> ((s, dir) => EventOps.heavyUsersChecked(Tables.events(s, dir))),

    "events_ranks" -> ((s, dir) => EventOps.valueRanks(Tables.events(s, dir))),

    "events_extremes" -> ((s, dir) => EventOps.extremesByType(Tables.events(s, dir))),

    "events_pivot" -> ((s, dir) => EventOps.pivotByType(Tables.events(s, dir))),

    "events_unpivot" -> ((s, dir) => EventOps.unpivotDaily(Tables.events(s, dir))),

    "events_funnel" -> ((s, dir) => EventOps.funnel(Tables.events(s, dir))),

    "events_drift_psi" -> ((s, dir) => EventOps.weeklyDriftPsi(Tables.events(s, dir))),

    "events_asof_phys_near" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOfExec(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"), direction = "nearest")
        .select("user_id", "event_id", "ts", "value", "asof_event_id", "asof_ts")
    }),

    "events_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOfNearest(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"))
    }),

    "events_asof" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOf(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"))
    }),

    "events_asof_fwd" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOf(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"), direction = "forward")
    }),

    "events_asof_phys" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOfExec(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"))
    }),

    "events_asof_phys_fwd" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.AsOfJoin.asOfExec(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        e.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("event_id", "ts"), direction = "forward")
    }),

    "events_journey" -> ((s, dir) => EventOps.userJourney(Tables.events(s, dir))),

    "events_in_windows" -> ((s, dir) => EventOps.eventsInActiveWindows(Tables.events(s, dir))),

    "events_in_windows_sql" -> ((s, dir) => EventOps.eventsInActiveWindowsSql(Tables.events(s, dir)))
  )

  val oracles: Map[String, String] = Map(

    "events_transitions" ->
      s"""WITH $eventsCte,
         |steps AS (
         |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           AS from_type,
         |         event_type AS to_type
         |  FROM e),
         |c AS (SELECT from_type, to_type, COUNT(*) AS n_steps
         |      FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, n_steps,
         |  round(n_steps::DOUBLE
         |        / SUM(n_steps) OVER (PARTITION BY from_type), 6) AS p_transition
         |FROM c ORDER BY from_type, to_type""".stripMargin,

    "events_mad" ->
      s"""WITH $eventsCte,
         |med AS (SELECT event_type, quantile_cont(value, 0.5) AS mv FROM e GROUP BY 1)
         |SELECT e.event_type, round(any_value(mv), 6) AS median_value,
         |  round(quantile_cont(abs(value - mv), 0.5), 6) AS mad
         |FROM e JOIN med ON e.event_type = med.event_type
         |GROUP BY 1""".stripMargin,

    "events_corr" ->
      s"""WITH $eventsCte,
         |m AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    SUM(CAST(value AS DECIMAL(18,6))) AS sv,
         |    SUM(CAST(hour(ts) AS DECIMAL(18,6))) AS sh,
         |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS svv,
         |    SUM(CAST(CAST(hour(ts) AS DECIMAL(18,6)) * CAST(hour(ts) AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS shh,
         |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(hour(ts) AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS svh
         |  FROM e GROUP BY 1)
         |SELECT event_type, n,
         |  round((n::DOUBLE * svh::DOUBLE - sv::DOUBLE * sh::DOUBLE)
         |    / sqrt((n::DOUBLE * svv::DOUBLE - sv::DOUBLE * sv::DOUBLE)
         |           * (n::DOUBLE * shh::DOUBLE - sh::DOUBLE * sh::DOUBLE)),
         |    6) AS corr_value_hour
         |FROM m""".stripMargin,

    "events_outliers" ->
      s"""WITH $eventsCte,
         |st AS (
         |  SELECT event_type,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
         |                  AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS meansq
         |  FROM e GROUP BY 1),
         |st2 AS (SELECT event_type, mean, sqrt(meansq - mean * mean) AS std FROM st)
         |SELECT event_id, e.event_type, value,
         |  round((value - mean) / std, 6) AS z_score
         |FROM e JOIN st2 USING (event_type)
         |WHERE std > 0 AND abs(round((value - mean) / std, 6)) >= 3""".stripMargin,

    "events_hourly" ->
      s"""WITH $eventsCte
         |SELECT date_trunc('hour', ts) AS hour, event_type,
         |  COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
         |FROM e GROUP BY 1, 2""".stripMargin,

    "events_sliding" ->
      s"""WITH $eventsCte,
         |wins AS (
         |  SELECT time_bucket(INTERVAL '15 minutes', ts)
         |           - ks.k * INTERVAL '15 minutes' AS window_start,
         |         user_id, value
         |  FROM e, (VALUES (0), (1), (2), (3)) AS ks(k))
         |SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
         |  COUNT(*) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM wins GROUP BY 1""".stripMargin,

    "events_rolling" ->
      s"""WITH $eventsCte,
         |d AS (
         |  SELECT event_type, date_trunc('day', ts)::date AS day,
         |    count(*) AS n_events,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
         |  FROM e GROUP BY 1, 2),
         |o AS (SELECT *, day - DATE '1970-01-01' AS day_ord FROM d)
         |SELECT event_type, day, n_events,
         |  CAST(sum_dec AS DOUBLE) AS sum_value,
         |  (sum(n_events) OVER w)::BIGINT AS roll_events,
         |  CAST(sum(sum_dec) OVER w AS DOUBLE) AS roll_value
         |FROM o WINDOW w AS (PARTITION BY event_type ORDER BY day_ord
         |                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "events_retention" ->
      s"""WITH $eventsCte,
         |uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::date AS week FROM e),
         |c AS (SELECT user_id, week,
         |        min(week) OVER (PARTITION BY user_id) AS cohort_week FROM uw)
         |SELECT cohort_week, (week - cohort_week) // 7 AS week_offset,
         |  count(*) AS n_users
         |FROM c GROUP BY 1, 2""".stripMargin,

    "events_sessions" ->
      s"""WITH $eventsCte,
         |$sessFlagsCtes
         |SELECT user_id, session_seq,
         |  MIN(ts) AS session_start, MAX(ts) AS session_end,
         |  COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_type) AS n_event_types,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM sess GROUP BY 1, 2""".stripMargin,

    "events_in_windows" -> eventsInWindowsOracle,

    // same computation, literal-SQL BETWEEN join through BandJoinRewrite
    "events_in_windows_sql" -> eventsInWindowsOracle,

    "events_json" ->
      s"""WITH $eventsCte
         |SELECT event_type,
         |  COUNT(json_extract_string(props, '$$.k')) AS n_with_k,
         |  CAST(SUM(json_extract_string(props, '$$.k')::BIGINT) AS BIGINT) AS sum_k,
         |  MIN(json_extract_string(props, '$$.k')::BIGINT) AS min_k,
         |  MAX(json_extract_string(props, '$$.k')::BIGINT) AS max_k,
         |  round(SUM(json_extract_string(props, '$$.k')::BIGINT)::DOUBLE
         |        / COUNT(json_extract_string(props, '$$.k')), 6) AS avg_k
         |FROM e GROUP BY 1""".stripMargin,

    // the VARIANT formulation must agree with the text-path one —
    // identical oracle text pins both to the same rows
    "events_json_variant" ->
      s"""WITH $eventsCte
         |SELECT event_type,
         |  COUNT(json_extract_string(props, '$$.k')) AS n_with_k,
         |  CAST(SUM(json_extract_string(props, '$$.k')::BIGINT) AS BIGINT) AS sum_k,
         |  MIN(json_extract_string(props, '$$.k')::BIGINT) AS min_k,
         |  MAX(json_extract_string(props, '$$.k')::BIGINT) AS max_k,
         |  round(SUM(json_extract_string(props, '$$.k')::BIGINT)::DOUBLE
         |        / COUNT(json_extract_string(props, '$$.k')), 6) AS avg_k
         |FROM e GROUP BY 1""".stripMargin,

    "events_topk" ->
      s"""WITH $eventsCte
         |SELECT event_type, event_id, user_id, value, rn FROM (
         |  SELECT event_type, event_id, user_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
         |  FROM e) WHERE rn <= 3""".stripMargin,

    // the Aggregator-based formulation computes the identical relation
    "events_topk_agg" ->
      s"""WITH $eventsCte
         |SELECT event_type, event_id, user_id, value, rn FROM (
         |  SELECT event_type, event_id, user_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
         |  FROM e) WHERE rn <= 3""".stripMargin,

    "events_rollup" ->
      s"""WITH $eventsCte
         |SELECT event_type, date_trunc('day', ts)::date AS day,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  GROUPING(event_type, date_trunc('day', ts)::date) AS grouping_level
         |FROM e GROUP BY ROLLUP(1, 2)""".stripMargin,

    "events_distinct_users" ->
      s"""WITH $eventsCte
         |SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM e GROUP BY 1""".stripMargin,

    "events_cube" ->
      s"""WITH $eventsCte
         |SELECT event_type, date_trunc('day', ts)::date AS day,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  GROUPING(event_type, date_trunc('day', ts)::date) AS grouping_level
         |FROM e GROUP BY CUBE(1, 2)""".stripMargin,

    "events_histogram" ->
      s"""WITH $eventsCte,
         |b AS (SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin, value FROM e)
         |SELECT event_type, bin, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  bin * 50.0 AS bin_lo
         |FROM b GROUP BY 1, 2""".stripMargin,

    "events_funnel" ->
      s"""WITH $eventsCte,
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
         |       WHERE e.event_type = 'click' GROUP BY 1),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
         |       WHERE e.event_type = 'purchase' GROUP BY 1)
         |SELECT 1 AS stage, 'view' AS step, (SELECT COUNT(*) FROM s1) AS n_users
         |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
         |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)""".stripMargin,

    "events_pivot" ->
      s"""WITH $eventsCte
         |SELECT date_trunc('day', ts)::date AS day,
         |  COUNT(*) FILTER (event_type = 'click') AS n_click,
         |  COUNT(*) FILTER (event_type = 'error') AS n_error,
         |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
         |  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
         |  COUNT(*) FILTER (event_type = 'view') AS n_view
         |FROM e GROUP BY 1""".stripMargin,

    "events_unpivot" ->
      s"""WITH $eventsCte,
         |d AS (SELECT DISTINCT date_trunc('day', ts)::date AS day FROM e),
         |t AS (SELECT UNNEST(['click','error','purchase','signup','view']) AS event_type),
         |n AS (SELECT date_trunc('day', ts)::date AS day, event_type, COUNT(*) AS n
         |      FROM e GROUP BY 1, 2)
         |SELECT d.day, t.event_type, COALESCE(n.n, 0) AS n_events
         |FROM d CROSS JOIN t LEFT JOIN n ON d.day = n.day AND t.event_type = n.event_type""".stripMargin,

    "events_ranks" ->
      s"""WITH $eventsCte
         |SELECT event_type, event_id, value,
         |  rank() OVER v AS rnk,
         |  round(percent_rank() OVER v, 6) AS pct_rank,
         |  round(cume_dist() OVER v, 6) AS cume,
         |  ntile(4) OVER vi AS quartile
         |FROM e
         |WINDOW v AS (PARTITION BY event_type ORDER BY value),
         |       vi AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,

    // same semantics as max_by/min_by with the composite ordering key;
    // DuckDB 1.0's arg_max can't take a struct key, so the oracle ranks
    "events_extremes" ->
      s"""WITH $eventsCte,
         |r AS (SELECT event_type, event_id, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rmax,
         |  row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rmin
         |  FROM e)
         |SELECT event_type,
         |  MAX(CASE WHEN rmax = 1 THEN event_id END) AS top_event_id,
         |  MAX(value) AS top_value,
         |  MAX(CASE WHEN rmin = 1 THEN event_id END) AS bottom_event_id,
         |  MIN(value) AS bottom_value,
         |  COUNT(*) AS n_events
         |FROM r GROUP BY 1""".stripMargin,

    "events_percentiles" ->
      s"""WITH $eventsCte,
         |q AS (SELECT event_type, quantile_cont(value, [0.5, 0.9, 0.99]) AS ps FROM e GROUP BY 1)
         |SELECT event_type, round(ps[1], 6) AS p50, round(ps[2], 6) AS p90,
         |       round(ps[3], 6) AS p99 FROM q""".stripMargin,

    // The four sketch queries oracle their ERROR ENVELOPE, not their
    // merge-order-dependent raw estimates (graduated from rows-only in
    // r10): DuckDB computes the exact side of each contract and asserts
    // the violation counters are zero — Spark computes them FROM the
    // live sketch, so a sketch drifting outside its guarantee
    // hash-mismatches and turns the round red.
    "events_approx_distinct" ->
      s"""WITH $eventsCte
         |SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
         |       CAST(0 AS BIGINT) AS bound_violations
         |FROM e GROUP BY 1""".stripMargin,

    "events_distinct_sketch" ->
      s"""WITH $eventsCte
         |SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
         |       CAST(0 AS BIGINT) AS bound_violations,
         |       CAST(0 AS BIGINT) AS merge_mismatches
         |FROM e GROUP BY 1""".stripMargin,

    "events_percentiles_approx" ->
      s"""WITH $eventsCte,
         |q AS (SELECT event_type, quantile_cont(value, [0.5, 0.9, 0.99]) AS ps FROM e GROUP BY 1)
         |SELECT event_type, round(ps[1], 6) AS p50_exact, round(ps[2], 6) AS p90_exact,
         |       round(ps[3], 6) AS p99_exact, CAST(0 AS BIGINT) AS bound_violations
         |FROM q""".stripMargin,

    "events_heavy_hitters" ->
      s"""WITH $eventsCte,
         |pu AS (SELECT event_type, user_id, COUNT(*) AS n_u FROM e GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(SUM(n_u) AS BIGINT) AS n_events FROM pu GROUP BY 1)
         |SELECT t.event_type, t.n_events,
         |  CAST(COALESCE(SUM(CASE WHEN pu.n_u > t.n_events / 17.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_heavy_exact,
         |  CAST(0 AS BIGINT) AS missed_survivors,
         |  CAST(0 AS BIGINT) AS bound_violations
         |FROM t JOIN pu ON pu.event_type = t.event_type
         |GROUP BY 1, 2""".stripMargin,

    "events_drift_psi" ->
      s"""WITH $eventsCte,
         |cnt AS (SELECT date_trunc('week', ts)::date AS week, event_type, COUNT(*) AS c
         |        FROM e GROUP BY 1, 2),
         |types AS (SELECT DISTINCT event_type FROM cnt),
         |kk AS (SELECT COUNT(*) AS k FROM types),
         |weeks AS (SELECT week, CAST(SUM(c) AS BIGINT) AS n,
         |                 CAST(row_number() OVER (ORDER BY week) AS INT) AS rk
         |          FROM cnt GROUP BY week),
         |grid AS (
         |  SELECT w.week, w.rk, w.n, t.event_type,
         |    (COALESCE(c.c, 0) + 0.5::DOUBLE) / (w.n + 0.5::DOUBLE * kk.k) AS p
         |  FROM weeks w CROSS JOIN types t
         |  LEFT JOIN cnt c ON c.week = w.week AND c.event_type = t.event_type
         |  CROSS JOIN kk),
         |pr AS (SELECT rk + 1 AS rk, event_type, p AS p_prev FROM grid)
         |SELECT g.week,
         |  round(CAST(SUM(CAST((g.p - pr.p_prev) * ln(g.p / pr.p_prev)
         |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi,
         |  g.n AS n_events
         |FROM grid g JOIN pr ON g.rk = pr.rk AND g.event_type = pr.event_type
         |GROUP BY g.week, g.n""".stripMargin,

    // the custom physical operator's nearest mode must agree with the
    // window composition — identical oracle text pins both
    "events_asof_phys_near" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view'),
         |b AS (SELECT p.event_id, v.event_id AS b_id, v.ts AS b_ts
         |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts),
         |f AS (SELECT p.event_id, v.event_id AS f_id, v.ts AS f_ts
         |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts)
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |  CASE WHEN (f.f_ts IS NULL OR (b.b_ts IS NOT NULL
         |        AND epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts)))
         |    THEN b.b_id ELSE f.f_id END AS asof_event_id,
         |  CASE WHEN (f.f_ts IS NULL OR (b.b_ts IS NOT NULL
         |        AND epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts)))
         |    THEN b.b_ts ELSE f.f_ts END AS asof_ts
         |FROM p JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin,

    "events_asof_nearest" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view'),
         |b AS (SELECT p.event_id, v.event_id AS b_id, v.ts AS b_ts
         |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts),
         |f AS (SELECT p.event_id, v.event_id AS f_id, v.ts AS f_ts
         |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts)
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |  CASE WHEN (f.f_ts IS NULL OR (b.b_ts IS NOT NULL
         |        AND epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts)))
         |    THEN b.b_id ELSE f.f_id END AS asof_event_id,
         |  CASE WHEN (f.f_ts IS NULL OR (b.b_ts IS NOT NULL
         |        AND epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts)))
         |    THEN b.b_ts ELSE f.f_ts END AS asof_ts
         |FROM p JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin,

    "events_asof" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view')
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |       v.event_id AS asof_event_id, v.ts AS asof_ts
         |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,

    "events_asof_fwd" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view')
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |       v.event_id AS asof_event_id, v.ts AS asof_ts
         |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts""".stripMargin,

    // the custom physical operator must agree with the compositional
    // form — identical oracle text pins both to the same rows
    "events_asof_phys" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view')
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |       v.event_id AS asof_event_id, v.ts AS asof_ts
         |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,

    "events_asof_phys_fwd" ->
      s"""WITH $eventsCte,
         |p AS (SELECT event_id, ts, user_id, value FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT event_id, ts, user_id FROM e WHERE event_type = 'view')
         |SELECT p.user_id, p.event_id, p.ts, p.value,
         |       v.event_id AS asof_event_id, v.ts AS asof_ts
         |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts""".stripMargin,

    "events_journey" ->
      s"""WITH $eventsCte
         |SELECT user_id, event_id, event_type, ts,
         |  row_number() OVER w AS step,
         |  lag(event_type, 1) OVER w AS prev_type,
         |  lead(event_type, 1) OVER w AS next_type
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
  )
}
