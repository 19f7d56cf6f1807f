package graft.ops

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** The flagship computation of the reference: the weekly rental summary
  * (full-snapshot form, /root/reference/airflow_setup/dags/reference_query.sql:1-57;
  * the incremental form recomputes the same three counts per affected week,
  * etl_script_incremental_pandas.py:221-247).
  *
  * Per Monday-start week `w` over `rental(rental_id, rental_date, return_date)`:
  *   - newly_rented_during_week      = #{ rental_date ∈ [w, w+6d] }           (sql:28-34)
  *   - returned_rentals_during_week  = #{ return_date ∈ [w, w+6d] }           (sql:20-27)
  *   - outstanding_rentals_at_week_end = #{ rental_date ≤ w+6d AND
  *         (return_date IS NULL OR return_date > w+6d) }                      (sql:40-49)
  *   - net_change_in_outstanding     = newly − returned                       (sql:39)
  *
  * `CURRENT_DATE` in the reference's spine-extension rule (sql:7) is
  * parameterized as `asOf` for deterministic oracle comparison (SURVEY.md F9).
  *
  * Two physical formulations:
  *
  * '''snapshot''' (default, scale path): the reference's correlated
  * outstanding-count subquery is O(weeks × rentals). We reformulate it as
  * O(n): `outstanding(w) = cumulative(rented ≤ w) − cumulative(closed ≤ w)`
  * where a rental is "closed" in `week(GREATEST(rental_date, return_date))` —
  * the GREATEST guards the (data-anomaly) case `return_date < rental_date`,
  * keeping the identity `#{rental ≤ e ∧ return ≤ e} = cum_closed(e)` exact for
  * arbitrary inputs. One scan feeds three map-side-combined week-grain
  * aggregations; everything after the partial agg is at week cardinality
  * (a few hundred rows per decade), so the spine joins broadcast and the
  * single-partition cumulative window is trivially safe at any source scale.
  *
  * '''snapshotNestedLoop''' (cross-check): faithful non-equi-join shape of
  * sql:40-49 — `weeks × rental` with the range predicate, counted. Spark
  * plans `BroadcastNestedLoopJoin` with the tiny spine broadcast. Kept for
  * small-scale cross-validation of the cumulative rewrite (SURVEY.md J3).
  */
object WeeklySummary {

  /** Monday-start week truncation, as DATE. Spark's `date_trunc("week")` is
    * ISO Monday-start — identical to PostgreSQL `DATE_TRUNC('week', x)` and
    * to the reference's Python `d - timedelta(days=d.weekday())`
    * (etl_script_incremental_pandas.py:143-145; SURVEY.md F3). */
  def weekStart(c: Column): Column = date_trunc("week", c).cast(DateType)

  /** End (inclusive last day) of the week beginning at `weekBeginning`. */
  def weekEnd(weekBeginning: Column): Column = date_add(weekBeginning, 6)

  /** The Monday-week spine [week(min), week(max)] at 1-week step —
    * reference_query.sql:12-19 (`GENERATE_SERIES`) as `sequence` + `explode`.
    * Built from a 1-row aggregate: no driver round-trip. */
  def weekSpine(rental: DataFrame, asOf: LocalDate): DataFrame = {
    val maxDateExpr = max(
      when(col("return_date").isNotNull, to_date(col("return_date")))
        .otherwise(greatest(to_date(col("rental_date")), lit(asOf))))
    rental
      .agg(
        weekStart(min(to_date(col("rental_date")))).as("min_week"),
        weekStart(maxDateExpr).as("max_week"))
      .select(explode(
        sequence(col("min_week"), col("max_week"), expr("INTERVAL 7 DAYS")))
        .as("week_beginning"))
  }

  /** ONE scan of the source → week-grain counts `(week_beginning,
    * n_rented, n_returned, n_closed[, n_open_spine])`.
    *
    * Each rental row explodes into up to four (week, kind) events
    * (row-local, no shuffle), and a single week-keyed aggregation with
    * map-side combine replaces the three separate groupBys (each of
    * which re-materialized the source — for the harness's rental view,
    * an orders⋈lineitem join — once per count). At 100 TB: one pass over
    * the fact tables instead of four.
    *
    * Kinds: 1 = rented in week(rental_date); 2 = returned in
    * week(return_date); 3 = closed in week(GREATEST(rental_date,
    * return_date)) — the cumulative-outstanding guard (object doc); 4
    * (only when `asOf` is given) = open rental's spine-extension week
    * `week(GREATEST(rental_date, asOf))`, reference_query.sql:5-8. Null
    * weeks (null return_date for kinds 2/3) drop before the shuffle.
    *
    * With a `flag` (a boolean over the source row), every event carries
    * it and each `n_<kind>` count gains an `f_<kind>` twin counting only
    * the flagged rows — a null flag counts as false. That is how one
    * pass yields both the full counts and a subset's: the old state of
    * [[upsertRoundParts]], the delta of the incremental run. */
  private[graft] def weekCounts(rental: DataFrame, asOf: Option[LocalDate],
      flag: Option[Column] = None): DataFrame = {
    val rd = to_date(col("rental_date"))
    val ret = to_date(col("return_date"))
    def event(week: Column, kind: Int) = struct(
      Seq(week.as("week_beginning"), lit(kind).as("kind")) ++ flag.map(_.as("flag")): _*)
    val events = Seq(
      event(weekStart(rd), 1),
      event(weekStart(ret), 2),
      event(when(ret.isNotNull, weekStart(greatest(rd, ret))), 3)) ++
      asOf.map(d => event(
        when(ret.isNull, weekStart(greatest(rd, lit(java.sql.Date.valueOf(d))))), 4))
    val kinds = (Seq("rented", "returned", "closed") ++ asOf.map(_ => "open_spine"))
      .zipWithIndex.map { case (k, i) => (k, col("kind") === i + 1) }
    val aggs =
      kinds.map { case (k, is) => count(when(is, 1)).as(s"n_$k") } ++
      flag.toSeq.flatMap(_ =>
        kinds.map { case (k, is) => count(when(is && col("flag"), 1)).as(s"f_$k") })
    rental
      .select(explode(array(events: _*)).as("e"))
      .select(col("e.*"))
      .filter(col("week_beginning").isNotNull)
      .groupBy(col("week_beginning"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Cumulative-window tail over week-grain `counts` for the requested
    * `weeks`. The cumulative window must see every activity week ≤ any
    * requested week, so it runs over `requested ∪ activity-weeks` and
    * the result is then semi-joined back to `requested`. Extra activity
    * weeks (returns-only, spine-extension) contribute 0 to both
    * cumulative sums, so their presence never changes a requested row. */
  private[graft] def statsFromCounts(counts: DataFrame, weeks: DataFrame): DataFrame = {
    val c = counts.select(
      col("week_beginning"), col("n_rented"), col("n_returned"), col("n_closed"))
    val allWeeks = weeks.select(col("week_beginning"))
      .union(c.select(col("week_beginning")))
      .distinct()

    // Post-aggregation side is week-cardinality: broadcast it so the
    // week-spine join never shuffles.
    val joined = allWeeks.join(broadcast(c), Seq("week_beginning"), "left")

    val nRented = coalesce(col("n_rented"), lit(0L))
    val nReturned = coalesce(col("n_returned"), lit(0L))
    val nClosed = coalesce(col("n_closed"), lit(0L))
    // Single-partition window is intentional: input is week-grain (a few
    // hundred rows per decade of source data), so WindowExec's
    // "No Partition Defined" warning does not indicate a scale hazard
    // here. (A constant partition key would state that in the plan, but
    // the optimizer's EliminateWindowPartitions folds it away again.)
    val cum = Window.orderBy("week_beginning")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    joined
      .select(
        col("week_beginning"),
        nRented.as("newly_rented_during_week"),
        nReturned.as("returned_rentals_during_week"),
        (nRented - nReturned).as("net_change_in_outstanding"),
        (sum(nRented).over(cum) - sum(nClosed).over(cum))
          .as("outstanding_rentals_at_week_end"))
      .join(broadcast(weeks.select(col("week_beginning"))), Seq("week_beginning"), "left_semi")
      .orderBy("week_beginning")
  }

  /** Week-grain summary stats for an arbitrary set of requested weeks.
    *
    * Shared core of the snapshot (requested = the contiguous spine) and the
    * incremental recompute (requested = the sparse affected-week set,
    * etl_script_incremental_pandas.py:218-243 — but as ONE join-based plan
    * instead of the reference's per-week driver loop, SURVEY.md G2).
    *
    * @param weeks single `week_beginning: DATE` column, distinct Monday dates
    */
  def statsForWeeks(rental: DataFrame, weeks: DataFrame): DataFrame =
    statsFromCounts(weekCounts(rental, None), weeks)

  /** Scale-path snapshot: cumulative-window reformulation (see object
    * doc), fused to a single source scan — the spine bounds derive from
    * the week-grain counts (monotone `weekStart` commutes with min/max:
    * `min week(rental_date)` = kind-1 minimum; the reference's max-date
    * rule sql:5-8 = max over kind-2 (closed → return week) and kind-4
    * (open → spine-extension week) weeks), so no second scan for
    * [[weekSpine]]. */
  def snapshot(rental: DataFrame, asOf: LocalDate): DataFrame = {
    val counts = weekCounts(rental, Some(asOf))
    val spine = counts
      .agg(
        min(when(col("n_rented") > 0, col("week_beginning"))).as("min_week"),
        max(when(col("n_returned") > 0 || col("n_open_spine") > 0,
          col("week_beginning"))).as("max_week"))
      .select(explode(
        sequence(col("min_week"), col("max_week"), expr("INTERVAL 7 DAYS")))
        .as("week_beginning"))
    statsFromCounts(counts, spine)
  }

  /** One incremental upsert round — old-state summary (source as of `t`)
    * merged with a recompute of the weeks the post-`t` delta touches
    * (reference etl:216-268 as one plan) — FUSED to a single source scan.
    *
    * The exploded (week, kind) events of [[weekCounts]] additionally
    * carry the flag `last_update ≤ t` (old), so ONE week-keyed
    * aggregation yields both the old-state counts and the full counts.
    * Everything downstream is week-cardinality arithmetic:
    *   - old spine + cumulative stats ← the flagged `f_*` columns;
    *   - the affected-week set ← count DIFFERENCES (a week gained a
    *     delta rental/return exactly when its full count exceeds its old
    *     count — no second scan to derive the delta's weeks);
    *   - the incoming recompute ← the full counts at the affected weeks;
    *   - keyed upsert ← [[graft.incremental.Upsert.merge]].
    * The unfused formulation scanned the source three times (old
    * snapshot, affected-week derivation, recompute) around a
    * localCheckpoint; this is one scan and one week-grain shuffle. */
  def upsertRound(rental: DataFrame, t: java.sql.Timestamp, asOf: LocalDate): DataFrame = {
    val (oldSummary, incoming) = upsertRoundParts(rental, t, asOf)
    graft.incremental.Upsert.merge(oldSummary, incoming, Seq("week_beginning"))
      .orderBy("week_beginning")
  }

  /** The (existing target, incoming recompute) halves of [[upsertRound]]
    * — exposed so upsert SINKS with their own merge machinery
    * ([[graft.incremental.SnapshotTable.merge]]) consume the identical
    * frames; [[upsertRound]] itself is the pure-query formulation over
    * [[graft.incremental.Upsert.merge]]. */
  private[graft] def upsertRoundParts(rental: DataFrame, t: java.sql.Timestamp,
      asOf: LocalDate): (DataFrame, DataFrame) = {
    // Week-cardinality after the aggregation; localCheckpoint so the four
    // downstream consumers (old spine, old stats, affected set, incoming
    // stats) reuse the one materialized pass instead of re-scanning.
    val counts = weekCounts(rental, Some(asOf), Some(col("last_update") <= lit(t)))
      .localCheckpoint()
    val oldCounts = counts.select(col("week_beginning"),
      col("f_rented").as("n_rented"), col("f_returned").as("n_returned"),
      col("f_closed").as("n_closed"))
    val oldSpine = counts
      .agg(
        min(when(col("f_rented") > 0, col("week_beginning"))).as("min_week"),
        max(when(col("f_returned") > 0 || col("f_open_spine") > 0,
          col("week_beginning"))).as("max_week"))
      .select(explode(
        sequence(col("min_week"), col("max_week"), expr("INTERVAL 7 DAYS")))
        .as("week_beginning"))
    val oldSummary = statsFromCounts(oldCounts, oldSpine)
    val affected = counts
      .filter(col("n_rented") > col("f_rented") || col("n_returned") > col("f_returned"))
      .select(col("week_beginning"))
    val incoming = statsFromCounts(
      counts.select(col("week_beginning"), col("n_rented"), col("n_returned"),
        col("n_closed")),
      affected)
    (oldSummary, incoming)
  }

  /** The reference's snapshot SQL run through `spark.sql` — the literal
    * query shape of reference_query.sql:1-57 in Spark dialect (week
    * spine via sequence/explode, `CURRENT_DATE` parameterized), keeping
    * the CORRELATED scalar subquery for the outstanding count. Catalyst
    * decorrelates it (`DecorrelateInnerQuery` handles the non-equi
    * predicate), which is the SURVEY.md §4 "subquery decorrelation"
    * row demonstrated end-to-end: a user's existing SQL runs unchanged
    * and still plans without a driver-side loop. */
  def snapshotSql(rental: DataFrame, asOf: LocalDate): DataFrame = {
    val spark = rental.sparkSession
    val view = s"rental_snapshot_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // The view is a shared CTE consumed four times (date range, both
    // weekly counts, and the correlated subquery — which decorrelation
    // turns into a weeks×rental join). Materialize it once
    // (localCheckpoint) instead of re-deriving the source plan per
    // reference — the same call a CTE-materialization heuristic makes.
    // Without this, the O(weeks × rentals) decorrelated join recomputes
    // the rental derivation (an orders⋈lineitem aggregation in the
    // harness) inside its streamed side.
    rental.localCheckpoint().createOrReplaceTempView(view)
    try spark.sql(
      s"""WITH date_range AS (
         |  SELECT MIN(to_date(rental_date)) AS min_date,
         |         MAX(CASE WHEN return_date IS NOT NULL THEN to_date(return_date)
         |             ELSE GREATEST(to_date(rental_date), DATE '$asOf') END) AS max_date
         |  FROM $view
         |),
         |all_weeks AS (
         |  SELECT explode(sequence(
         |    to_date(date_trunc('week', (SELECT min_date FROM date_range))),
         |    to_date(date_trunc('week', (SELECT max_date FROM date_range))),
         |    INTERVAL 7 DAYS)) AS week_beginning
         |),
         |weekly_returned_counts AS (
         |  SELECT to_date(date_trunc('week', return_date)) AS week_of_return,
         |         COUNT(rental_id) AS num_returned_rentals
         |  FROM $view WHERE return_date IS NOT NULL GROUP BY 1
         |),
         |weekly_rented_counts AS (
         |  SELECT to_date(date_trunc('week', rental_date)) AS week_of_rental,
         |         COUNT(rental_id) AS num_newly_rented
         |  FROM $view GROUP BY 1
         |)
         |SELECT
         |  aw.week_beginning,
         |  COALESCE(wrc_rented.num_newly_rented, 0) AS newly_rented_during_week,
         |  COALESCE(wrc_returned.num_returned_rentals, 0) AS returned_rentals_during_week,
         |  COALESCE(wrc_rented.num_newly_rented, 0)
         |    - COALESCE(wrc_returned.num_returned_rentals, 0) AS net_change_in_outstanding,
         |  (SELECT COUNT(r_inv.rental_id) FROM $view r_inv
         |   WHERE to_date(r_inv.rental_date) <= date_add(aw.week_beginning, 6)
         |     AND (r_inv.return_date IS NULL
         |          OR to_date(r_inv.return_date) > date_add(aw.week_beginning, 6))
         |  ) AS outstanding_rentals_at_week_end
         |FROM all_weeks aw
         |LEFT JOIN weekly_returned_counts wrc_returned
         |  ON aw.week_beginning = wrc_returned.week_of_return
         |LEFT JOIN weekly_rented_counts wrc_rented
         |  ON aw.week_beginning = wrc_rented.week_of_rental
         |ORDER BY aw.week_beginning""".stripMargin)
    finally spark.catalog.dropTempView(view) // analysis is eager; the plan is inlined
  }

  /** Faithful O(weeks × rentals) shape of reference_query.sql:40-49 for
    * cross-checking: non-equi join spine × rental, conditional count. */
  def snapshotNestedLoop(rental: DataFrame, asOf: LocalDate): DataFrame = {
    // Consumed four times (spine bounds, outstanding NL join, two weekly
    // counts): materialize the narrow projection once — see snapshotSql.
    val r = rental.select(
      col("rental_id"),
      to_date(col("rental_date")).as("rd"),
      to_date(col("return_date")).as("ret"))
      .localCheckpoint()

    val spine = weekSpine( // off the materialized projection, not the source
      r.select(col("rd").as("rental_date"), col("ret").as("return_date")), asOf)
    val e = weekEnd(col("week_beginning"))
    val outstanding = broadcast(spine)
      .join(r, col("rd") <= e && (col("ret").isNull || col("ret") > e), "left")
      .groupBy(col("week_beginning"))
      .agg(count(col("rental_id")).as("outstanding_rentals_at_week_end"))

    val rented = r
      .groupBy(weekStart(col("rd")).as("week_beginning"))
      .agg(count(col("rental_id")).as("n_rented"))
    val returned = r
      .filter(col("ret").isNotNull)
      .groupBy(weekStart(col("ret")).as("week_beginning"))
      .agg(count(col("rental_id")).as("n_returned"))

    val nRented = coalesce(col("n_rented"), lit(0L))
    val nReturned = coalesce(col("n_returned"), lit(0L))
    spine
      .join(broadcast(rented), Seq("week_beginning"), "left")
      .join(broadcast(returned), Seq("week_beginning"), "left")
      .join(broadcast(outstanding), Seq("week_beginning"), "left")
      .select(
        col("week_beginning"),
        nRented.as("newly_rented_during_week"),
        nReturned.as("returned_rentals_during_week"),
        (nRented - nReturned).as("net_change_in_outstanding"),
        coalesce(col("outstanding_rentals_at_week_end"), lit(0L))
          .as("outstanding_rentals_at_week_end"))
      .orderBy("week_beginning")
  }

  /** Week-over-week deltas on the [[snapshot]] output — the trend report
    * a consumer of the weekly summary reads first. Input is WEEK-grain
    * (|weeks| rows at any source scale), so the single-partition lag
    * window is bounded by construction — the same cardinality argument
    * as the cumulative outstanding window above. Percent change is null
    * on a zero or absent base week (NULLIF semantics, engine-portable). */
  def weekOverWeek(summary: DataFrame): DataFrame = {
    val w = Window.orderBy(col("week_beginning"))
    val rPrev = lag(col("newly_rented_during_week"), 1).over(w)
    val oPrev = lag(col("outstanding_rentals_at_week_end"), 1).over(w)
    summary.select(
      col("week_beginning"),
      col("newly_rented_during_week"),
      (col("newly_rented_during_week") - rPrev).as("wow_rented_delta"),
      when(rPrev =!= 0,
        round((col("newly_rented_during_week") - rPrev).cast("double") / rPrev, 6))
        .as("wow_rented_pct"),
      col("outstanding_rentals_at_week_end"),
      (col("outstanding_rentals_at_week_end") - oPrev).as("wow_outstanding_delta"))
  }
}
