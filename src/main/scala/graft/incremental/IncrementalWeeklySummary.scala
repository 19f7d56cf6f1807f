package graft.incremental

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Profile, WeeklySummary}

/** How far the per-run recompute reaches.
  *
  * - [[ConsistencyMode.Faithful]] reproduces the reference exactly: only
  *   the weeks of a delta row's `rental_date`/`return_date` plus the
  *   end-of-table backfill gap are recomputed
  *   (etl_script_incremental_pandas.py:131-200). Backdated inserts or
  *   return-date edits therefore leave `OutstandingRentals` stale in
  *   *later*, untouched weeks — the reference inherits this from its
  *   design (README.md:118-130 documents the adjacent holes); it is
  *   invisible when `last_update` tracks activity time, the intended
  *   CDC usage.
  * - [[ConsistencyMode.Strict]] widens the recompute to the contiguous
  *   range [min(affected week), max activity week]. A delta row can only
  *   change counts at weeks ≥ min(week(rental_date), week(return_date)),
  *   so this closes the staleness hole at the cost of recomputing more
  *   weeks per run.
  */
sealed trait ConsistencyMode
object ConsistencyMode {
  case object Faithful extends ConsistencyMode
  case object Strict extends ConsistencyMode
}

/** What a run did — mirrors the reference's step-by-step log output. */
final case class RunReport(
    previousWatermark: Timestamp,
    newWatermark: Timestamp,
    deltaRows: Long,
    affectedWeeks: Long,
    processed: Boolean)

/** The reference's incremental watermark-driven pipeline
  * (etl_script_incremental_pandas.py:24-298), re-expressed as Spark jobs
  * over parquet state. A processed run reads the source twice, a no-op
  * run once:
  *
  *  1. target state from the summary MANIFEST, zero jobs: empty target
  *     (row count 0) ⇒ watermark reset to 1900-01-01 (etl:68-85); else
  *     the watermark is the commit tag and the last summarized week is
  *     the key's recorded max
  *  2. PASS A, one global aggregate over the source: the DQ counts and
  *     verdicts of [[graft.ops.Profile.rentalDqChecks]] (handed to the
  *     run's `dqGate` before any write), `MAX(last_update)` (etl:89-113),
  *     the max activity week and the min activity week (end-gap bounds,
  *     etl:148-194), and the delta row count — rows with `last_update ∈
  *     (wm, max]`, the delta extract of etl:116-128
  *  3. PASS B, one week-grain aggregate over the source, only when the
  *     delta has rows or the end gap is open: full counts per week plus
  *     the delta's counts ([[WeeklySummary.weekCounts]] with the extract
  *     predicate as flag), local-checkpointed. Affected weeks = weeks
  *     where the delta rented or returned ∪ end-gap backfill weeks
  *     (etl:131-200), united on the driver
  *  4. no affected week ⇒ no-op: watermark advance only (etl:202-213)
  *  5. recompute the affected weeks from the checkpointed counts — the
  *     reference loops one SQL round-trip per week (etl:218-243); we run
  *     ONE plan, [[WeeklySummary.statsFromCounts]] (SURVEY.md G2
  *     elimination), collected to a local frame of one row per week
  *  6. keyed upsert into the summary (etl:249-267) = [[SnapshotTable.merge]]:
  *     file-pruned copy-on-write, so only the files whose week range the
  *     affected set touches are rewritten — at 100 TB a weekly delta
  *     rewrites a sliver of the table, never the table
  *  7. watermark advance (etl:274-284) — the watermark RIDES the summary
  *     commit as the snapshot table's application tag, so summary and
  *     watermark are ONE atomic manifest write, exactly the reference's
  *     single-transaction commit (etl:272). The pre-r13 sink swapped two
  *     directories (summary, watermark) independently; a crash between
  *     the swaps left a torn state that re-runs had to repair
  *     convergently. With the tag riding the commit, that state is
  *     structurally impossible: either both advanced or neither did. A
  *     run that changes no rows advances the watermark with a tag-only
  *     commit ([[SnapshotTable.setTag]] — manifest write, no data). The
  *     watermark is MONOTONE: a source whose MAX(last_update) moved
  *     backwards (source-side deletes) never lowers it — see the
  *     `newWatermark` clamp in [[run]].
  *
  * On a JDBC source neither pass pushes the delta predicate down: pass A
  * must see every row for the DQ counts and the end-gap bounds, and
  * pass B for the full per-week counts the recompute needs.
  *
  * Deliberate divergence: the reference's per-week recompute compares raw
  * timestamps against week-end *midnight* (etl:226,230,234-235), while its
  * own snapshot query buckets by `DATE_TRUNC('week', …)` — the two
  * disagree for intra-day timestamps on the last week day. We use the
  * snapshot's date-truncation semantics in both paths so the incremental
  * state provably converges to the snapshot (the reference's own stated
  * oracle, README.md:67-74).
  */
object IncrementalWeeklySummary {

  val ProcessName = "pagila_weekly_rental_summary" // etl:9

  /** Reference summary schema (etl:43-52), counts widened to LONG. */
  val summarySchema: StructType = StructType(Seq(
    StructField("week_beginning", DateType, nullable = false),
    StructField("OutstandingRentals", LongType, nullable = true),
    StructField("ReturnedRentals", LongType, nullable = true),
    StructField("newly_rented_during_week", LongType, nullable = true),
    StructField("net_change_in_outstanding", LongType, nullable = true),
    StructField("last_updated", TimestampType, nullable = true)))

  /** The summary's storage of record: a manifest-based ACID table keyed
    * on the week, whose commit tag carries the process watermark. */
  def summaryTable(spark: SparkSession, stateDir: String): SnapshotTable =
    new SnapshotTable(spark, s"$stateDir/weekly_rental_summary", "week_beginning")

  /** Watermark ↔ tag encoding: `Timestamp.toString`/`valueOf` round-trip
    * exactly (the session is pinned to UTC, so the wall-clock string is
    * unambiguous). */
  private def tagOf(ts: Timestamp): String = ts.toString

  /** The process watermark — the summary table's current commit tag
    * ([[Watermarks.DefaultStart]] when the table was never committed).
    * There is no separate watermark store to disagree with the summary:
    * both come from one manifest. */
  def watermark(spark: SparkSession, stateDir: String): Timestamp = {
    val t = summaryTable(spark, stateDir)
    if (t.exists) t.currentTag.map(Timestamp.valueOf).getOrElse(Watermarks.DefaultStart)
    else Watermarks.DefaultStart
  }

  /** The reference's one-row `etl_watermarks` view of the watermark
    * (etl:58-66), derived from the summary commit tag — for the catalog
    * surface and the JDBC rollup sync. */
  def watermarkFrame(spark: SparkSession, stateDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(Row(ProcessName, watermark(spark, stateDir))).asJava, Watermarks.schema)
  }

  /** One incremental run. `now` parameterizes the reference's
    * `CURRENT_TIMESTAMP` audit column for deterministic tests (SURVEY.md F9).
    * `dqGate` receives the source's DQ checks (the rows of
    * [[graft.ops.Profile.rentalDqChecks]]) after pass A and before any
    * state mutation; it throws to abort the run.
    */
  def run(
      spark: SparkSession,
      rental0: DataFrame,
      stateDir: String,
      mode: ConsistencyMode = ConsistencyMode.Faithful,
      now: Timestamp = new Timestamp(System.currentTimeMillis()),
      dqGate: Seq[Row] => Unit = _ => ()): RunReport = {
    import scala.jdk.CollectionConverters._

    // Timestamp normalization (etl:103-108): sources may carry
    // TIMESTAMP_NTZ (e.g. the harness parquet) or tz-aware timestamps;
    // with the session pinned to UTC this cast is the wall-clock identity
    // and makes driver-side scalar extraction (`getTimestamp`) uniform.
    val rental = Seq("rental_date", "return_date", "last_update")
      .foldLeft(rental0)((df, c) => df.withColumn(c, col(c).cast(TimestampType)))

    val table = summaryTable(spark, stateDir)
    // pin the base version: the merge below is compare-and-swap against
    // it, so a concurrent run fails loudly instead of losing an update
    val baseVersion = table.currentVersion

    // -- step 1: target state from the manifest. Empty target ⇒
    // watermark resets to DefaultStart (etl:68-85) — with the watermark
    // riding the summary commit, the reset is a READ rule, not a write:
    // an empty summary cannot carry a meaningful watermark.
    val targetEmpty = baseVersion.isEmpty || table.countRows() == 0
    val previousWatermark =
      if (targetEmpty) Watermarks.DefaultStart
      else watermark(spark, stateDir)
    val maxTargetWeek: Option[Date] =
      if (targetEmpty) None else table.keyMax().map(_.asInstanceOf[Date])

    // -- step 2: pass A. Every non-null last_update is ≤ the max it
    // rides with, so `last_update > wm` counts exactly the rows of the
    // extract window (wm, max] (empty when max ≤ wm).
    val wk = WeeklySummary.weekStart _
    val activity = greatest(col("rental_date"), coalesce(col("return_date"), col("rental_date")))
    val probes = Profile.rentalDqAggs ++ Seq(
      max(col("last_update")).as("max_update"),
      wk(to_date(max(activity))).as("max_activity_week"),
      wk(to_date(min(when(col("rental_date").isNotNull, activity)))).as("min_activity_week"),
      count(when(col("last_update") > lit(previousWatermark), 1)).as("delta_rows"))
    val a = rental.agg(probes.head, probes.tail: _*)
      .select(Profile.rentalDqVerdicts, col("max_update"), col("max_activity_week"),
        col("min_activity_week"), col("delta_rows"))
      .head()
    dqGate(a.getSeq[Row](0))
    val currentMax = Option(a.getTimestamp(1)).getOrElse(previousWatermark) // etl:109-111
    // Monotone watermark (deliberate divergence, documented): the
    // reference sets watermark = MAX(last_update) unconditionally, so a
    // source whose max moves BACKWARDS (rows deleted at the source —
    // the reference's own documented hole, README.md:118-130) would
    // LOWER the watermark and re-open already-processed deltas on every
    // subsequent run. A lower watermark can never reveal new rows (the
    // delta window is (wm, max], empty when max ≤ wm), so clamping to
    // the previous watermark changes no processed data — it only stops
    // the re-opening. The guard is the one-liner the r13 verdict asked
    // to make explicit.
    //
    // RESIDUAL MISS WINDOW (real divergence, not a pure no-op): after a
    // source-max REGRESSION (erasure dropped the T10 rows, max now T8),
    // a late row arriving with last_update T9 sits below the clamped
    // watermark (T10) and is never picked up — whereas the reference's
    // unclamped watermark would re-open the window and process it, at
    // the cost of re-processing everything on every run meanwhile. If
    // erasure-driven regressions are expected AND sources backfill
    // below them, compare deltas by content (or reset the watermark
    // alongside the erasure); the clamp assumes last_update is
    // assigned monotonically by the source, as the reference does.
    val newWatermark =
      if (currentMax.after(previousWatermark)) currentMax else previousWatermark
    val deltaRows = a.getLong(4)

    // -- end-gap backfill weeks (etl:148-194), on the driver
    val maxActivityWeek = Option(a.getDate(2)).map(_.toLocalDate)
    val backfillStart: Option[LocalDate] = maxActivityWeek.flatMap { maxW =>
      maxTargetWeek.map(_.toLocalDate) match {
        case None => Option(a.getDate(3)).map(_.toLocalDate)
        case Some(t) if t.isBefore(maxW) => Some(t.plusWeeks(1))
        case _ => None
      }
    }
    val backfillWeeks = (backfillStart, maxActivityWeek) match {
      case (Some(s), Some(e)) => mondays(s, e)
      case _ => Nil
    }

    // -- step 3: pass B, run on first use: by the changed weeks when the
    // delta has rows, by the recompute when only the end gap is open.
    // The flag is the extract predicate itself, so a row with a null
    // last_update stays out of the delta.
    lazy val counts = WeeklySummary.weekCounts(rental, None, Some(
      col("last_update") > lit(previousWatermark) && col("last_update") <= lit(currentMax)))
      .localCheckpoint()
    // weeks touched by the delta (etl:131-146) ∪ backfill (etl:196-200)
    val changedWeeks =
      if (deltaRows == 0) Nil
      else counts.filter(col("f_rented") > 0 || col("f_returned") > 0)
        .select(col("week_beginning")).collect().map(_.getDate(0).toLocalDate).toSeq
    val affectedNarrow = (changedWeeks ++ backfillWeeks).distinct

    if (affectedNarrow.isEmpty) {
      // -- step 4, etl:202-213 — bump watermark, nothing to process: a tag-only
      // commit on the summary table (no data files). An empty source
      // over a never-committed table has nothing to record — stay
      // write-free (the watermark read rule already yields DefaultStart).
      if (table.exists) {
        if (!table.currentTag.contains(tagOf(newWatermark))) table.setTag(tagOf(newWatermark))
      } else if (newWatermark.after(Watermarks.DefaultStart)) {
        table.create(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], summarySchema), tagOf(newWatermark))
      }
      return RunReport(previousWatermark, newWatermark, deltaRows, 0, processed = false)
    }

    val affected = mode match {
      case ConsistencyMode.Faithful => affectedNarrow
      case ConsistencyMode.Strict =>
        val minAffected = affectedNarrow.minBy(_.toEpochDay)
        mondays(minAffected, maxActivityWeek.getOrElse(minAffected))
    }

    // -- step 5: recompute all affected weeks in one plan (etl:216-244),
    // materialized once as a local frame so the commit's jobs never
    // re-derive it
    val weeks = spark.createDataFrame(affected.map(w => Row(Date.valueOf(w))).asJava,
      StructType(Seq(StructField("week_beginning", DateType))))
    val stats = WeeklySummary.statsFromCounts(counts, weeks)
      .select(
        col("week_beginning"),
        col("outstanding_rentals_at_week_end").as("OutstandingRentals"),
        col("returned_rentals_during_week").as("ReturnedRentals"),
        col("newly_rented_during_week"),
        col("net_change_in_outstanding"),
        lit(now).as("last_updated"))
    val recomputed = spark.createDataFrame(stats.collect().toSeq.asJava, stats.schema)

    // -- step 6/7: upsert + watermark advance as ONE atomic commit
    // (etl:249-284; the reference's single transaction, etl:272). merge
    // is file-pruned copy-on-write: weeks outside the affected range
    // carry forward by reference ([[SnapshotTable]]); statsFromCounts
    // returns exactly one row per affected week (it semi-joins back to
    // the requested weeks), so the keyed merge is result-identical to
    // anti-join-then-union.
    if (targetEmpty) table.create(recomputed, tagOf(newWatermark))
    else table.merge(recomputed, expectedVersion = baseVersion, tag = tagOf(newWatermark))

    RunReport(previousWatermark, newWatermark, deltaRows, affectedNarrow.size, processed = true)
  }

  /** Mondays from `start` to `end`, both inclusive — the reference's
    * while-loop week enumeration (etl:187-191). */
  private def mondays(start: LocalDate, end: LocalDate): Seq[LocalDate] =
    Iterator.iterate(start)(_.plusWeeks(1)).takeWhile(!_.isAfter(end)).toSeq

  /** Current materialized summary (empty frame when never run). */
  def readSummary(spark: SparkSession, stateDir: String): DataFrame = {
    val t = summaryTable(spark, stateDir)
    if (t.exists) t.read()
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], summarySchema)
  }
}
