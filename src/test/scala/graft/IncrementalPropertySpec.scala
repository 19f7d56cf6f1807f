package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental._
import graft.ops.WeeklySummary
import TestSpark._

/** Property: for any rental log whose `last_update` tracks activity time
  * (the reference's intended CDC contract, README.md:100-103 "last_update
  * must be updated to the current time"), replaying the log in arbitrary
  * batch splits through the incremental pipeline converges to the snapshot
  * query over the final source — README.md:67-74's dual-implementation
  * oracle, mechanized (SURVEY.md §5).
  *
  * Uses raw ScalaCheck generators with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline artifact cache).
  */
class IncrementalPropertySpec extends AnyFunSuite {

  private val base = ts("2022-01-03 00:00:00").getTime
  private val day = 86400000L

  /** (id, rentalDay, returnDelay: None=open) over a ~20-week range. */
  private val logGen: Gen[List[(Long, Int, Option[Int])]] =
    Gen.chooseNum(1, 25).flatMap { n =>
      Gen.sequence[List[(Long, Int, Option[Int])], (Long, Int, Option[Int])](
        (1 to n).map { id =>
          for {
            rd <- Gen.chooseNum(0, 140)
            ret <- Gen.option(Gen.chooseNum(0, 60))
          } yield (id.toLong, rd, ret)
        }.toList)
    }

  private val cutsGen: Gen[List[Int]] =
    Gen.chooseNum(1, 4).flatMap(k => Gen.listOfN(k, Gen.chooseNum(0, 210)))

  test("incremental replay converges to snapshot (random logs, random batches)") {
    for (trial <- 1 to 8) {
      val rows = logGen.pureApply(Gen.Parameters.default, Seed(trial.toLong))
      val cuts = cutsGen.pureApply(Gen.Parameters.default, Seed(1000L + trial))

      val versions = rows.flatMap { case (id, rd, ret) =>
        val rdTs = new Timestamp(base + rd * day)
        val v1 = RentalVersion(id, rdTs, None, rdTs)
        ret match {
          case Some(delay) =>
            val retTs = new Timestamp(base + (rd + delay) * day)
            // activity-time CDC: the return version carries last_update =
            // greatest(rental, return), like Tables.rental's view
            List(v1, RentalVersion(id, rdTs, Some(retTs),
              new Timestamp(math.max(rdTs.getTime, retTs.getTime))))
          case None => List(v1)
        }
      }
      val log = rentalDf(versions)
      val dir = TestSpark.tempDir("graft-prop").toString
      val orderedCuts = (cuts.map(c => new Timestamp(base + c * day)) :+
        new Timestamp(base + 250 * day)).sortBy(_.getTime)
      orderedCuts.foreach { t =>
        IncrementalWeeklySummary.run(spark, sourceAsOf(log, t), dir, now = ts("2030-01-01 00:00:00"))
      }
      val finalSource = sourceAsOf(log, orderedCuts.last)
      val maxW = finalSource
        .agg(WeeklySummary.weekStart(to_date(max(
          greatest(col("rental_date"), coalesce(col("return_date"), col("rental_date")))))))
        .head().getDate(0)
      val expected = WeeklySummary.snapshot(finalSource, SparkEntry.AsOf)
        .filter(col("week_beginning") <= lit(maxW))
      val got = IncrementalWeeklySummary.readSummary(spark, dir).select(
        col("week_beginning"),
        col("newly_rented_during_week"),
        col("ReturnedRentals").as("returned_rentals_during_week"),
        col("net_change_in_outstanding"),
        col("OutstandingRentals").as("outstanding_rentals_at_week_end"))
      withClue(s"trial $trial (rows=${rows.size}, cuts=$cuts): ") {
        assertSameRows(got, expected)
      }
    }
  }

  /** The run before its two-pass fold: each step its own action over
    * the source (max probe, activity-week probes, delta extract and
    * count, affected-week derivation, recompute). Kept as the reference
    * the fused [[IncrementalWeeklySummary.run]] must match. */
  private def unfusedRun(rental0: DataFrame, stateDir: String, mode: ConsistencyMode,
      now: Timestamp): RunReport = {
    val rental = Seq("rental_date", "return_date", "last_update")
      .foldLeft(rental0)((df, c) => df.withColumn(c, col(c).cast(TimestampType)))
    def weekRange(start: Date, end: Date): DataFrame = spark.range(1).select(
      explode(sequence(lit(start), lit(end), expr("INTERVAL 7 DAYS"))).as("week_beginning"))
    val table = IncrementalWeeklySummary.summaryTable(spark, stateDir)
    val baseVersion = table.currentVersion
    val summary = IncrementalWeeklySummary.readSummary(spark, stateDir)
    val targetEmpty = summary.limit(1).isEmpty
    val previousWatermark =
      if (targetEmpty) Watermarks.DefaultStart
      else IncrementalWeeklySummary.watermark(spark, stateDir)
    val currentMax = Option(rental.agg(max(col("last_update"))).head().getTimestamp(0))
      .getOrElse(previousWatermark)
    val newWatermark =
      if (currentMax.after(previousWatermark)) currentMax else previousWatermark
    val delta =
      if (currentMax.after(previousWatermark))
        rental.filter(col("last_update") > lit(previousWatermark) &&
          col("last_update") <= lit(currentMax))
      else rental.limit(0)
    val wk = WeeklySummary.weekStart _
    val changedWeeks = delta
      .select(wk(to_date(col("rental_date"))).as("week_beginning"))
      .filter(col("week_beginning").isNotNull)
      .union(delta.filter(col("return_date").isNotNull)
        .select(wk(to_date(col("return_date"))).as("week_beginning")))
      .distinct()
    val activity = greatest(col("rental_date"), coalesce(col("return_date"), col("rental_date")))
    val maxActivityWeek = Option(rental.agg(wk(to_date(max(activity)))).head().getDate(0))
    val maxTargetWeek = Option(summary.agg(max(col("week_beginning"))).head().getDate(0))
    val backfillStart: Option[Date] = maxActivityWeek.flatMap { maxW =>
      maxTargetWeek match {
        case None => Option(rental.filter(col("rental_date").isNotNull)
          .agg(wk(to_date(min(activity)))).head().getDate(0))
        case Some(t) if t.toLocalDate.isBefore(maxW.toLocalDate) =>
          Some(Date.valueOf(t.toLocalDate.plusWeeks(1)))
        case _ => None
      }
    }
    val backfillWeeks = (backfillStart, maxActivityWeek) match {
      case (Some(s), Some(e)) => weekRange(s, e)
      case _ => changedWeeks.limit(0)
    }
    val affectedNarrow = changedWeeks.union(backfillWeeks).distinct().cache()
    val nAffected = affectedNarrow.count()
    val tag = newWatermark.toString
    try {
      if (nAffected == 0) {
        if (table.exists) {
          if (!table.currentTag.contains(tag)) table.setTag(tag)
        } else if (newWatermark.after(Watermarks.DefaultStart)) {
          table.create(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            IncrementalWeeklySummary.summarySchema), tag)
        }
        RunReport(previousWatermark, newWatermark, delta.count(), 0, processed = false)
      } else {
        val affected = mode match {
          case ConsistencyMode.Faithful => affectedNarrow
          case ConsistencyMode.Strict =>
            val lo = affectedNarrow.agg(min(col("week_beginning"))).head().getDate(0)
            weekRange(lo, maxActivityWeek.getOrElse(lo))
        }
        val recomputed = WeeklySummary.statsForWeeks(rental, affected).select(
          col("week_beginning"),
          col("outstanding_rentals_at_week_end").as("OutstandingRentals"),
          col("returned_rentals_during_week").as("ReturnedRentals"),
          col("newly_rented_during_week"),
          col("net_change_in_outstanding"),
          lit(now).as("last_updated"))
        if (targetEmpty) table.create(recomputed, tag)
        else table.merge(recomputed, expectedVersion = baseVersion, tag = tag)
        RunReport(previousWatermark, newWatermark, delta.count(), nAffected, processed = true)
      }
    } finally affectedNarrow.unpersist()
  }

  /** A generated rental: the day it arrives, whether its rental_date is
    * null (else the arrival day), its return delay (None = still open),
    * a null last_update, and how many days its last_update lags its
    * arrival (a late, backdated edit). */
  private final case class Rental(id: Long, day: Int, rdNull: Boolean, ret: Option[Int],
      luNull: Boolean, luBehind: Int)
  private val messyGen: Gen[List[Rental]] =
    Gen.chooseNum(1, 20).flatMap { n =>
      Gen.sequence[List[Rental], Rental]((1 to n).map { id =>
        for {
          day <- Gen.chooseNum(0, 140)
          rdNull <- Gen.frequency(6 -> false, 1 -> true)
          ret <- Gen.option(Gen.chooseNum(0, 60))
          luNull <- Gen.frequency(6 -> false, 1 -> true)
          behind <- Gen.frequency(4 -> Gen.const(0), 1 -> Gen.chooseNum(1, 30))
        } yield Rental(id.toLong, day, rdNull, ret, luNull, behind)
      }.toList)
    }

  test("two-pass run equals the unfused derivation: reports, summaries, watermarks") {
    // trial 0 pins the edges: a null-rental_date return before every
    // rental (it must not open the first backfill), a null last_update,
    // a backdated edit
    val edges = List(Rental(1, 0, rdNull = true, Some(0), luNull = false, 0),
      Rental(2, 20, rdNull = false, Some(30), luNull = true, 0),
      Rental(3, 40, rdNull = false, Some(5), luNull = false, 25),
      Rental(4, 90, rdNull = false, None, luNull = false, 0))
    for (trial <- 0 to 5; mode <- Seq(ConsistencyMode.Faithful, ConsistencyMode.Strict)) {
      val rentals =
        if (trial == 0) edges else messyGen.pureApply(Gen.Parameters.default, Seed(500L + trial))
      val cuts =
        if (trial == 0) List(60) else cutsGen.pureApply(Gen.Parameters.default, Seed(600L + trial))
      // a rental shows as open from its day and as returned from its
      // return; last_update is that version's day minus the lag, or null
      def at(d: Int) = new Timestamp(base + d * day)
      def source(cut: Int): DataFrame = rentalDf(rentals.flatMap { r =>
        val lu = (d: Int) => if (r.luNull) null else at(d - r.luBehind)
        val rd = if (r.rdNull) null else at(r.day)
        r.ret.map(r.day + _).filter(_ <= cut)
          .map(back => RentalVersion(r.id, rd, Some(at(back)), lu(back)))
          .orElse(Option.when(r.day <= cut)(RentalVersion(r.id, rd, None, lu(r.day))))
      })
      val (dirRef, dirNew) = (TestSpark.tempDir("graft-eq-ref").toString,
        TestSpark.tempDir("graft-eq-new").toString)
      // the repeated last cut is a no-op rerun
      val runCuts = cuts.sorted ++ Seq(250, 250)
      runCuts.zipWithIndex.foreach { case (cut, i) =>
        val now = new Timestamp(ts("2030-01-01 00:00:00").getTime + i * day)
        val expect = unfusedRun(source(cut), dirRef, mode, now)
        val got = IncrementalWeeklySummary.run(spark, source(cut), dirNew, mode, now)
        withClue(s"trial $trial $mode cut $cut (rentals=$rentals): ") {
          assert(got === expect)
          val (ref, fused) = (IncrementalWeeklySummary.summaryTable(spark, dirRef),
            IncrementalWeeklySummary.summaryTable(spark, dirNew))
          assert(fused.exists === ref.exists)
          if (ref.exists) {
            assert(fused.currentTag === ref.currentTag)
            assert(fused.schema === ref.schema)
            assert(collectSorted(fused.read()) == collectSorted(ref.read()))
          }
        }
      }
    }
  }

  test("summary and watermark advance as ONE atomic commit — a torn commit rolls back both") {
    // The reference commits summary + watermark in ONE Postgres
    // transaction (etl:272). The pre-r13 sink swapped two directories
    // independently, so a crash could land between them (summary
    // advanced, watermark behind) and this spec pinned the convergent
    // REPAIR. The watermark now rides the summary commit as the
    // SnapshotTable tag, so that torn state is structurally impossible
    // — there is no independent watermark left to rewind. Pin the
    // stronger invariant instead:
    //  (a) every committed version carries its run's watermark in the
    //      SAME manifest as its rows, so time travel yields consistent
    //      (summary, watermark) pairs at every version;
    //  (b) a commit torn mid-write (exactly what a crash leaves: a
    //      claimed, unterminated manifest + orphaned data files) is
    //      invisible — summary AND watermark both still read the
    //      pre-crash state, together — and a re-run converges.
    for (trial <- 1 to 3) {
      val rows = logGen.pureApply(Gen.Parameters.default, Seed(9000L + trial))
      val versions = rows.flatMap { case (id, rd, ret) =>
        val rdTs = new Timestamp(base + rd * day)
        val v1 = RentalVersion(id, rdTs, None, rdTs)
        ret match {
          case Some(delay) =>
            val retTs = new Timestamp(base + (rd + delay) * day)
            List(v1, RentalVersion(id, rdTs, Some(retTs),
              new Timestamp(math.max(rdTs.getTime, retTs.getTime))))
          case None => List(v1)
        }
      }
      val log = rentalDf(versions)
      val dir = TestSpark.tempDir("graft-crash").toString
      val t1 = new Timestamp(base + 70 * day)
      val t2 = new Timestamp(base + 250 * day)
      val now = ts("2030-01-01 00:00:00")

      IncrementalWeeklySummary.run(spark, sourceAsOf(log, t1), dir, now = now)
      val table = IncrementalWeeklySummary.summaryTable(spark, dir)
      val v1Version = table.currentVersion.get
      val wm1 = IncrementalWeeklySummary.watermark(spark, dir)
      val summary1 = collectSorted(IncrementalWeeklySummary.readSummary(spark, dir))

      // a t2 run crashed mid-commit: claimed manifest, body never
      // terminated (plus data-file orphans we don't bother planting —
      // they are invisible by construction and vacuum-reclaimable)
      Files.writeString(
        java.nio.file.Paths.get(dir, "weekly_rental_summary", "manifests",
          f"v${v1Version + 1}%019d.json"),
        s"#graft-snapshot 1\n#parent $v1Version\n#op merge\n#tag $t2\n")
      // (b) both facts still read the PRE-crash state — neither can be
      // ahead of the other, they are one manifest
      assert(IncrementalWeeklySummary.watermark(spark, dir) === wm1)
      assert(collectSorted(IncrementalWeeklySummary.readSummary(spark, dir)) == summary1)

      // recovery re-run over the same source claims past the torn
      // version and commits rows + watermark together
      val r = IncrementalWeeklySummary.run(spark, sourceAsOf(log, t2), dir, now = now)
      val wm2 = IncrementalWeeklySummary.watermark(spark, dir)
      assert(wm2 === r.newWatermark, "watermark must re-advance")

      // (a) time travel: the t1 version still carries the t1 watermark
      // and the t1 rows — one consistent fact set per version
      assert(table.tagAt(v1Version).contains(wm1.toString))
      assert(collectSorted(table.readVersion(v1Version)) == summary1)

      val finalSource = sourceAsOf(log, t2)
      val maxW = finalSource
        .agg(WeeklySummary.weekStart(to_date(max(
          greatest(col("rental_date"), coalesce(col("return_date"), col("rental_date")))))))
        .head().getDate(0)
      val expected = WeeklySummary.snapshot(finalSource, SparkEntry.AsOf)
        .filter(col("week_beginning") <= lit(maxW))
      val got = IncrementalWeeklySummary.readSummary(spark, dir).select(
        col("week_beginning"),
        col("newly_rented_during_week"),
        col("ReturnedRentals").as("returned_rentals_during_week"),
        col("net_change_in_outstanding"),
        col("OutstandingRentals").as("outstanding_rentals_at_week_end"))
      withClue(s"crash trial $trial: ") { assertSameRows(got, expected) }
    }
  }

  test("run log appends one auditable row per run with monotone watermarks") {
    // deterministic two-phase log: one rental before the t1 cut, one
    // between t1 and t2, so BOTH runs process a non-empty delta
    val log = rentalDf(Seq(
      RentalVersion(1, new Timestamp(base + 10 * day), None, new Timestamp(base + 10 * day)),
      RentalVersion(2, new Timestamp(base + 100 * day), None, new Timestamp(base + 100 * day))))
    val dir = TestSpark.tempDir("graft-runlog").toString
    val t1 = new Timestamp(base + 70 * day)
    val t2 = new Timestamp(base + 250 * day)
    val r1 = IncrementalWeeklySummary.run(spark, sourceAsOf(log, t1), dir,
      now = ts("2030-01-01 00:00:00"))
    RunLog.append(spark, dir, r1, ts("2030-01-01 00:00:00"))
    val r2 = IncrementalWeeklySummary.run(spark, sourceAsOf(log, t2), dir,
      now = ts("2030-01-02 00:00:00"))
    RunLog.append(spark, dir, r2, ts("2030-01-02 00:00:00"))

    val audit = RunLog.read(spark, dir)
      .orderBy(col("run_ts")).collect()
    assert(audit.length === 2)
    assert(audit(0).getAs[Timestamp]("new_watermark") ===
      audit(1).getAs[Timestamp]("previous_watermark"),
      "run N+1 must start where run N committed")
    assert(audit.forall(_.getAs[Boolean]("processed")))
  }

  test("catalog DDL registers state tables queryable by name (S4)") {
    val rows = logGen.pureApply(Gen.Parameters.default, Seed(77L))
    val versions = rows.map { case (id, rd, _) =>
      val rdTs = new Timestamp(base + rd * day)
      RentalVersion(id, rdTs, None, rdTs)
    }
    val dir = TestSpark.tempDir("graft-ddl").toString
    IncrementalWeeklySummary.run(spark, rentalDf(versions), dir,
      now = ts("2030-01-01 00:00:00"))
    RunLog.append(spark, dir,
      RunReport(Watermarks.DefaultStart, ts("2030-01-01 00:00:00"), 1, 1, processed = true),
      ts("2030-01-01 00:00:00"))
    try {
      CatalogDdl.registerStateTables(spark, dir)
      // registration is metadata-only and idempotent
      CatalogDdl.registerStateTables(spark, dir)
      val viaSql = spark.sql(
        "SELECT count(*) FROM weekly_rental_summary").head().getLong(0)
      assert(viaSql === IncrementalWeeklySummary.readSummary(spark, dir).count())
      assert(viaSql > 0)
      val wm = spark.sql(
        s"SELECT last_successful_update_timestamp FROM etl_watermarks " +
          s"WHERE process_name = '${IncrementalWeeklySummary.ProcessName}'")
      assert(wm.count() === 1)
      // the run log registers through the literal CREATE TABLE IF NOT
      // EXISTS … LOCATION DDL (plain parquet — no manifest to resolve)
      assert(spark.sql("SELECT count(*) FROM etl_run_log").head().getLong(0) === 1)
    } finally {
      spark.sql("DROP VIEW IF EXISTS weekly_rental_summary")
      spark.sql("DROP VIEW IF EXISTS etl_watermarks")
      spark.sql("DROP TABLE IF EXISTS etl_run_log")
    }
  }
}
