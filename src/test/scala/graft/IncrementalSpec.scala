package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental._
import graft.ops.WeeklySummary
import TestSpark._

/** The incremental protocol (etl_script_incremental_pandas.py:24-298):
  * empty-target bootstrap, delta-batched convergence to the snapshot
  * (README.md:67-74's dual-implementation oracle), idempotent no-op runs
  * with watermark advance, empty source, and the Faithful-vs-Strict
  * staleness behavior on backdated edits.
  */
class IncrementalSpec extends AnyFunSuite {
  private val now = ts("2030-01-01 00:00:00")

  private def freshDir(): String =
    TestSpark.tempDir("graft-inc").toString

  /** Summary columns comparable to snapshot output (drop audit column). */
  private def comparable(summary: DataFrame): DataFrame =
    summary.select(
      col("week_beginning"),
      col("newly_rented_during_week"),
      col("ReturnedRentals").as("returned_rentals_during_week"),
      col("net_change_in_outstanding"),
      col("OutstandingRentals").as("outstanding_rentals_at_week_end"))

  /** Snapshot truth restricted to weeks ≤ max activity week (the
    * incremental path never writes past the last activity,
    * etl:151-158 vs reference_query.sql:5-8). */
  private def expectedAfterFullLoad(source: DataFrame): DataFrame = {
    val maxW = source
      .agg(WeeklySummary.weekStart(to_date(max(
        greatest(col("rental_date"), coalesce(col("return_date"), col("rental_date")))))))
      .head().getDate(0)
    WeeklySummary.snapshot(source, SparkEntry.AsOf)
      .filter(col("week_beginning") <= lit(maxW))
  }

  private val log = rentalDf(Seq(
    RentalVersion(1, ts("2022-01-04"), None, ts("2022-01-04")),
    RentalVersion(1, ts("2022-01-04"), Some(ts("2022-01-12")), ts("2022-01-12")),
    RentalVersion(2, ts("2022-01-05"), None, ts("2022-01-05")),
    RentalVersion(3, ts("2022-01-18"), None, ts("2022-01-18")),
    RentalVersion(3, ts("2022-01-18"), Some(ts("2022-02-09")), ts("2022-02-09")),
    RentalVersion(4, ts("2022-02-08"), None, ts("2022-02-08")),
    RentalVersion(4, ts("2022-02-08"), Some(ts("2022-02-10")), ts("2022-02-10"))))

  test("fused upsert round equals the unfused old-merge-incoming formulation") {
    val t = ts("2022-01-20 00:00:00")
    val fused = WeeklySummary.upsertRound(log, t, SparkEntry.AsOf)
    val old = WeeklySummary.snapshot(
      log.filter(col("last_update") <= lit(t)), SparkEntry.AsOf)
    val incoming = WeeklySummary.statsForWeeks(log,
      graft.ops.ReferenceOps.affectedWeeks(log, t, ts("9999-12-31 00:00:00")))
    val expect = graft.incremental.Upsert.merge(old, incoming, Seq("week_beginning"))
    assertSameRows(fused, expect)
  }

  test("fused upsert round on an empty source is empty, not an error") {
    val out = WeeklySummary.upsertRound(log.limit(0), ts("2022-01-20 00:00:00"), SparkEntry.AsOf)
    assert(out.collect().isEmpty)
  }

  test("first run from empty state materializes full history") {
    val dir = freshDir()
    val source = sourceAsOf(log, ts("2022-03-01"))
    val report = IncrementalWeeklySummary.run(spark, source, dir, now = now)
    assert(report.processed)
    assert(report.previousWatermark == Watermarks.DefaultStart)
    assert(report.newWatermark == ts("2022-02-10"))
    assertSameRows(
      comparable(IncrementalWeeklySummary.readSummary(spark, dir)),
      expectedAfterFullLoad(source))
  }

  test("batched runs converge to the one-shot result") {
    val dir = freshDir()
    val cuts = Seq("2022-01-05", "2022-01-12", "2022-02-09", "2022-03-01").map(ts)
    cuts.foreach { t =>
      IncrementalWeeklySummary.run(spark, sourceAsOf(log, t), dir, now = now)
    }
    val full = sourceAsOf(log, ts("2022-03-01"))
    assertSameRows(
      comparable(IncrementalWeeklySummary.readSummary(spark, dir)),
      expectedAfterFullLoad(full))
  }

  test("no-delta re-run is a no-op that still advances the watermark") {
    val dir = freshDir()
    val source = sourceAsOf(log, ts("2022-03-01"))
    IncrementalWeeklySummary.run(spark, source, dir, now = now)
    val before = collectSorted(IncrementalWeeklySummary.readSummary(spark, dir))
    val report = IncrementalWeeklySummary.run(spark, source, dir, now = ts("2031-01-01 00:00:00"))
    assert(!report.processed && report.affectedWeeks == 0)
    assert(report.newWatermark == ts("2022-02-10"))
    assert(collectSorted(IncrementalWeeklySummary.readSummary(spark, dir)) == before)
  }

  test("watermark is monotone: a source whose max last_update regressed never lowers it") {
    // source-side deletes (the reference's documented hole,
    // README.md:118-130) can make MAX(last_update) move backwards; the
    // watermark must clamp, or every later run re-opens the already-
    // processed window.
    val dir = freshDir()
    val full = sourceAsOf(log, ts("2022-03-01"))
    IncrementalWeeklySummary.run(spark, full, dir, now = now)
    assert(IncrementalWeeklySummary.watermark(spark, dir) == ts("2022-02-10"))
    val before = collectSorted(IncrementalWeeklySummary.readSummary(spark, dir))
    // the newest rows vanish at the source: max last_update drops to 2022-02-08
    val shrunk = full.filter(col("last_update") <= lit(ts("2022-02-08")))
    val report = IncrementalWeeklySummary.run(spark, shrunk, dir, now = now)
    assert(!report.processed)
    assert(report.newWatermark == ts("2022-02-10"), "watermark regressed")
    assert(IncrementalWeeklySummary.watermark(spark, dir) == ts("2022-02-10"))
    assert(collectSorted(IncrementalWeeklySummary.readSummary(spark, dir)) == before)
  }

  test("empty source neither fails nor writes") {
    val dir = freshDir()
    val report = IncrementalWeeklySummary.run(spark, log.limit(0), dir, now = now)
    assert(!report.processed)
    assert(IncrementalWeeklySummary.readSummary(spark, dir).isEmpty)
  }

  test("backdated return edit: Faithful leaves later weeks stale, Strict repairs them") {
    // rental in week 1, open; summary advances to week 5 via another rental;
    // then the week-1 rental's return_date is set to week 2 (backdated edit
    // arriving late, last_update at the edit time = week 5).
    val editLog = rentalDf(Seq(
      RentalVersion(10, ts("2022-01-04"), None, ts("2022-01-04")),
      RentalVersion(11, ts("2022-02-01"), None, ts("2022-02-01")),
      RentalVersion(10, ts("2022-01-04"), Some(ts("2022-01-12")), ts("2022-02-02"))))

    def runBoth(mode: ConsistencyMode): DataFrame = {
      val dir = freshDir()
      IncrementalWeeklySummary.run(spark, sourceAsOf(editLog, ts("2022-02-01")), dir, mode, now)
      IncrementalWeeklySummary.run(spark, sourceAsOf(editLog, ts("2022-03-01")), dir, mode, now)
      IncrementalWeeklySummary.readSummary(spark, dir)
    }

    val truth = expectedAfterFullLoad(sourceAsOf(editLog, ts("2022-03-01")))
    // Strict mode converges to the snapshot truth.
    assertSameRows(comparable(runBoth(ConsistencyMode.Strict)), truth)
    // Faithful mode reproduces the reference's stale-downstream-week
    // behavior: weeks between the edit's return week and the latest
    // activity keep the pre-edit outstanding count.
    val faithful = runBoth(ConsistencyMode.Faithful)
    val stale = faithful.filter(col("week_beginning") === lit(d("2022-01-24")))
      .select(col("OutstandingRentals")).head().getLong(0)
    assert(stale == 1, "reference semantics: untouched week keeps pre-edit count")
    val truthAt = truth.filter(col("week_beginning") === lit(d("2022-01-24")))
      .select(col("outstanding_rentals_at_week_end")).head().getLong(0)
    assert(truthAt == 0)
  }

  test("a processed run reads the source twice, a no-op run once") {
    // a non-deterministic counting filter on a parquet source: every
    // pass over the source runs it once per row, and nothing can cache
    // or fold it away
    val path = s"${freshDir()}/rental.parquet"
    log.write.parquet(path)
    val rows = log.count()
    val scanned = spark.sparkContext.longAccumulator("rental rows scanned")
    val counting = udf(() => { scanned.add(1); true }).asNondeterministic()
    val source = spark.read.parquet(path).filter(counting())
    def passes(mode: ConsistencyMode, dir: String): Long = {
      scanned.reset()
      IncrementalWeeklySummary.run(spark, source, dir, mode, now)
      assert(scanned.value % rows == 0, s"partial pass: ${scanned.value} rows of $rows")
      scanned.value / rows
    }
    val dir = freshDir()
    assert(passes(ConsistencyMode.Faithful, dir) === 2, "processed run")
    assert(passes(ConsistencyMode.Faithful, dir) === 1, "no-op rerun")
    assert(passes(ConsistencyMode.Strict, freshDir()) <= 2, "strict run")
  }

  /** An sf directory whose `Tables.rental` view holds `orders`, each
    * (o_orderkey, o_orderstatus, o_orderdate) with one lineitem shipped
    * two days after the order. */
  private def sfDir(orders: Seq[(java.lang.Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val o = orders.toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    o.write.parquet(s"$dir/orders.parquet")
    o.select(col("o_orderkey").as("l_orderkey"),
      (col("o_orderdate") + expr("INTERVAL 2 DAYS")).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def withGate[A](gate: String)(body: => A): A = {
    sys.props("SPARK_GRAFT_DQ_GATE") = gate
    try body
    finally {
      sys.props.remove("SPARK_GRAFT_DQ_GATE")
      spark.sql("DROP VIEW IF EXISTS weekly_rental_summary")
      spark.sql("DROP VIEW IF EXISTS etl_watermarks")
      spark.sql("DROP TABLE IF EXISTS etl_run_log")
    }
  }

  test("DQ gate=fail: a null rental_id aborts the embedded main before any state change") {
    val clean = Seq[(java.lang.Long, String, String)](
      (1L, "F", "2024-01-02"), (2L, "O", "2024-01-10"))
    val state = freshDir()
    withGate("fail") {
      IncrementalRun.main(Array(sfDir(clean), state))
      val table = IncrementalWeeklySummary.summaryTable(spark, state)
      val (version, wm) = (table.currentVersion, IncrementalWeeklySummary.watermark(spark, state))
      assert(version.isDefined && RunLog.read(spark, state).count() === 1)
      // a newer order with a null key: a delta to process, but a
      // REQUIRED completeness check fails
      val dirty = sfDir(clean :+ ((null, "O", "2024-01-20")))
      val e = intercept[GraftSession.RunFailed](IncrementalRun.main(Array(dirty, state)))
      assert(e.code === 2)
      assert(table.currentVersion === version)
      assert(IncrementalWeeklySummary.watermark(spark, state) === wm)
      assert(RunLog.read(spark, state).count() === 1)
      // warn reports the same failure and processes the delta
      sys.props("SPARK_GRAFT_DQ_GATE") = "warn"
      IncrementalRun.main(Array(dirty, state))
      assert(table.currentVersion.get > version.get)
      assert(RunLog.read(spark, state).count() === 2)
    }
  }

  test("an unknown DQ gate value errors instead of degrading to warn") {
    val state = freshDir()
    val e = withGate("wran") {
      intercept[RuntimeException](IncrementalRun.main(Array(sfDir(Seq((1L, "O", "2024-01-02"))), state)))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_DQ_GATE must be warn|fail|off"))
    assert(!IncrementalWeeklySummary.summaryTable(spark, state).exists)
  }
}
