package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.WeeklySummary
import graft.streaming.WeeklySummaryStream
import TestSpark._

/** The Structured Streaming maintenance path: replay a CDC log file by
  * file, converge to the batch snapshot, retract on late updates, and
  * stay idempotent on micro-batch replay.
  */
class StreamingSpec extends AnyFunSuite {

  private val log = Seq(
    // file 1: two open rentals
    Seq(
      RentalVersion(1, ts("2022-01-04"), None, ts("2022-01-04")),
      RentalVersion(2, ts("2022-01-12"), None, ts("2022-01-12"))),
    // file 2: rental 1 returns; new rental 3
    Seq(
      RentalVersion(1, ts("2022-01-04"), Some(ts("2022-01-20")), ts("2022-01-20")),
      RentalVersion(3, ts("2022-02-01"), None, ts("2022-02-01"))),
    // file 3: late backdated edit — rental 2's return lands in the past
    Seq(
      RentalVersion(2, ts("2022-01-12"), Some(ts("2022-01-13")), ts("2022-02-05"))))

  /** One real parquet FILE per log segment at the stream-source root
    * (the file source does not descend into nested directories). */
  private def writeLog(dir: String): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    log.zipWithIndex.foreach { case (rows, i) =>
      val tmp = TestSpark.tempDir("graft-logseg").toString
      rentalDf(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/f$i.parquet"))
    }
  }

  test("streamed CDC replay converges to the batch snapshot") {
    val base = TestSpark.tempDir("graft-stream").toString
    val logDir = s"$base/log"; val stateDir = s"$base/state"; val ckpt = s"$base/ckpt"
    writeLog(logDir)

    val q = WeeklySummaryStream.start(spark, logDir, stateDir, ckpt)
    q.awaitTermination()

    val finalSource = sourceAsOf(rentalDf(log.flatten), ts("2022-12-31"))
    // the stream's spine spans every week with a contribution (rented,
    // returned, or closed), not just "activity" (= greatest) weeks
    val activityWeeks = finalSource
      .select(WeeklySummary.weekStart(col("rental_date")).as("w"))
      .union(finalSource.filter(col("return_date").isNotNull)
        .select(WeeklySummary.weekStart(col("return_date")).as("w")))
      .union(finalSource.select(WeeklySummary.weekStart(greatest(col("rental_date"),
        coalesce(col("return_date"), col("rental_date")))).as("w")))
    val lo = activityWeeks.agg(min("w")).head().getDate(0)
    val hi = activityWeeks.agg(max("w")).head().getDate(0)
    val expected = WeeklySummary.snapshot(finalSource, SparkEntry.AsOf)
      .filter(col("week_beginning").between(lit(lo), lit(hi)))

    assertSameRows(WeeklySummaryStream.summary(spark, stateDir), expected)
  }

  test("late backdated edit is retracted exactly (no residue weeks)") {
    val base = TestSpark.tempDir("graft-stream2").toString
    val logDir = s"$base/log"; val stateDir = s"$base/state"; val ckpt = s"$base/ckpt"
    writeLog(logDir)
    WeeklySummaryStream.start(spark, logDir, stateDir, ckpt).awaitTermination()
    val out = WeeklySummaryStream.summary(spark, stateDir)
    // rental 2 returned 2022-01-13 (week 01-10): outstanding at week
    // 01-24 end is rental 3 not yet rented, rental 1 returned 01-20,
    // rental 2 returned -> 0
    val at0124 = out.filter(col("week_beginning") === lit(d("2022-01-24")))
      .select("outstanding_rentals_at_week_end").head().getLong(0)
    assert(at0124 == 0)
    // and during week 01-10..01-16 rentals 1 is the only one still out
    val at0110 = out.filter(col("week_beginning") === lit(d("2022-01-10")))
      .select("outstanding_rentals_at_week_end").head().getLong(0)
    assert(at0110 == 1)
  }

  test("replayed micro-batch does not double-apply (batch-id dedup)") {
    val base = TestSpark.tempDir("graft-stream3").toString
    val logDir = s"$base/log"; val stateDir = s"$base/state"; val ckpt = s"$base/ckpt"
    writeLog(logDir)
    WeeklySummaryStream.start(spark, logDir, stateDir, ckpt).awaitTermination()
    val before = collectSorted(WeeklySummaryStream.summary(spark, stateDir))
    // replay an already-applied batch id with fabricated deltas
    val s = spark
    import s.implicits._
    val fake = Seq((d("2022-01-03"), 100L, 0L, 0L)).toDF("week", "dRented", "dReturned", "dClosed")
    WeeklySummaryStream.mergeBatch(spark, fake, stateDir, batchId = 0)
    assert(collectSorted(WeeklySummaryStream.summary(spark, stateDir)) == before)
  }
}
