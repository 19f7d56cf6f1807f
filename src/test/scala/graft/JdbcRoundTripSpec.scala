package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.IncrementalWeeklySummary
import graft.sources.JdbcUpsert

import TestSpark._

/** End-to-end JDBC round trip over embedded Derby — the full Airflow
  * deployment shape (source DB → incremental pipeline → rollup DB) that
  * the DAG wires via env vars, exercised in-process: rental rows live
  * in a REAL database, the pipeline reads them over `spark.read.jdbc`,
  * and the summary upserts back over JDBC. Asserts the JDBC-sourced run
  * converges to the same state as the parquet-sourced run. */
class JdbcRoundTripSpec extends AnyFunSuite {

  System.setProperty("derby.system.home",
    TestSpark.tempDir("graft-derby-rt").toString)

  private val url = "jdbc:derby:memory:graftRoundTrip;create=true"

  private val rentalSchema = StructType(Seq(
    StructField("rental_id", LongType, nullable = false),
    StructField("rental_date", TimestampType, nullable = true),
    StructField("return_date", TimestampType, nullable = true),
    StructField("last_update", TimestampType, nullable = true)))

  private val log = Seq(
    RentalVersion(1, ts("2024-01-01 10:00:00"), None, ts("2024-01-01 10:00:00")),
    RentalVersion(1, ts("2024-01-01 10:00:00"), Some(ts("2024-01-09 09:00:00")), ts("2024-01-09 09:00:00")),
    RentalVersion(2, ts("2024-01-03 12:00:00"), None, ts("2024-01-03 12:00:00")),
    RentalVersion(3, ts("2024-01-16 08:00:00"), Some(ts("2024-01-17 08:00:00")), ts("2024-01-17 08:00:00")))

  test("incremental run over a JDBC source equals the same run over a DataFrame") {
    // seed the source database through the upsert sink (keyed on the
    // version key so every log row survives)
    val versioned = sourceAsOf(rentalDf(log), ts("2024-12-31"))
    val conn = DriverManager.getConnection(url)
    try JdbcUpsert.createTableIfAbsent(conn, "rental", rentalSchema, Seq("rental_id"))
    finally conn.close()
    JdbcUpsert.upsert(versioned.select(
      col("rental_id"), col("rental_date"), col("return_date"), col("last_update")),
      url, "rental", Seq("rental_id"))

    val fromJdbc = spark.read.jdbc(url, "\"rental\"", new java.util.Properties())
    assert(fromJdbc.count() === 3)

    val now = ts("2030-01-01 00:00:00")
    val dirJdbc = TestSpark.tempDir("graft-rt-jdbc").toString
    val dirDf = TestSpark.tempDir("graft-rt-df").toString
    IncrementalWeeklySummary.run(spark, fromJdbc, dirJdbc, now = now)
    IncrementalWeeklySummary.run(spark, versioned, dirDf, now = now)

    assertSameRows(
      IncrementalWeeklySummary.readSummary(spark, dirJdbc),
      IncrementalWeeklySummary.readSummary(spark, dirDf))
    val wmJ = IncrementalWeeklySummary.watermark(spark, dirJdbc)
    val wmD = IncrementalWeeklySummary.watermark(spark, dirDf)
    assert(wmJ === wmD)
  }

  test("the CDC delta predicate pushes down to the JDBC scan") {
    val fromJdbc = spark.read.jdbc(url, "\"rental\"", new java.util.Properties())
    val delta = fromJdbc.filter(
      col("last_update") > lit(ts("2024-01-05 00:00:00")) &&
      col("last_update") <= lit(ts("2024-02-01 00:00:00")))
    val physical = delta.queryExecution.executedPlan.toString
    // the JDBC relation advertises pushed filters on the scan node —
    // the remote database evaluates the WHERE, only delta rows ship
    assert(physical.contains("PushedFilters") && physical.contains("last_update"),
      s"delta predicate not pushed to the JDBC source:\n$physical")
    assert(delta.count() === 2) // rental 1's return + rental 3
  }
}
