package graft

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.Upsert
import graft.sources.JdbcUpsert

import TestSpark._

/** Contract test for the JDBC keyed-upsert sink against embedded Derby —
  * the one real database on Spark's own classpath. The binding contract:
  * after any sequence of upserts, the JDBC table equals
  * [[Upsert.merge]] folded over the same frames (the parquet-side
  * upsert the oracle already pins). Mirrors the reference's rollup load
  * (etl_script_incremental_pandas.py:249-267). */
class JdbcUpsertSpec extends AnyFunSuite {

  // Keep Derby's log out of the repo root.
  System.setProperty("derby.system.home",
    TestSpark.tempDir("graft-derby").toString)

  private val url = "jdbc:derby:memory:graftUpsert;create=true"

  private val schema = StructType(Seq(
    StructField("week_beginning", DateType, nullable = false),
    StructField("OutstandingRentals", LongType, nullable = true),
    StructField("rentals", LongType, nullable = true),
    StructField("note", StringType, nullable = true)))

  private def frame(rows: Seq[(String, java.lang.Long, java.lang.Long, String)]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(rows.map { case (w, o, r, n) =>
      org.apache.spark.sql.Row(d(w), o, r, n)
    })
    spark.createDataFrame(rdd, schema)
  }

  private def readBack(table: String): DataFrame =
    spark.read.jdbc(url, "\"" + table + "\"", new java.util.Properties())

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(col("week_beginning"), col("OutstandingRentals"),
      col("rentals"), col("note"))
      .collect().map(_.mkString("|")).sorted.toSeq

  test("JDBC upsert equals Upsert.merge over the same batches") {
    val conn = DriverManager.getConnection(url)
    try JdbcUpsert.createTableIfAbsent(conn, "wk_summary", schema,
      Seq("week_beginning"))
    finally conn.close()

    val b1 = frame(Seq(
      ("2024-01-01", 5L, 10L, "first"),
      ("2024-01-08", 7L, 12L, null),
      ("2024-01-15", 2L, 3L, "x")))
    val b2 = frame(Seq(
      ("2024-01-08", 9L, 20L, "updated"), // key collision: must replace
      ("2024-01-22", null, 1L, "new")))   // new key, null payload col

    JdbcUpsert.upsert(b1, url, "wk_summary", Seq("week_beginning"))
    JdbcUpsert.upsert(b2, url, "wk_summary", Seq("week_beginning"))

    val expected = Upsert.merge(Upsert.merge(b1.limit(0), b1,
      Seq("week_beginning")), b2, Seq("week_beginning"))
    assert(sortedRows(readBack("wk_summary")) === sortedRows(expected))
    assert(readBack("wk_summary").count() === 4)
  }

  test("re-upserting the same batch is idempotent (at-least-once safe)") {
    val conn = DriverManager.getConnection(url)
    try JdbcUpsert.createTableIfAbsent(conn, "wk_idem", schema,
      Seq("week_beginning"))
    finally conn.close()
    val b = frame(Seq(("2024-02-05", 1L, 2L, "a"), ("2024-02-12", 3L, 4L, "b")))
    JdbcUpsert.upsert(b, url, "wk_idem", Seq("week_beginning"))
    JdbcUpsert.upsert(b, url, "wk_idem", Seq("week_beginning"))
    assert(sortedRows(readBack("wk_idem")) === sortedRows(b))
  }

  test("createTableIfAbsent is idempotent") {
    val conn = DriverManager.getConnection(url)
    try {
      JdbcUpsert.createTableIfAbsent(conn, "ddl_twice", schema, Seq("week_beginning"))
      JdbcUpsert.createTableIfAbsent(conn, "ddl_twice", schema, Seq("week_beginning"))
    } finally conn.close()
    assert(readBack("ddl_twice").count() === 0)
  }

  test("generated SQL: postgres ON CONFLICT and ANSI MERGE shapes") {
    val pg = JdbcUpsert.upsertSql(JdbcUpsert.PostgresOnConflict,
      "t", schema, Seq("week_beginning"))
    assert(pg.contains("ON CONFLICT (\"week_beginning\") DO UPDATE SET"))
    assert(pg.contains("\"OutstandingRentals\" = EXCLUDED.\"OutstandingRentals\""))
    val merge = JdbcUpsert.upsertSql(JdbcUpsert.AnsiMerge,
      "t", schema, Seq("week_beginning"))
    assert(merge.contains("MERGE INTO \"t\" t"))
    assert(merge.contains("CAST(? AS DATE)"))
    assert(merge.contains("WHEN MATCHED THEN UPDATE SET"))
    assert(merge.contains("WHEN NOT MATCHED THEN INSERT"))
    val upd = JdbcUpsert.updateSql("t", schema, Seq("week_beginning"))
    assert(upd ===
      "UPDATE \"t\" SET \"OutstandingRentals\" = ?, \"rentals\" = ?, " +
        "\"note\" = ? WHERE \"week_beginning\" = ?")
  }

  test("golden SQL per dialect: exact statement text") {
    // The Postgres and ANSI-MERGE strings never EXECUTE in this
    // container (Derby is the only database here), so the full statement
    // text is pinned verbatim — any drift in quoting, column order,
    // parameter shape, or clause layout fails these equalities even
    // though no server would catch it.
    assert(JdbcUpsert.upsertSql(JdbcUpsert.PostgresOnConflict,
      "weekly_summary", schema, Seq("week_beginning")) ===
      """INSERT INTO "weekly_summary" ("week_beginning", "OutstandingRentals", "rentals", "note") """ +
        """VALUES (?, ?, ?, ?) """ +
        """ON CONFLICT ("week_beginning") DO UPDATE SET """ +
        """"OutstandingRentals" = EXCLUDED."OutstandingRentals", """ +
        """"rentals" = EXCLUDED."rentals", "note" = EXCLUDED."note"""")
    assert(JdbcUpsert.upsertSql(JdbcUpsert.AnsiMerge,
      "weekly_summary", schema, Seq("week_beginning")) ===
      """MERGE INTO "weekly_summary" t """ +
        """USING (VALUES (CAST(? AS DATE), CAST(? AS BIGINT), CAST(? AS BIGINT), CAST(? AS VARCHAR(32672)))) """ +
        """s ("week_beginning", "OutstandingRentals", "rentals", "note") """ +
        """ON (t."week_beginning" = s."week_beginning") """ +
        """WHEN MATCHED THEN UPDATE SET "OutstandingRentals" = s."OutstandingRentals", """ +
        """"rentals" = s."rentals", "note" = s."note" """ +
        """WHEN NOT MATCHED THEN INSERT ("week_beginning", "OutstandingRentals", "rentals", "note") """ +
        """VALUES (s."week_beginning", s."OutstandingRentals", s."rentals", s."note")""")
    assert(JdbcUpsert.upsertSql(JdbcUpsert.UpdateInsert,
      "weekly_summary", schema, Seq("week_beginning")) ===
      """INSERT INTO "weekly_summary" ("week_beginning", "OutstandingRentals", "rentals", "note") """ +
        """VALUES (?, ?, ?, ?)""")
    // edge: every column is a key → PG degrades to DO NOTHING, MERGE
    // drops its WHEN MATCHED clause (nothing to update)
    val keysOnly = StructType(schema.fields.take(1))
    assert(JdbcUpsert.upsertSql(JdbcUpsert.PostgresOnConflict,
      "w", keysOnly, Seq("week_beginning")) ===
      """INSERT INTO "w" ("week_beginning") VALUES (?) """ +
        """ON CONFLICT ("week_beginning") DO NOTHING""")
    assert(JdbcUpsert.upsertSql(JdbcUpsert.AnsiMerge,
      "w", keysOnly, Seq("week_beginning")) ===
      """MERGE INTO "w" t USING (VALUES (CAST(? AS DATE))) s ("week_beginning") """ +
        """ON (t."week_beginning" = s."week_beginning") """ +
        """WHEN NOT MATCHED THEN INSERT ("week_beginning") VALUES (s."week_beginning")""")
    // composite key ordering is WHERE-clause order in the two-step path
    assert(JdbcUpsert.updateSql("t", schema, Seq("week_beginning", "note")) ===
      """UPDATE "t" SET "OutstandingRentals" = ?, "rentals" = ? """ +
        """WHERE "week_beginning" = ? AND "note" = ?""")
    // embedded quotes are doubled, not stripped
    val quoted = StructType(Seq(
      StructField("a\"b", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    assert(JdbcUpsert.upsertSql(JdbcUpsert.PostgresOnConflict,
      "t", quoted, Seq("a\"b")) ===
      """INSERT INTO "t" ("a""b", "v") VALUES (?, ?) """ +
        """ON CONFLICT ("a""b") DO UPDATE SET "v" = EXCLUDED."v"""")
    // URL routing picks the dialect the reference's database would get
    assert(JdbcUpsert.dialectFor("jdbc:postgresql://db:5432/pagila") ===
      JdbcUpsert.PostgresOnConflict)
    assert(JdbcUpsert.dialectFor("jdbc:h2:mem:x") === JdbcUpsert.AnsiMerge)
    assert(JdbcUpsert.dialectFor("jdbc:sqlserver://x") === JdbcUpsert.AnsiMerge)
    assert(JdbcUpsert.dialectFor("jdbc:oracle:thin:@x") === JdbcUpsert.AnsiMerge)
    assert(JdbcUpsert.dialectFor("jdbc:derby:memory:x") === JdbcUpsert.UpdateInsert)
  }

  test("PG dialect reproduces the reference weekly_rental_summary upsert column-for-column") {
    // The reference's literal statement, quoted verbatim from
    // etl_script_incremental_pandas.py:249-260. No Postgres exists in
    // this container to execute either statement, so the tie to the
    // reference is structural: same insert column list in the same
    // order, same conflict target, same update-set column set — parsed
    // from both statements, not eyeballed.
    val reference =
      """INSERT INTO weekly_rental_summary (
        |    week_beginning, "OutstandingRentals", "ReturnedRentals",
        |    newly_rented_during_week, net_change_in_outstanding, last_updated
        |) VALUES (%s, %s, %s, %s, %s, CURRENT_TIMESTAMP)
        |ON CONFLICT (week_beginning) DO UPDATE SET
        |    "OutstandingRentals" = EXCLUDED."OutstandingRentals",
        |    "ReturnedRentals" = EXCLUDED."ReturnedRentals",
        |    newly_rented_during_week = EXCLUDED.newly_rented_during_week,
        |    net_change_in_outstanding = EXCLUDED.net_change_in_outstanding,
        |    last_updated = CURRENT_TIMESTAMP;""".stripMargin
    // OUR statement, generated from the REAL rollup schema the engine
    // ships (IncrementalWeeklySummary.summarySchema — the same StructType
    // CatalogDdl creates and IncrementalRun syncs), not a test fixture.
    val ours = JdbcUpsert.upsertSql(JdbcUpsert.PostgresOnConflict,
      "weekly_rental_summary",
      graft.incremental.IncrementalWeeklySummary.summarySchema,
      Seq("week_beginning"))

    def strip(sql: String) = sql.replace("\"", "").replace(";", "")
    def insertCols(sql: String): Seq[String] =
      """(?s)INSERT INTO \S+\s*\(([^)]*)\)""".r
        .findFirstMatchIn(strip(sql)).get.group(1)
        .split(",").map(_.trim).toSeq
    def conflictKeys(sql: String): Seq[String] =
      """ON CONFLICT\s*\(([^)]*)\)""".r
        .findFirstMatchIn(strip(sql)).get.group(1)
        .split(",").map(_.trim).toSeq
    def setAssignments(sql: String): Map[String, String] =
      """(?s)DO UPDATE SET(.*)""".r
        .findFirstMatchIn(strip(sql)).get.group(1)
        .split(",").map(_.trim).filter(_.nonEmpty)
        .map { a => val Array(l, r) = a.split("=", 2); (l.trim, r.trim) }
        .toMap

    assert(insertCols(ours) === insertCols(reference)) // same order too
    assert(conflictKeys(ours) === Seq("week_beginning"))
    assert(conflictKeys(ours) === conflictKeys(reference))
    assert(setAssignments(ours).keySet === setAssignments(reference).keySet)
    // every shared value column updates from EXCLUDED in both; the ONE
    // deliberate divergence is last_updated's binding — the reference
    // writes CURRENT_TIMESTAMP inline, the engine binds the run's `now`
    // parameter (SURVEY.md F9: deterministic audit timestamps), so both
    // set the same column from their notion of "this run's time"
    setAssignments(reference).foreach { case (c, rhs) =>
      if (c == "last_updated") {
        assert(rhs === "CURRENT_TIMESTAMP")
        assert(setAssignments(ours)(c) === "EXCLUDED.last_updated")
      } else assert(setAssignments(ours)(c) === rhs,
        s"$c must update from EXCLUDED like the reference")
    }
  }
}
