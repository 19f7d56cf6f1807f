package graft

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.WeeklySummary

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here as a named
  * query; `oracleSql` carries the DuckDB-equivalent ANSI SQL over the same
  * parquet tables (bare table names; the driver mounts them as views).
  * Column names/aliases must match between the two sides — the driver's
  * compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Deterministic stand-in for the reference's `CURRENT_DATE`
    * (reference_query.sql:7) — beyond the data's date range, so the week
    * spine extends past the last open rental exactly as the reference's
    * snapshot does, but reproducibly (SURVEY.md F9 determinism hazard). */
  val AsOf: LocalDate = LocalDate.parse("2002-01-01")

  /** Fixed CDC window for the delta-operator queries (F1): the data's
    * `last_update` spans 1995..2001-11. */
  val DeltaFrom: Timestamp = Timestamp.valueOf("1999-01-01 00:00:00")
  val DeltaTo: Timestamp = Timestamp.valueOf("2000-01-01 00:00:00")

  /** The rental-shaped view over the harness tables, as DuckDB SQL —
    * definition identical to [[Tables.rental]] (see its doc; FIXTURES.md §C). */
  val rentalCte: String =
    """rental AS (
      |  SELECT o.o_orderkey AS rental_id,
      |         o.o_orderdate AS rental_date,
      |         CASE WHEN o.o_orderstatus = 'F' THEN m.max_ship END AS return_date,
      |         GREATEST(o.o_orderdate,
      |                  COALESCE(CASE WHEN o.o_orderstatus = 'F' THEN m.max_ship END,
      |                           o.o_orderdate)) AS last_update
      |  FROM orders o
      |  LEFT JOIN (SELECT l_orderkey, MAX(l_shipdate) AS max_ship
      |             FROM lineitem GROUP BY l_orderkey) m
      |    ON o.o_orderkey = m.l_orderkey
      |)""".stripMargin

  /** Snapshot weekly-summary CTE chain over source CTE `src`, names
    * prefixed with `p`; returns (cteText, finalCteName). Mirrors
    * reference_query.sql:1-57 with the deterministic as-of date. */
  private[graft] def snapshotCtes(src: String, p: String): (String, String) = (
    s"""${p}date_range AS (
       |  SELECT MIN(rental_date)::date AS min_date,
       |         MAX(CASE WHEN return_date IS NOT NULL THEN return_date::date
       |             ELSE GREATEST(rental_date::date, DATE '2002-01-01') END) AS max_date
       |  FROM $src),
       |${p}all_weeks AS (
       |  SELECT UNNEST(GENERATE_SERIES(
       |    DATE_TRUNC('week', (SELECT min_date FROM ${p}date_range)),
       |    DATE_TRUNC('week', (SELECT max_date FROM ${p}date_range)),
       |    INTERVAL 7 DAY))::date AS week_beginning),
       |${p}ret_counts AS (
       |  SELECT DATE_TRUNC('week', return_date)::date AS wk, COUNT(rental_id) AS n
       |  FROM $src WHERE return_date IS NOT NULL GROUP BY 1),
       |${p}rent_counts AS (
       |  SELECT DATE_TRUNC('week', rental_date)::date AS wk, COUNT(rental_id) AS n
       |  FROM $src GROUP BY 1),
       |${p}summary AS (
       |  SELECT aw.week_beginning,
       |    COALESCE(rc.n, 0) AS newly_rented_during_week,
       |    COALESCE(retc.n, 0) AS returned_rentals_during_week,
       |    COALESCE(rc.n, 0) - COALESCE(retc.n, 0) AS net_change_in_outstanding,
       |    (SELECT COUNT(r_inv.rental_id) FROM $src r_inv
       |     WHERE r_inv.rental_date::date <= aw.week_beginning + 6
       |       AND (r_inv.return_date IS NULL OR r_inv.return_date::date > aw.week_beginning + 6)
       |    ) AS outstanding_rentals_at_week_end
       |  FROM ${p}all_weeks aw
       |  LEFT JOIN ${p}ret_counts retc ON aw.week_beginning = retc.wk
       |  LEFT JOIN ${p}rent_counts rc ON aw.week_beginning = rc.wk)""".stripMargin,
    s"${p}summary")

  /** Pin `df`'s rows off their backing files (eager local checkpoint),
    * then delete the scratch `dir` recursively: the snapshot-table demo
    * queries write a real table under java.io.tmpdir, and without
    * cleanup every bench/verify rep leaks a full table copy. */
  private[graft] def materializeAndClean(df: DataFrame, dir: String): DataFrame = {
    val out = df.localCheckpoint(true)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(out.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    out
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WeeklySummary.snapshot(Tables.rental(spark, "/root/testdata/sf0.001"), AsOf)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.queries ++ SnapshotQueries.queries ++ TextQueries.queries ++
      EventsQueries.queries ++ VectorQueries.queries ++ AnalyticsQueries.queries ++
      MediaQueries.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracles ++ SnapshotQueries.oracles ++ TextQueries.oracles ++
      EventsQueries.oracles ++ VectorQueries.oracles ++ AnalyticsQueries.oracles ++
      MediaQueries.oracles
}
