package graft

import org.apache.spark.sql.Row

import graft.incremental.{CatalogDdl, ConsistencyMode, IncrementalWeeklySummary, Watermarks}
import graft.sources.JdbcUpsert

/** Direct-run entry for the incremental pipeline — the analog of the
  * reference's `python etl_script_incremental_pandas.py` path
  * (etl_script_incremental_pandas.py:300-342): one incremental run of the
  * weekly summary over the rental view of `sfDir`, with parquet state in
  * `stateDir`. Re-running with unchanged input is an idempotent no-op
  * that only advances the watermark (etl:202-213).
  *
  * Usage: runMain graft.IncrementalRun <sfDir> <stateDir> [faithful|strict]
  *
  * After the run the state directories are registered as session-catalog
  * tables (SURVEY.md S4, [[CatalogDdl]]), and — when a rollup database is
  * configured — the summary and watermark are ALSO upserted over JDBC
  * ([[JdbcUpsert]]), mirroring the reference's Postgres rollup load
  * (etl:249-284). Settings, each read as a JVM system property first,
  * then as an env var ([[GraftSession.flag]]):
  *   SPARK_GRAFT_DQ_GATE           warn (default) | fail | off
  * and, set by the Airflow DAG (airflow/dags/pagila_weekly_summary_dag.py)
  * from its Airflow connections (unset ⇒ parquet in/out only, since no
  * database ships in this container):
  *   SPARK_GRAFT_SOURCE_JDBC_URL   read `rental` over JDBC instead of
  *     sfDir parquet (two full reads per processed run, one per no-op)
  *   SPARK_GRAFT_SOURCE_JDBC_USER / SPARK_GRAFT_SOURCE_JDBC_PASSWORD
  *   SPARK_GRAFT_SOURCE_TABLE      default rental
  *   SPARK_GRAFT_ROLLUP_JDBC_URL   e.g. jdbc:postgresql://host:5432/rollup
  *   SPARK_GRAFT_ROLLUP_JDBC_USER / SPARK_GRAFT_ROLLUP_JDBC_PASSWORD
  *   SPARK_GRAFT_ROLLUP_TABLE      default weekly_rental_summary
  */
object IncrementalRun {
  import GraftSession.flag

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val stateDir = args(1)
    val mode =
      if (args.length > 2 && args(2) == "strict") ConsistencyMode.Strict
      else ConsistencyMode.Faithful
    // a typo'd mode must not silently degrade a safety gate to warn
    val gate = flag("SPARK_GRAFT_DQ_GATE").getOrElse("warn").toLowerCase
    if (!Set("warn", "fail", "off").contains(gate))
      sys.error(s"SPARK_GRAFT_DQ_GATE must be warn|fail|off, got '$gate'")
    GraftSession.run { spark =>
      val rental = flag("SPARK_GRAFT_SOURCE_JDBC_URL") match {
        case Some(url) =>
          val props = new java.util.Properties()
          flag("SPARK_GRAFT_SOURCE_JDBC_USER").foreach(props.setProperty("user", _))
          flag("SPARK_GRAFT_SOURCE_JDBC_PASSWORD").foreach(props.setProperty("password", _))
          spark.read.jdbc(url, flag("SPARK_GRAFT_SOURCE_TABLE").getOrElse("rental"), props)
        case None => Tables.rental(spark, sfDir)
      }
      // DQ gate BEFORE any state mutation (Deequ-style publish guard),
      // over the checks the run's first source pass computes: warn
      // (default) prints failures and proceeds; fail aborts with exit
      // code 2 on a REQUIRED failure, leaving watermark/summary untouched
      // (advisory checks never block — see Profile.rentalDqChecks); off
      // skips only the verdict
      def dqGate(checks: Seq[Row]): Unit = if (gate != "off") {
        val failed = checks.filter(!_.getBoolean(2))
        failed.foreach(r => println(s"[incremental] DQ " +
          s"${if (r.getBoolean(3)) "FAIL" else "warn"} ${r.getString(0)} metric=${r.get(1)}"))
        if (failed.isEmpty)
          println(s"[incremental] DQ gate passed (${checks.length} checks)")
        else if (gate == "fail" && failed.exists(_.getBoolean(3)))
          GraftSession.gateFailed("[incremental] DQ gate failed - aborting before state mutation")
      }
      val report = IncrementalWeeklySummary.run(spark, rental, stateDir, mode, dqGate = dqGate)
      println(s"[incremental] watermark ${report.previousWatermark} -> ${report.newWatermark}; " +
        s"deltaRows=${report.deltaRows} affectedWeeks=${report.affectedWeeks} processed=${report.processed}")
      graft.incremental.RunLog.append(spark, stateDir, report)
      // table maintenance: a scheduled production job must stay healthy
      // without an out-of-band janitor. Each processed run adds one
      // manifest and batch-sized data files; past 16 live files compact
      // them (content-identical, watermark tag carried), and bound the
      // time-travel window + reclaim unreferenced bytes every run.
      val summaryTbl = IncrementalWeeklySummary.summaryTable(spark, stateDir)
      if (summaryTbl.exists) {
        if (summaryTbl.history.last._4 > 16) {
          summaryTbl.optimize()
          println(s"[incremental] maintenance: compacted summary to " +
            s"${summaryTbl.history.last._4} files")
        }
        summaryTbl.retire(keepLast = 16)
        summaryTbl.vacuum()
      }
      CatalogDdl.registerStateTables(spark, stateDir)
      flag("SPARK_GRAFT_ROLLUP_JDBC_URL").foreach { url =>
        val props = new java.util.Properties()
        flag("SPARK_GRAFT_ROLLUP_JDBC_USER").foreach(props.setProperty("user", _))
        flag("SPARK_GRAFT_ROLLUP_JDBC_PASSWORD").foreach(props.setProperty("password", _))
        val table = flag("SPARK_GRAFT_ROLLUP_TABLE").getOrElse("weekly_rental_summary")
        val summary = IncrementalWeeklySummary.readSummary(spark, stateDir)
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          JdbcUpsert.createTableIfAbsent(conn, table,
            IncrementalWeeklySummary.summarySchema, Seq("week_beginning"))
          JdbcUpsert.createTableIfAbsent(conn, "etl_watermarks",
            Watermarks.schema, Seq("process_name"))
        } finally conn.close()
        JdbcUpsert.upsert(summary, url, table, Seq("week_beginning"), props)
        // the watermark row is derived from the summary commit's tag —
        // the rollup copy can never carry a watermark its summary lacks
        val wmRow = IncrementalWeeklySummary.watermarkFrame(spark, stateDir)
        JdbcUpsert.upsert(wmRow, url, "etl_watermarks", Seq("process_name"), props)
        println(s"[incremental] rollup upsert -> $url ($table, etl_watermarks)")
      }
    }
  }
}
