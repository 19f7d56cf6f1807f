package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.ops.{ReferenceOps, WeeklySummary}

/** the reference pipeline's own surface: weekly summary snapshots, CDC delta/watermark probes, and the upsert-round family over the snapshot store — the `Reference` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object ReferenceQueries {

  import SparkEntry.{AsOf, DeltaFrom, DeltaTo, rentalCte, materializeAndClean}
  import EntryOracleGen._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "weekly_summary" -> ((s, dir) =>
      WeeklySummary.snapshot(Tables.rental(s, dir), AsOf)),

    "weekly_wow" -> ((s, dir) =>
      WeeklySummary.weekOverWeek(WeeklySummary.snapshot(Tables.rental(s, dir), AsOf))),

    "weekly_summary_nl" -> ((s, dir) =>
      WeeklySummary.snapshotNestedLoop(Tables.rental(s, dir), AsOf)),

    "weekly_summary_sql" -> ((s, dir) =>
      WeeklySummary.snapshotSql(Tables.rental(s, dir), AsOf)),

    "delta_extract" -> ((s, dir) =>
      ReferenceOps.deltaExtract(Tables.rental(s, dir), DeltaFrom, DeltaTo)),

    "watermark_probes" -> ((s, dir) =>
      ReferenceOps.watermarkProbes(Tables.rental(s, dir))),

    "affected_weeks" -> ((s, dir) =>
      ReferenceOps.affectedWeeks(Tables.rental(s, dir), DeltaFrom, DeltaTo)),

    "first_rental" -> ((s, dir) =>
      ReferenceOps.firstRental(Tables.rental(s, dir))),

    "upsert_round" -> ((s, dir) =>
      ReferenceOps.upsertRound(Tables.rental(s, dir), DeltaFrom, AsOf)),

    // the same upsert round driven through the manifest-based ACID
    // table sink (SnapshotTable.merge — file-pruned copy-on-write): the
    // persisted table's contents must equal the pure-query formulation
    "upsert_round_snapshot" -> ((s, dir) => {
      val (existing, incoming) =
        WeeklySummary.upsertRoundParts(Tables.rental(s, dir), DeltaFrom, AsOf)
      val scratch = java.nio.file.Files.createTempDirectory("graft-snap").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "week_beginning")
      tbl.create(existing)
      tbl.merge(incoming)
      materializeAndClean(tbl.read().orderBy("week_beginning"), scratch)
    }),

    // the same round with ADD-COLUMN SCHEMA EVOLUTION through the ACID
    // sink: the incoming batch carries a new nullable audit column;
    // pre-evolution rows read it as null WITHOUT a rewrite
    // (SnapshotTable.evolveSchema — parquet scans with an explicit
    // schema fill absent columns), so old files carry by reference
    "upsert_round_snapshot_evolve" -> ((s, dir) => {
      val (existing, incoming) =
        WeeklySummary.upsertRoundParts(Tables.rental(s, dir), DeltaFrom, AsOf)
      val scratch = java.nio.file.Files.createTempDirectory("graft-snap-ev").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "week_beginning")
      tbl.create(existing)
      // a non-foldable when() without otherwise => nullable, as the
      // add-column contract requires (a bare lit() is non-nullable)
      tbl.merge(incoming.withColumn("batch_note",
        when(col("week_beginning").isNotNull, lit("delta"))))
      materializeAndClean(tbl.read().orderBy("week_beginning"), scratch)
    }),

    // COLUMN-MAPPING rename through the ACID sink: a manifest-only
    // RENAME between the create and the merge — untouched pre-rename
    // files carry BY REFERENCE and serve the renamed column via the
    // mapping (files store the stable physical name), while the merge
    // restages its touched slice under the same physical name; zero
    // data files rewritten by the rename itself
    "upsert_round_snapshot_rename" -> ((s, dir) => {
      val (existing, incoming) =
        WeeklySummary.upsertRoundParts(Tables.rental(s, dir), DeltaFrom, AsOf)
      val scratch = java.nio.file.Files.createTempDirectory("graft-snap-rn").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "week_beginning")
      tbl.create(existing)
      tbl.renameColumn("outstanding_rentals_at_week_end", "open_rentals_at_week_end")
      tbl.merge(incoming.withColumnRenamed(
        "outstanding_rentals_at_week_end", "open_rentals_at_week_end"))
      materializeAndClean(tbl.read().orderBy("week_beginning"), scratch)
    }),

    // TYPE WIDENING across the lossless lattice: the store starts with
    // an INT column, widens it to BIGINT in a manifest-only commit
    // (zero files rewritten), then merges rows whose values only a
    // BIGINT can hold — pre-widen files read wide via parquet's
    // widening promotion, stats stay exact across the boundary
    "upsert_round_snapshot_widen" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-snap-wd").toString
      val tbl = new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs.withColumn("n_chars", col("n_chars").cast("int")))
      tbl.widenColumn("n_chars", org.apache.spark.sql.types.LongType)
      tbl.merge(docs.filter(col("doc_id") % 53 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("n_chars", col("n_chars").cast("long") + 4000000000L))
      materializeAndClean(tbl.read(), scratch)
    })
  )

  val oracles: Map[String, String] = Map(

    "weekly_summary" -> weeklySummaryOracle,

    "weekly_wow" -> weeklyWowOracle,

    "weekly_summary_nl" -> weeklySummaryOracle,

    "weekly_summary_sql" -> weeklySummaryOracle,

    "delta_extract" ->
      s"""WITH $rentalCte
         |SELECT rental_id, rental_date, return_date, last_update FROM rental
         |WHERE last_update > TIMESTAMP '1999-01-01 00:00:00'
         |  AND last_update <= TIMESTAMP '2000-01-01 00:00:00'""".stripMargin,

    "watermark_probes" ->
      s"""WITH $rentalCte
         |SELECT MAX(last_update) AS max_last_update,
         |       MAX(GREATEST(rental_date, COALESCE(return_date, rental_date))) AS max_activity_date,
         |       MIN(GREATEST(rental_date, COALESCE(return_date, rental_date))) AS min_activity_date,
         |       DATE_TRUNC('week', MAX(GREATEST(rental_date, COALESCE(return_date, rental_date))))::date AS max_activity_week,
         |       DATE_TRUNC('week', MIN(GREATEST(rental_date, COALESCE(return_date, rental_date))))::date AS min_activity_week,
         |       COUNT(*) AS n_rentals
         |FROM rental""".stripMargin,

    "affected_weeks" ->
      s"""WITH $rentalCte,
         |delta AS (
         |  SELECT * FROM rental
         |  WHERE last_update > TIMESTAMP '1999-01-01 00:00:00'
         |    AND last_update <= TIMESTAMP '2000-01-01 00:00:00')
         |SELECT DISTINCT DATE_TRUNC('week', rental_date)::date AS week_beginning FROM delta
         |UNION
         |SELECT DISTINCT DATE_TRUNC('week', return_date)::date FROM delta
         |WHERE return_date IS NOT NULL
         |ORDER BY week_beginning""".stripMargin,

    "first_rental" ->
      s"""WITH $rentalCte
         |SELECT rental_id, rental_date, return_date, last_update FROM rental
         |ORDER BY rental_id LIMIT 1""".stripMargin,

    "upsert_round" -> upsertRoundOracle,

    "upsert_round_snapshot" -> upsertRoundOracle,

    "upsert_round_snapshot_evolve" -> upsertRoundOracleSql(noteCol = true),

    "upsert_round_snapshot_rename" ->
      upsertRoundOracleSql(noteCol = false, outCol = "open_rentals_at_week_end"),

    "upsert_round_snapshot_widen" ->
      """SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source,
        |  CAST(n_chars AS BIGINT) + 4000000000 AS n_chars
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin
  )
}
