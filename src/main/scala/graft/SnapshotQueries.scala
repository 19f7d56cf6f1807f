package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, lower, regexp_replace}


/** the SnapshotTable/SQL-catalog operational surface: pruned reads, change feeds, pure-SQL DML/DDL, maintenance — the `Snapshot` slice of the
  * [[SparkEntry]] registry (r19 split: entries verbatim; `queries` and
  * `oracles` pair one-to-one, the driver contract unchanged). */
private[graft] object SnapshotQueries {

  import SparkEntry.materializeAndClean

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // manifest-pruned RANGE READ over the corpus store: only files
    // whose doc_id [min,max] intersects the band are handed to the
    // scan (SnapshotTable.readRange — the read-side twin of the
    // merge's copy-on-write pruning); result ≡ the plain SQL band
    "corpus_range_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-range").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      tbl.create(docs)
      materializeAndClean(tbl.readRange(Some(100L), Some(299L)), scratch)
    }),

    // keyed point-lookup through the store: the requested ids are
    // SCATTERED across the whole key domain (doc_id % 731 == 5), so a
    // range read would open nearly every file — the key-set prune
    // (SnapshotTable.readKeys) opens only the files that can hold a
    // requested id, then an exact semi-join keeps the rows
    "corpus_keys_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-keys").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      tbl.create(docs)
      materializeAndClean(
        tbl.readKeys(docs.filter(col("doc_id") % 731 === 5).select("doc_id")),
        scratch)
    }),

    // data-skipping read on a SECONDARY column: the store is keyed and
    // clustered on doc_id but the predicate is on n_chars — per-file
    // [min,max] column stats recorded at write time (statsColumns)
    // prune files at the manifest level before the scan opens them
    // (SnapshotTable.readWhere), the non-key twin of corpus_range_read
    "corpus_stats_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-stats").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      materializeAndClean(tbl.readWhere("n_chars", Some(200L), Some(400L)), scratch)
    }),

    // Z-ORDER compaction: optimize(zorderBy) rewrites the store
    // range-clustered on the bit-interleaved z-value of (key, n_chars),
    // so per-file [min,max] turns tight in BOTH dimensions — the layout
    // for a store queried by key AND a secondary column; the readWhere
    // after it skips files the original key clustering could not
    "corpus_zorder_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      tbl.optimize(zorderBy = Seq("doc_id", "n_chars"))
      materializeAndClean(tbl.readWhere("n_chars", Some(200L), Some(400L)), scratch)
    }),

    // MANIFEST-SERVED aggregates: COUNT(*) is pure driver arithmetic
    // over per-file row counts (zero data files opened), and a range
    // COUNT classifies each file as disjoint (0) / fully contained
    // (rows − recorded nulls, from the manifest alone) / boundary —
    // only boundary files are scanned, so a clustered-range count at
    // 100 TB is arithmetic plus the two edge files
    "corpus_count_pruned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-count").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      val total = tbl.countRows()
      val keyRange = tbl.countWhere("doc_id", Some(100L), Some(300L))
      val statRange = tbl.countWhere("n_chars", Some(200L), Some(400L))
      import s.implicits._
      materializeAndClean(
        Seq((total, keyRange, statRange))
          .toDF("total_rows", "key_range_rows", "stat_range_rows"),
        scratch)
    }),

    // PER-FILE KEY BLOOMS (opt-in keyBloomBits): the store holds only
    // EVEN doc_ids, the request mixes evens and odds — every odd id
    // falls inside some file's key range, and only the bloom can prove
    // it absent; the read returns exactly the present half, opening
    // only the files that truly hold a requested key
    "corpus_bloom_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-bloom").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), keyBloomBits = 16384)
      tbl.create(docs.filter(col("doc_id") % 2 === 0))
      materializeAndClean(
        tbl.readKeys(docs.filter(col("doc_id") % 97 === 5).select("doc_id")),
        scratch)
    }),

    // MANIFEST-PRUNED MIN/MAX: the true extreme can only live in a file
    // whose encoded per-file min/max ties the global encoded extreme
    // (the encoding is monotone), so boundsOf scans just those
    // candidate files — at 100 TB, MIN/MAX opens the two extreme files
    "corpus_minmax_pruned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-minmax").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      materializeAndClean(tbl.boundsOf("n_chars"), scratch)
    }),

    // Catalyst-integrated scan: the store read through a manifest-backed
    // FileIndex, so ORDINARY query predicates (here: a key range AND a
    // secondary-stats range, in plain .filter syntax) prune files via
    // the planner's own pushdown — no readRange/readWhere call; Spark's
    // parquet reader, row-group pushdown, and codegen apply unchanged
    "corpus_scan_pushdown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-scan").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
      tbl.create(docs)
      materializeAndClean(
        tbl.scan().filter(col("doc_id") <= 3000L &&
          col("n_chars") >= 200L && col("n_chars") <= 400L),
        scratch)
    }),

    // the SAME manifest-pruned relation through the BATCH half of the
    // format provider: spark.read.format("graft-snapshot") — no Scala
    // handle, the route a SQL-only user takes (load + CREATE TEMP VIEW);
    // pushed filters still file-skip off the manifest stats
    "corpus_format_read" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-fmt").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
        .create(docs)
      materializeAndClean(
        s.read.format("graft-snapshot")
          .option("path", s"$scratch/store").option("key", "doc_id")
          .load()
          .filter(col("doc_id") >= 100L && col("doc_id") <= 400L &&
            col("n_chars") >= 300L),
        scratch)
    }),

    // the PURE-SQL route: CREATE TEMPORARY VIEW ... USING graft-snapshot
    // in SQL DDL, then a plain SQL SELECT — the reference's natural
    // audience (reference_query.sql is plain SQL) reaches the
    // manifest-pruned store with ZERO Scala; the WHERE still file-skips
    "corpus_sql_view" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlv").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars"))
        .create(docs)
      val vn = "corpus_sql_view_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.sql(s"CREATE TEMPORARY VIEW $vn USING `graft-snapshot` " +
        s"OPTIONS (path '$scratch/store', `key` 'doc_id')")
      try materializeAndClean(
        s.sql(s"SELECT doc_id, lang, n_chars FROM $vn WHERE n_chars BETWEEN 250 AND 350"),
        scratch)
      finally s.catalog.dropTempView(vn)
    }),

    // DELETION-VECTOR snapshots through the pure-SQL route: the store
    // opts into merge-on-read deletes, a scattered forget records
    // vectors (zero file rewrites — asserted), and the SQL view serves
    // the MASKED rows via the PrunedFilteredScan fallback relation —
    // the one feature x route combination the bare relation used to
    // refuse (r16 verdict #1); deleted rows must never resurrect here
    "corpus_sql_view_dv" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqldv").toString
      val tbl = new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8), deleteVectorMaxRows = 1000L)
      tbl.create(docs)
      tbl.delete(docs.filter(col("doc_id") % 501 === 3).select("doc_id"))
      require(tbl.lastRewrites <= 0, // 0 = pure DV; -1 = nothing matched
        s"DV forget rewrote ${tbl.lastRewrites} files — merge-on-read path not taken")
      val vn = "corpus_sql_dv_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.sql(s"CREATE TEMPORARY VIEW $vn USING `graft-snapshot` " +
        s"OPTIONS (path '$scratch/store', `key` 'doc_id')")
      try materializeAndClean(
        s.sql(s"SELECT doc_id, lang, n_chars FROM $vn WHERE n_chars >= 100"),
        scratch)
      finally s.catalog.dropTempView(vn)
    }),

    // pure-SQL DML via the graft CATALOG (DSv2 TableCatalog): INSERT
    // INTO appends through the table's atomic commit, the read-back is
    // a catalog SELECT — the reference's append shape with ZERO Scala
    // after the initial create; the key column resolves from the
    // manifest's own #key header, no OPTIONS on the query
    "corpus_sql_insert" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlins").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val vn = "corpus_sql_ins_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      docs.filter(col("doc_id") % 53 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .createOrReplaceTempView(vn)
      try {
        s.sql(s"INSERT INTO graft.`$scratch/store` SELECT * FROM $vn")
        materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
      } finally s.catalog.dropTempView(vn)
    }),

    // pure-SQL keyed DELETE via the catalog: the translatable predicate
    // maps onto the table's own file-pruned delete (copy-on-write here);
    // an inexpressible predicate would fail at analysis, never delete
    // approximately
    "corpus_sql_delete" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqldel").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      s.sql(s"DELETE FROM graft.`$scratch/store` WHERE n_chars < 100 OR lang = 'de'")
      materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
    }),

    // pure-SQL MERGE INTO via the catalog (DSv2 row-level operations,
    // delta mode): matched rows update, a matched band deletes,
    // unmatched rows insert — one statement, ONE atomic applyDelta
    // commit (executors stage the action rows, the driver applies);
    // the reference's ON CONFLICT semantics in standard SQL
    "corpus_sql_merge" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlmrg").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val vn = "corpus_sql_mrg_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      docs.filter(col("doc_id") % 31 === 0).withColumn("text", lit("[redacted-v2]"))
        .unionByName(docs.filter(col("doc_id") % 53 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L))
        .createOrReplaceTempView(vn)
      try {
        s.sql(s"""MERGE INTO graft.`$scratch/store` t USING $vn s ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND s.n_chars < 100 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
      } finally s.catalog.dropTempView(vn)
    }),

    // MERGE with WHEN NOT MATCHED BY SOURCE — the clause that makes the
    // TARGET scan the action source (Spark 4 rewrites it through the
    // same SupportsDelta path): matched rows update, unmatched source
    // rows insert, and target rows the source never mentions delete or
    // update by their own predicate — still ONE atomic applyDelta
    "corpus_sql_merge_nmbs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlnmbs").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val vn = "corpus_sql_nmbs_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      docs.filter(col("doc_id") % 3 === 0).withColumn("text", lit("[redacted-r3]"))
        .unionByName(docs.filter(col("doc_id") % 53 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L))
        .createOrReplaceTempView(vn)
      try {
        s.sql(s"""MERGE INTO graft.`$scratch/store` t USING $vn s ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *
                 |WHEN NOT MATCHED BY SOURCE AND t.n_chars < 100 THEN DELETE
                 |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET lang = 'xx'""".stripMargin)
        materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
      } finally s.catalog.dropTempView(vn)
    }),

    // CREATE OR REPLACE ... AS SELECT through the staging catalog
    // (r19): the replace lands as the table's OVERWRITE commit — one
    // atomic schema+data swap, prior versions still time-travelable —
    // not a drop+recreate; the SELECT reads the replaced generation
    "corpus_sql_replace" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlrepl").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val vn = "corpus_sql_repl_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      docs.createOrReplaceTempView(vn)
      try {
        s.sql(s"""CREATE OR REPLACE TABLE graft.`$scratch/store`
                 |OPTIONS ('key' 'doc_id')
                 |AS SELECT doc_id, n_chars * 2 AS n2, lang FROM $vn
                 |WHERE doc_id % 7 = 0""".stripMargin)
        materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
      } finally s.catalog.dropTempView(vn)
    }),

    // SHOW TABLES over a warehouse-configured catalog (r19): the
    // namespace maps to a directory, children are tables iff their
    // newest manifest records a key — enumerated here from per-region
    // tables created via SQL DDL
    "catalog_show_tables" -> ((s, dir) => {
      val scratch = java.nio.file.Files.createTempDirectory("graft-shtbl").toString
      val cat = "graftwh_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.incremental.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", scratch)
      // 5 region names, bounded by construction (TPC-H region is 5 rows)
      Tables.region(s, dir).select(lower(regexp_replace(col("r_name"), " ", "_")))
        .collect().map(_.getString(0)).sorted
        .foreach(n => s.sql(
          s"CREATE TABLE $cat.$n (r_regionkey BIGINT) OPTIONS ('key' 'r_regionkey')"))
      materializeAndClean(s.sql(s"SHOW TABLES IN $cat"), scratch)
    }),

    // pure-SQL ADD COLUMN DDL: a manifest-only schema commit (zero data
    // files rewritten at any table size) — rows committed before the
    // add read the column as null, the INSERT after it carries values;
    // both generations serve through one SELECT
    "corpus_sql_add_column" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqladd").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8)).create(docs)
      val vn = "corpus_sql_add_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      docs.filter(col("doc_id") % 53 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("quality", col("n_chars").cast("double") / 100.0)
        .createOrReplaceTempView(vn)
      try {
        s.sql(s"ALTER TABLE graft.`$scratch/store` ADD COLUMNS (quality DOUBLE)")
        s.sql(s"INSERT INTO graft.`$scratch/store` SELECT * FROM $vn")
        materializeAndClean(s.sql(s"SELECT * FROM graft.`$scratch/store`"), scratch)
      } finally s.catalog.dropTempView(vn)
    }),

    // MANIFEST-SERVED SQL AGGREGATES: an unfiltered COUNT/MIN/MAX over
    // the catalog table is answered from per-file manifest stats as a
    // LocalTableScan — zero tasks, zero file reads (asserted on the
    // plan in-query); at 100 TB a COUNT(*) is driver arithmetic
    "corpus_sql_agg_pushdown" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqlagg").toString
      new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8), statsColumns = Seq("n_chars")).create(docs)
      val df = s.sql(
        s"""SELECT count(*) AS total_rows,
           |  min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max,
           |  min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
           |  count(n_chars) AS n_chars_cnt
           |FROM graft.`$scratch/store`""".stripMargin)
      require(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "manifest-served aggregates must plan a LocalTableScan (zero file reads)")
      materializeAndClean(df, scratch)
    }),

    // pure-SQL TIME TRAVEL via the catalog: VERSION AS OF pins the
    // pre-merge snapshot while the unpinned read serves the head — one
    // result carrying BOTH proves the pinned route neither leaks new
    // rows backward nor serves stale rows forward
    "corpus_sql_time_travel" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-sqltt").toString
      val tbl = new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8))
      val v0 = tbl.create(docs)
      tbl.merge(docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]")))
      materializeAndClean(
        s.sql(s"SELECT 'v0' AS snap, * FROM graft.`$scratch/store` VERSION AS OF $v0 " +
          s"UNION ALL SELECT 'head' AS snap, * FROM graft.`$scratch/store`"),
        scratch)
    }),

    // the BATCH WRITE half of the same format: create via a plain
    // DataFrameWriter, then a keyed MERGE through mode(append) +
    // option(write=merge) — the reference's ON CONFLICT semantics with
    // zero Scala-handle code; read back through the batch read half
    "corpus_format_write" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-fmtw").toString
      def w(df: org.apache.spark.sql.DataFrame) = df.write.format("graft-snapshot")
        .option("path", s"$scratch/store").option("key", "doc_id")
      w(docs).option("clusterPartitions", "8").save()
      w(docs.filter(col("doc_id") % 31 === 0).withColumn("text", lit("[redacted-v2]")))
        .mode("append").option("write", "merge").save()
      materializeAndClean(
        s.read.format("graft-snapshot")
          .option("path", s"$scratch/store").option("key", "doc_id").load(),
        scratch)
    }),

    // CDC-grain change feed: the same interval folded to ONE row per
    // changed key with _change_type insert|update|delete — updates as
    // their post-image, deletes as their pre-image (the pair-matching
    // every feed consumer otherwise re-derives, done once in the store)
    "corpus_changes_keyed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-cdc").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      val v0 = tbl.create(docs)
      val upserts = docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]"))
        .unionByName(docs.filter(col("doc_id") % 53 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val v1 = tbl.applyDelta(upserts, docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
      materializeAndClean(tbl.changesKeyed(v0, v1), scratch)
    }),

    // the SAME CDC interval consumed as a STRUCTURED STREAMING SOURCE:
    // offsets are table versions, the micro-batch is changesKeyed over
    // (v0, v1] stamped with the commit version — a downstream consumer
    // readStreams the store instead of polling snapshots, and the
    // rewrite-op-aware feed keeps compaction mass out of the stream
    "corpus_changes_stream" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-cdcstream").toString
      val tbl = new graft.incremental.SnapshotTable(s, s"$scratch/store", "doc_id",
        clusterPartitions = Some(8))
      tbl.create(docs) // v0 — the stream tails changes committed after it
      val qn = "feed_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // startingVersion pins the stream base to v0 EXPLICITLY: the
      // default captures the current version when the source initializes
      // on the stream thread, which races the applyDelta below — a slow
      // init would capture v1 and silently drop the interval
      val q = s.readStream
        .format("graft-snapshot")
        .option("path", s"$scratch/store").option("key", "doc_id")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory").queryName(qn).outputMode("append").start()
      try {
        val upserts = docs.filter(col("doc_id") % 31 === 0)
          .withColumn("text", lit("[redacted-v2]"))
          .unionByName(docs.filter(col("doc_id") % 53 === 1)
            .withColumn("doc_id", col("doc_id") + 10000000L))
        tbl.applyDelta(upserts, docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
        q.processAllAvailable()
      } finally q.stop()
      val out = materializeAndClean(s.table(qn), scratch)
      s.catalog.dropTempView(qn)
      out
    }),

    // the FULL streaming replication loop, two calls of user code: the
    // store read as a CDC stream (SnapshotTableProvider source) written
    // straight into a second store (cdc-mode sink, each batch ONE
    // atomic applyDelta tagged with the batch id) — the mirror's
    // post-state must equal the batch applyDelta semantics exactly
    "corpus_stream_mirror" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-smirror").toString
      val src = new graft.incremental.SnapshotTable(s, s"$scratch/src", "doc_id",
        clusterPartitions = Some(8))
      src.create(docs.limit(0)) // v0: empty — the stream replays ALL content
      // explicit base: the default racing the merges below could
      // capture a later version and drop their interval (see
      // corpus_changes_stream)
      val q = s.readStream
        .format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", s"$scratch/src").option("key", "doc_id")
        .option("startingVersion", "0")
        .load()
        .writeStream
        .format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", s"$scratch/mirror").option("key", "doc_id")
        .option("mode", "cdc")
        .option("checkpointLocation", s"$scratch/ckpt")
        .start()
      try {
        src.merge(docs) // v1: the corpus lands
        val upserts = docs.filter(col("doc_id") % 31 === 0)
          .withColumn("text", lit("[redacted-v2]"))
          .unionByName(docs.filter(col("doc_id") % 53 === 1)
            .withColumn("doc_id", col("doc_id") + 10000000L))
        src.applyDelta(upserts, docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
        q.processAllAvailable()
      } finally q.stop()
      val mirror = new graft.incremental.SnapshotTable(s, s"$scratch/mirror", "doc_id")
      materializeAndClean(mirror.read(), scratch)
    }),

    // retroactive stats adoption: the table is created UNTRACKED (no
    // n_chars stats anywhere), then collectStats backfills per-file
    // [min,max] in ONE scan and a rewrite-free `stats` commit — the
    // same readWhere then prunes, and the result is identical to the
    // tracked-at-write path (corpus_stats_read): at 100 TB, enabling
    // skipping costs a stats scan, never a rewrite
    "corpus_stats_backfill" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-statsbf").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      tbl.create(docs)
      tbl.collectStats(Seq("n_chars"))
      materializeAndClean(tbl.readWhere("n_chars", Some(200L), Some(400L)), scratch)
    }),

    // row-level change feed between two store versions: updates surface
    // as removed/added pairs, inserts as added — manifest-diff pruned
    // (files carried by path between the versions are never read), and
    // survivor rows the copy-on-write rewrote into new files cancel in
    // the row-level exceptAll (a moved-but-identical row is no change)
    "corpus_changes" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-changes").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      val v0 = tbl.create(docs)
      val batch = docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]"))
        .unionByName(docs.filter(col("doc_id") % 53 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val v1 = tbl.merge(batch)
      materializeAndClean(tbl.changesBetween(v0, v1), scratch)
    }),

    // combined upsert+delete in ONE atomic commit (the change-feed
    // application primitive): updates + inserts land while a delete set
    // leaves, in a single file-pruned copy-on-write pass — a key in
    // both halves lands as its upsert (upsert wins)
    "corpus_apply_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-delta").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8))
      tbl.create(docs)
      val upserts = docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]"))
        .unionByName(docs.filter(col("doc_id") % 53 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      tbl.applyDelta(upserts, docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
      materializeAndClean(tbl.read(), scratch)
    }),

    // right-to-be-forgotten over the corpus store: keyed DELETE through
    // the ACID table (file-pruned copy-on-write) — the removed doc set
    // is gone from the new snapshot atomically
    "corpus_forget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-forget").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id")
      tbl.create(docs)
      tbl.delete(docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
      materializeAndClean(tbl.read(), scratch)
    }),

    // the MERGE-ON-READ forget: a scattered doomed-key set lands as
    // per-file DELETION VECTORS (doomed-key sidecars applied as an
    // anti-join at read) — ZERO data files rewritten, then optimize()
    // materializes the debt away; result must equal the copy-on-write
    // forget bit for bit
    "corpus_forget_dv" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scratch = java.nio.file.Files.createTempDirectory("graft-forgetdv").toString
      val tbl = new graft.incremental.SnapshotTable(s, scratch, "doc_id",
        clusterPartitions = Some(8), deleteVectorMaxRows = 1000L)
      tbl.create(docs)
      // a scattered sparse forget: every 501st id across the key domain
      tbl.delete(docs.filter(col("doc_id") % 501 === 3).select("doc_id"))
      require(tbl.lastRewrites <= 0, // 0 = pure DV; -1 = nothing matched (tiny sf)
        s"DV forget rewrote ${tbl.lastRewrites} files — merge-on-read path not taken")
      tbl.optimize(smallBytes = 1L) // materialize the vectors away
      materializeAndClean(tbl.read(), scratch)
    })
  )

  val oracles: Map[String, String] = Map(

    "corpus_forget" ->
      "SELECT * FROM documents WHERE doc_id % 17 <> 0",

    "corpus_forget_dv" ->
      "SELECT * FROM documents WHERE doc_id % 501 <> 3",

    "corpus_range_read" ->
      "SELECT * FROM documents WHERE doc_id BETWEEN 100 AND 299",

    "corpus_keys_read" ->
      "SELECT * FROM documents WHERE doc_id % 731 = 5",

    "corpus_stats_read" ->
      "SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 400",

    "corpus_zorder_read" ->
      "SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 400",

    "corpus_minmax_pruned" ->
      "SELECT min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max FROM documents",

    "corpus_bloom_read" ->
      "SELECT * FROM documents WHERE doc_id % 2 = 0 AND doc_id % 97 = 5",

    "corpus_count_pruned" ->
      """SELECT (SELECT count(*) FROM documents) AS total_rows,
        |  (SELECT count(*) FROM documents WHERE doc_id BETWEEN 100 AND 300)
        |    AS key_range_rows,
        |  (SELECT count(*) FROM documents WHERE n_chars BETWEEN 200 AND 400)
        |    AS stat_range_rows""".stripMargin,

    "corpus_stats_backfill" ->
      "SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 400",

    "corpus_scan_pushdown" ->
      "SELECT * FROM documents WHERE doc_id <= 3000 AND n_chars BETWEEN 200 AND 400",

    "corpus_format_read" ->
      "SELECT * FROM documents WHERE doc_id BETWEEN 100 AND 400 AND n_chars >= 300",

    "corpus_sql_view" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars BETWEEN 250 AND 350",

    "corpus_sql_view_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 501 <> 3 AND n_chars >= 100""".stripMargin,

    "corpus_sql_insert" ->
      """SELECT * FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin,

    "corpus_sql_delete" ->
      "SELECT * FROM documents WHERE NOT (n_chars < 100 OR lang = 'de')",

    "corpus_sql_merge" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id %% 31 = 0 THEN '[redacted-v2]' ELSE text END AS text,
        |  lang, source, n_chars
        |FROM documents
        |WHERE NOT (doc_id %% 31 = 0 AND n_chars < 100)
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars
        |FROM documents WHERE doc_id %% 53 = 1""".stripMargin.replace("%%", "%"),

    "corpus_sql_merge_nmbs" ->
      """SELECT doc_id, '[redacted-r3]' AS text, lang, source, n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, text, 'xx' AS lang, source, n_chars
        |FROM documents WHERE doc_id % 3 <> 0 AND n_chars >= 100
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin,

    // the replaced generation's contents — the overwrite-commit
    // mechanics (history, colmap carry) are spec-pinned, the data is
    // plain SQL
    "corpus_sql_replace" ->
      """SELECT doc_id, n_chars * 2 AS n2, lang
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,

    // SHOW TABLES output shape over the per-region warehouse tables
    "catalog_show_tables" ->
      """SELECT '' AS namespace,
        |       lower(replace(r_name, ' ', '_')) AS tableName,
        |       false AS isTemporary
        |FROM region""".stripMargin,

    "corpus_sql_add_column" ->
      """SELECT doc_id, text, lang, source, n_chars, CAST(NULL AS DOUBLE) AS quality
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars,
        |  CAST(n_chars AS DOUBLE) / 100.0 AS quality
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin,

    "corpus_sql_agg_pushdown" ->
      """SELECT count(*) AS total_rows,
        |  min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max,
        |  min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
        |  count(n_chars) AS n_chars_cnt
        |FROM documents""".stripMargin,

    "corpus_sql_time_travel" ->
      """SELECT 'v0' AS snap, doc_id, text, lang, source, n_chars FROM documents
        |UNION ALL
        |SELECT 'head' AS snap, doc_id,
        |  CASE WHEN doc_id % 31 = 0 THEN '[redacted-v2]' ELSE text END AS text,
        |  lang, source, n_chars
        |FROM documents""".stripMargin,

    "corpus_format_write" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 31 = 0 THEN '[redacted-v2]' ELSE text END AS text,
        |  lang, source, n_chars
        |FROM documents""".stripMargin,

    "corpus_changes_keyed" ->
      """SELECT doc_id, '[redacted-v2]' AS text, lang, source, n_chars,
        |  'update' AS _change_type
        |FROM documents WHERE doc_id % 31 = 0
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars, 'insert'
        |FROM documents WHERE doc_id % 53 = 1
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars, 'delete'
        |FROM documents WHERE doc_id % 17 = 0 AND doc_id % 31 <> 0""".stripMargin,

    "corpus_changes_stream" ->
      """SELECT doc_id, '[redacted-v2]' AS text, lang, source, n_chars,
        |  'update' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM documents WHERE doc_id % 31 = 0
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars, 'insert',
        |  CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id % 53 = 1
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars, 'delete', CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id % 17 = 0 AND doc_id % 31 <> 0""".stripMargin,

    "corpus_stream_mirror" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 31 = 0 THEN '[redacted-v2]' ELSE text END AS text,
        |  lang, source, n_chars
        |FROM documents WHERE doc_id % 17 <> 0 OR doc_id % 31 = 0
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin,

    "corpus_apply_delta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 31 = 0 THEN '[redacted-v2]' ELSE text END AS text,
        |  lang, source, n_chars
        |FROM documents WHERE doc_id % 17 <> 0 OR doc_id % 31 = 0
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars
        |FROM documents WHERE doc_id % 53 = 1""".stripMargin,

    "corpus_changes" ->
      """SELECT doc_id, '[redacted-v2]' AS text, lang, source, n_chars,
        |  'added' AS _change FROM documents WHERE doc_id % 31 = 0
        |UNION ALL
        |SELECT doc_id + 10000000, text, lang, source, n_chars, 'added'
        |FROM documents WHERE doc_id % 53 = 1
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars, 'removed'
        |FROM documents WHERE doc_id % 31 = 0""".stripMargin
  )
}
