package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.incremental.{SnapshotSync, SnapshotTable}

/** The snapshot store as a FULL Spark data source — one format string
  * (`graft-snapshot`, via META-INF/services) for batch read, batch
  * write, stream read, and stream write:
  * {{{
  *   spark.read.format("graft-snapshot")            // batch: the manifest-
  *     .option("path", dir).option("key", "doc_id") // pruned scan relation;
  *     .load()                                      // versionAsOf/timestampAsOf
  *                                                  // time-travel options
  *   df.write.format("graft-snapshot")              // batch: atomic commits;
  *     .option("path", dir).option("key", "doc_id") // mode Append +
  *     .mode("append").save()                       // option(write=merge) = keyed MERGE
  *
  *   spark.readStream.format("graft-snapshot")
  *     .option("path", storeDir).option("key", "doc_id")
  *     .load()            // schema: table columns + _change_type + _commit_version
  *     .writeStream.format("graft-snapshot")
  *     .option("path", mirrorDir).option("key", "doc_id").option("mode", "cdc")
  *     .option("checkpointLocation", ckpt).start()   // a live mirror, two calls
  * }}}
  *
  * == Source ==
  * A downstream consumer (a trainer re-tokenizing only changed
  * documents, an online mirror, an index updater) `readStream`s the
  * table's CDC feed instead of polling snapshots.
  * OFFSETS ARE TABLE VERSIONS — the manifest log is the source's own
  * commit log, so there is no side-channel state to drift: a micro-batch
  * covering versions (from, to] is exactly
  * [[graft.incremental.SnapshotTable.changesKeyed]] over that interval
  * (insert/update post-images, delete pre-images), stamped with the
  * interval's end version. The feed is REWRITE-OP-AWARE (the interval
  * decomposes at `optimize` commits), so routine compaction of a 100 TB
  * store never floods the stream with rewritten mass — a consumer reads
  * churn, period. Batches re-derive from manifests on recovery, so the
  * checkpointed offset must stay within the table's retention window
  * ([[graft.incremental.SnapshotTable.retire]]) — the same fence
  * [[graft.incremental.SnapshotSync]] documents.
  *
  * Options: `path` (table dir, required), `key` (table key column —
  * OPTIONAL on an existing table: it resolves from the manifest's own
  * `#key` header, so reads need only the path; required when a write
  * will create the table), `startingVersion` (first version ALREADY SEEN — a FRESH
  * stream delivers changes strictly after it; default: the current
  * version at stream start, i.e. tail-only; a RESTARTED stream always
  * resumes from its checkpointed version offset instead),
  * `maxVersionsPerBatch` (rate limit: each micro-batch spans at most
  * this many versions; best-effort on the first post-restart batch,
  * which catches up to the head it finds).
  *
  * == Sink ==
  * Each micro-batch commits to the target table ATOMICALLY, with the
  * batch id riding the commit tag — a replayed batch (restart after a
  * crash between sink commit and checkpoint commit) reads the tag and
  * skips, so the sink is exactly-once while it is the table's only
  * writer (a foreign un-tagged commit interleaving resets the tag; a
  * replay after that re-applies one batch — idempotent under `upsert`
  * and `cdc`, duplicating under `append` — the standard single-writer
  * sink assumption). `mode` picks the application:
  *   - `upsert` (default): keyed MERGE of the batch (first batch
  *     creates the table);
  *   - `cdc`: the batch carries `_change_type` (this source's own feed
  *     shape, or any CDC frame) — applied as ONE atomic upsert+delete
  *     through [[graft.incremental.SnapshotSync.applyFeed]], the
  *     function every mirror applies its feed with;
  *   - `append`: blind append (event logs; no key semantics).
  * `clusterPartitions` and `statsColumns` (comma-separated) configure
  * the target handle, so a streamed store keeps the same clustering
  * and data-skipping stats a batch-built one would have.
  *
  * This file lives under the `org.apache.spark.sql` package tree for
  * the same reason [[GraftSqlShim]] does: the v1 streaming seams
  * (`Source`, `Sink`, `LongOffset`) and the isStreaming-tagged /
  * re-executable DataFrame constructors are `private[sql]`-adjacent
  * internals — the standard extension point every v1 connector uses,
  * kept to this one thin file; all table logic is SnapshotTable's
  * public API. */
final class SnapshotTableProvider extends StreamSourceProvider with StreamSinkProvider
    with RelationProvider with CreatableRelationProvider with DataSourceRegister {

  /** One format string for all FOUR halves — batch read, batch write,
    * stream read, stream write: `format("graft-snapshot")` (registered
    * via META-INF/services, the standard DataSourceRegister rung; the
    * fully qualified class name keeps working). */
  override def shortName(): String = "graft-snapshot"

  /** BATCH read: `spark.read.format("graft-snapshot").option("path", …)
    * .option("key", …).load()` returns the manifest-pruned [[
    * graft.incremental.SnapshotTable.scan]] relation — pushed filters
    * file-skip off the manifest's per-file stats exactly like the Scala
    * handle's scan(), so a SQL-only user (CREATE TEMP VIEW over this
    * load) gets the same pruning with zero Scala. Time travel:
    * `versionAsOf` (a committed version number) or `timestampAsOf`
    * (epoch millis, or `yyyy-MM-dd HH:mm:ss`, resolved off manifest
    * mtimes like [[graft.incremental.SnapshotTable.versionAsOf]]);
    * `versionAsOf` wins when both are set. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val p = SnapshotChangeFeedSource.normalize(parameters)
    val tbl = SnapshotChangeFeedSource.handle(sqlContext.sparkSession, p)
    val version = p.get("versionasof").map(_.toLong)
      .orElse(p.get("timestampasof").map { s =>
        val ms = scala.util.Try(s.toLong)
          .getOrElse(java.sql.Timestamp.valueOf(s).getTime)
        tbl.versionAsOf(ms).getOrElse(throw new IllegalStateException(
          s"no committed version at ${p("path")} as of $s"))
      })
    tbl.scanRelation(version)
  }

  /** BATCH write: `df.write.format("graft-snapshot").option("path", …)
    * .option("key", …).mode(…).save()` — the write half a SQL/batch
    * user needs beside the read. SaveMode maps onto the table's own
    * commits: `Overwrite` → create/replace, `Append` → append (or a
    * keyed MERGE with `option("write", "merge")` — the reference's ON
    * CONFLICT semantics from a plain DataFrameWriter), `ErrorIfExists`
    * (the default) → create only, `Ignore` → create if absent. Handle
    * config rides the same options as the streaming sink
    * (`clusterPartitions`, `statsColumns`, `keyBloomBits`,
    * `deleteVectorMaxRows`), plus `tag` for the commit tag. Every mode
    * is ONE atomic manifest commit. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val p = SnapshotChangeFeedSource.normalize(parameters)
    val t = SnapshotChangeFeedSource.configuredHandle(sqlContext.sparkSession, p)
    val how = p.getOrElse("write", "append")
    require(Set("append", "merge")(how),
      s"write option must be append|merge, got $how")
    val tag = p.getOrElse("tag", "")
    // a MERGE-intent first write creates the table — enforce the keyed
    // contract it opted into, like the streaming sink's batch 0
    def createKeyed(): Long = {
      if (how == "merge")
        SnapshotChangeFeedSource.requireKeyUnique(data, p("key"), "first merge write")
      t.create(data, tag)
    }
    mode match {
      case SaveMode.Overwrite => t.create(data, tag)
      case SaveMode.Append =>
        if (!t.exists) createKeyed()
        else if (how == "merge") t.merge(data, tag = tag)
        else t.append(data, tag)
      case SaveMode.ErrorIfExists =>
        if (t.exists) throw new IllegalStateException(
          s"snapshot table at ${p("path")} already exists (SaveMode.ErrorIfExists); " +
            "use mode append/overwrite")
        t.create(data, tag)
      case SaveMode.Ignore => if (!t.exists) t.create(data, tag)
    }
    // post-write handle: schema-only (the scan-capable relation comes
    // from the READ path; building it here would wrongly refuse tables
    // that carry deletion vectors from earlier deletes)
    val ctx = sqlContext
    val out = t.schema // manifest-served: no read plan, no sidecar reads
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = out
    }
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val p = SnapshotChangeFeedSource.normalize(parameters)
    val tbl = SnapshotChangeFeedSource.handle(sqlContext.sparkSession, p)
    ("graft-snapshot-changes", SnapshotChangeFeedSource.feedSchema(tbl))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new SnapshotChangeFeedSource(sqlContext.sparkSession,
      SnapshotChangeFeedSource.normalize(parameters), Some(metadataPath))

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink =
    new SnapshotTableSink(sqlContext.sparkSession,
      SnapshotChangeFeedSource.normalize(parameters))
}

/** The write half of [[SnapshotTableProvider]] — see its Sink section.
  * Batch-id tags make replays no-ops; every application path is one
  * atomic SnapshotTable commit. */
private[graft] final class SnapshotTableSink(
    spark: SparkSession, p: Map[String, String]) extends Sink {

  private val dir = p.getOrElse("path",
    throw new IllegalArgumentException("snapshot sink needs option path=<table dir>"))
  private val key = p.getOrElse("key",
    throw new IllegalArgumentException("snapshot sink needs option key=<key column>"))
  private val mode = p.getOrElse("mode", "upsert")
  require(Set("upsert", "cdc", "append")(mode),
    s"snapshot sink mode must be upsert|cdc|append, got $mode")

  /** Replay dedup is keyed on (sinkId, batchId) — batch ids alone are
    * only unique WITHIN one stream's checkpoint lineage. Re-pointing a
    * NEW stream (fresh checkpoint, batch ids restart at 0) at a target
    * another stream built would read the old tag's higher batch id and
    * silently drop its first batches; give each logical pipeline its
    * own `sinkId` (default empty = single-pipeline targets) and a
    * different sinkId never dedups against another's tags. */
  private val sinkId = p.getOrElse("sinkid", "")

  // the shared option surface (clusterPartitions, statsColumns,
  // keyBloomBits, deleteVectorMaxRows) — a cdc-mode mirror with
  // deleteVectorMaxRows set applies each batch's scattered deletes as
  // deletion vectors instead of per-batch carrier-file rewrites
  private def table = SnapshotChangeFeedSource.configuredHandle(spark, p)

  private val TagPrefix = s"stream-batch:$sinkId:"
  private def lastApplied(t: SnapshotTable): Option[Long] =
    t.currentTag.filter(_.startsWith(TagPrefix))
      .flatMap(s => scala.util.Try(s.stripPrefix(TagPrefix).toLong).toOption)

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val t = table
    if (t.exists && lastApplied(t).exists(_ >= batchId)) return // replay: already applied
    val tag = s"$TagPrefix$batchId"
    // the engine's addBatch frame is single-use; re-wrap its planned
    // execution as an ordinary batch frame
    val batch = GraftSqlShim.rebatch(data)
    // an EXISTING cdc-mode table takes the mirrors' one feed application
    // (one cached copy, one applyDelta); no emptiness probe — an empty
    // batch lands on applyDelta's empty-delta fast path, setTag(tag)
    if (mode == "cdc" && t.exists) {
      SnapshotSync.applyFeed(t, batch, tag)
      return
    }
    // persisted across the several actions the other application paths
    // run on it
    val df = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a cdc batch's table rows: its upsert side
      val rows = if (mode == "cdc") SnapshotSync.feedSides(df, key)._1 else df
      // the engine's fresh-start batch 0 (and any replayed no-op) is
      // EMPTY: advance only the cursor tag — never a contentless data
      // commit — or pin the schema with an empty create when the table
      // does not exist yet
      if (df.isEmpty) {
        if (!t.exists) t.create(rows, tag)
        else if (!t.currentTag.contains(tag)) t.setTag(tag)
        return
      }
      mode match {
        case "append" =>
          if (t.exists) t.append(df, tag) else t.create(df, tag)
        case "upsert" if t.exists => t.merge(df, tag = tag)
        case _ =>
          // the keyed modes' FIRST batch goes through create(), which has
          // no key-semantics of its own — enforce the same key-uniqueness
          // contract merge/applyDelta enforce on every later batch, so a
          // duplicate-key batch 0 fails as loudly as a duplicate-key
          // batch N would. A cdc first batch == applyDelta against an
          // empty table: every upsert lands (a same-key delete loses —
          // upsert wins) and bare deletes are no-ops; an anti-join here
          // would silently diverge from what the identical batch does on
          // an existing table
          SnapshotChangeFeedSource.requireKeyUnique(rows, key, s"stream batch $batchId")
          t.create(rows, tag)
      }
      ()
    } finally df.unpersist(blocking = false)
  }
}

private[graft] object SnapshotChangeFeedSource {
  def normalize(parameters: Map[String, String]): Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  /** The table directory and key column the provider options name. The
    * key option is OPTIONAL on an existing table: every commit records
    * its key column in the manifest's #key header, so a read needs only
    * the path (the same resolution the SQL catalog uses); an explicit
    * option still wins, and is required when a write will create the
    * table. */
  private def dirAndKey(spark: SparkSession, p: Map[String, String]): (String, String) = {
    val dir = p.getOrElse("path",
      throw new IllegalArgumentException("a snapshot table needs option path=<table dir>"))
    val key = p.get("key").orElse(SnapshotTable.keyAt(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot table at $dir to read the key column from — pass option " +
          "key=<key column> (required only before the table exists)"))
    (dir, key)
  }

  /** A READ handle from provider options (batch scans, the change-feed
    * source): `monotonicReads`, so successive resolves never go back. */
  def handle(spark: SparkSession, p: Map[String, String]): SnapshotTable = {
    val (dir, key) = dirAndKey(spark, p)
    new SnapshotTable(spark, dir, key, monotonicReads = true)
  }

  /** A WRITE-configured handle from provider options — shared by the
    * streaming sink and the batch write half, so a table built through
    * either keeps the same clustering, data-skipping stats, key blooms,
    * and merge-on-read delete policy a Scala-handle-built one would. Not
    * `monotonicReads`: a writer must not floor on a retracted version. */
  def configuredHandle(spark: SparkSession, p: Map[String, String]): SnapshotTable = {
    val (dir, key) = dirAndKey(spark, p)
    new SnapshotTable(spark, dir, key,
      clusterPartitions = p.get("clusterpartitions").map(_.toInt),
      statsColumns = p.get("statscolumns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      keyBloomBits = p.get("keybloombits").map(_.toInt).getOrElse(0),
      deleteVectorMaxRows = p.get("deletevectormaxrows").map(_.toLong).getOrElse(0L))
  }

  /** Table schema + the CDC rider columns (manifest-served — no read
    * plan, no data files). */
  def feedSchema(tbl: SnapshotTable): StructType =
    StructType(tbl.schema.fields.toSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))

  /** The keyed FIRST-write guard: `create()` has no key semantics of
    * its own, so every keyed entry point that may create (streaming
    * sink upsert/cdc batch 0, batch `write=merge` on a fresh dir)
    * enforces the same key-uniqueness contract merge/applyDelta enforce
    * on every later write. */
  def requireKeyUnique(d: DataFrame, key: String, what: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit, sum}
    // nulls counted SEPARATELY: count_distinct ignores them, so folding
    // them into the duplicate arithmetic would report "N duplicate keys"
    // for a batch whose actual defect is null keys — and a null key can
    // never be merged against later, so it is rejected in its own words
    val b = d.agg(count(lit(1)), count_distinct(col(key)),
      sum(col(key).isNull.cast("long"))).collect()(0)
    val nulls = if (b.isNullAt(2)) 0L else b.getLong(2)
    if (nulls > 0)
      throw new IllegalArgumentException(
        s"$what carries $nulls null $key keys — a keyed write cannot hold null keys " +
          "(no later merge/delete could ever address them)")
    if (b.getLong(0) != b.getLong(1))
      throw new IllegalArgumentException(
        s"$what carries ${b.getLong(0) - b.getLong(1)} duplicate $key keys — a keyed " +
          "first write must be key-unique, like every keyed write after it")
  }
}

final class SnapshotChangeFeedSource(
    spark: SparkSession, p: Map[String, String],
    metadataPath: Option[String] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val tbl = SnapshotChangeFeedSource.handle(spark, p)

  /** The stream's start base — the version ALREADY SEEN when the stream
    * was born. PERSISTED in the engine-provided source metadata dir on
    * first creation and read back on recovery: a restarted instance
    * must replay `getBatch(None, end)` (the WAL-logged first batch a
    * crash left unapplied) against the ORIGINAL base, not this
    * instance's restart-time head — defaulting again at restart would
    * silently re-deliver that interval as empty and lose it. */
  private val startVersion: Long = {
    def metaFile(mp: String) = new org.apache.hadoop.fs.Path(mp, "graft-start-version")
    val fs = metadataPath.map(mp => new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration))
    val persisted = for {
      mp <- metadataPath; f <- fs
      if f.exists(metaFile(mp))
    } yield {
      val in = f.open(metaFile(mp))
      try {
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { acc.write(buf, 0, n); n = in.read(buf) }
        new String(acc.toByteArray, "UTF-8").trim.toLong
      } finally in.close()
    }
    persisted.getOrElse {
      // an explicit base resolves onto the COMMIT LOG: a torn-claim gap
      // number would make every getBatch(from = base) fail on a version
      // that never committed — persisted, so every restart would fail
      // identically (the same wedge the rate-limit cap avoids). The
      // newest committed version AT OR BELOW the request has identical
      // "changes strictly after" semantics (nothing committed between).
      val v = p.get("startingversion").map(_.toLong).map { req =>
        // a base ABOVE the current head is a caller error (usually a
        // version number from a different table or environment), not a
        // gap to resolve — silently mapping it down to "start from now"
        // would quietly skip the interval the caller thought it named
        val head = tbl.currentVersion.getOrElse(throw new IllegalStateException(
          s"no snapshot table at ${p("path")} — create() it before streaming its changes"))
        if (req > head) throw new IllegalArgumentException(
          s"startingVersion $req at ${p("path")} is above the current version $head — " +
            "a stream cannot start from a version that has not been committed yet")
        tbl.committedVersionAtOrBelow(req).getOrElse(
          throw new IllegalArgumentException(
            s"startingVersion $req at ${p("path")} has no committed version at or " +
              "below it — the requested base predates the retained history"))
      }.getOrElse(
        tbl.currentVersion.getOrElse(throw new IllegalStateException(
          s"no snapshot table at ${p("path")} — create() it before streaming its changes")))
      for { mp <- metadataPath; f <- fs } {
        if (!f.exists(new org.apache.hadoop.fs.Path(mp))) f.mkdirs(new org.apache.hadoop.fs.Path(mp))
        val out = f.create(metaFile(mp), false)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      }
      v
    }
  }

  /** The resolved start base (spec seam — `private[graft]` here would
    * bind to org.apache.spark.sql.graft, not the library's own root
    * package, so this stays public). */
  def startBase: Long = startVersion
  private val maxVersionsPerBatch: Long =
    p.get("maxversionsperbatch").map(_.toLong).getOrElse(Long.MaxValue)
  require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")

  /** Highest version this source has OFFERED — offers must never
    * regress, and the rate limit advances from here, not from the
    * table's head. */
  private var offered: Long = startVersion

  /** The committed head the latest offer resolved. */
  private var head: Option[Long] = None

  override val schema: StructType = SnapshotChangeFeedSource.feedSchema(tbl)

  override def getOffset: Option[Offset] = {
    // An idle trigger lists nothing: the head comes from the store's
    // newest-version resolve. The offer lands ON THE COMMIT LOG, not
    // on raw arithmetic: committed version numbers have permanent gaps
    // (a crashed writer's torn claim), and an offer pointing at a gap
    // would make getBatch fail on a version that does not exist — then
    // fail identically on every restart, wedging the stream. See
    // SnapshotTable.nextFeedOffer for the window/gap resolution.
    val (capped, newest) = tbl.nextFeedOffer(offered, maxVersionsPerBatch).getOrElse(return None)
    head = Some(newest)
    if (capped > offered) offered = capped
    // ALWAYS offer (never gate on startVersion): on recovery this
    // instance's startVersion is the current head, but the engine's
    // checkpointed offset may sit below it — the offer is what lets it
    // schedule the catch-up interval. A fresh stream whose head equals
    // startVersion just runs one empty first batch (from == to).
    Some(LongOffset(offered))
  }

  // ---- Trigger.AvailableNow (drain-to-current, then stop) ----
  //
  // The operational backfill shape: "process everything committed as of
  // query start — across as many rate-limited micro-batches as that
  // takes — then terminate". The engine drives sources implementing
  // SupportsTriggerAvailableNow through the admission-control offset
  // path (the same v1-Source pattern Spark's own FileStreamSource
  // uses), so [[latestOffset]] below replaces [[getOffset]] as the
  // per-trigger offer for EVERY trigger kind; with no drain cap armed
  // it delegates straight to getOffset, so ProcessingTime behavior is
  // byte-identical.

  /** The version the drain stops at — captured ONCE per AvailableNow
    * run, before the first batch: commits landing while the drain runs
    * stay for the next run, exactly like a batch job reading a pinned
    * snapshot. None outside AvailableNow. */
  private var drainTo: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    // the cap lands on the COMMIT LOG like every other cursor: the
    // current committed head (or the birth base on an empty-so-far
    // feed, making the drain a no-op rather than an error)
    drainTo = Some(tbl.currentVersion.getOrElse(startVersion))

  /** Rate limiting stays option-driven (`maxVersionsPerBatch`), not
    * engine-driven: the engine's limit vocabulary (rows/files) cannot
    * express "manifest versions", so the source applies its own cap
    * inside the offer. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The head the same trigger's [[latestOffset]] resolved — Spark calls
    * this right after it, and reads the result only for the query's
    * progress report (`SourceProgress.latestOffset`), so it re-probes
    * nothing. */
  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    head.map(LongOffset(_)).orNull

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val offer = getOffset // rate cap + gap resolution as ever
    drainTo match {
      case None => offer.orNull
      case Some(cap) =>
        // clamp at the captured head: both candidates are committed
        // versions (the cap was the committed head at capture; the
        // offer comes off the commit log), so the clamp can never point
        // a batch at a torn-claim gap. When the clamped offer stops
        // advancing the engine sees no new data and terminates the
        // drain — a concurrent commit above the cap stays for the next
        // run.
        offer.map(o => LongOffset(math.min(o.json.trim.toLong, cap))).orNull
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    def v(o: Offset): Long = o.json.trim.toLong
    val from = start.map(v).getOrElse(startVersion)
    val to = v(end)
    // recovery: never re-offer below anything the engine has already
    // logged — both the replayed interval's end AND its start (the
    // engine re-runs getBatch on restart for the last committed batch
    // precisely so sources can re-initialize; a rate-limited stream
    // must resume its cap from there, not from the persisted birth
    // base, or it would offer offsets below the committed one and
    // re-deliver already-committed intervals)
    if (to > offered) offered = to
    start.map(v).filter(_ > offered).foreach(offered = _)
    val batch =
      if (to <= from)
        tbl.read().limit(0) // recovery edge: an already-committed interval
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
          .withColumn("_commit_version", org.apache.spark.sql.functions.lit(to))
      else {
        // RETENTION FENCE: the interval re-derives from manifests, so
        // the diff base must still be on disk. A retire() that outran
        // this stream's checkpoint (a rate-limited stream lagging a
        // retention job) would otherwise surface as a bare "no
        // committed version" from deep inside the diff — fail with the
        // operational cause and the recovery instead (the same fence
        // SnapshotSync documents). The feed's own manifest listing is
        // the batch's only one: the oldest version is probed only when
        // the feed fails to resolve.
        val feed =
          try tbl.changesKeyed(from, to)
          catch {
            case e: IllegalStateException => tbl.oldestCommittedVersion match {
              case Some(oldest) if oldest > from => throw new IllegalStateException(
                s"stream cursor is at version $from but the table's retained history now " +
                  s"starts at $oldest — retire() outran this stream's checkpoint. " +
                  "Restart with a fresh checkpoint (and startingVersion) and re-sync the " +
                  "consumer, or retain more history than the stream's maximum lag.", e)
              case _ => throw e
            }
          }
        feed.withColumn("_commit_version", org.apache.spark.sql.functions.lit(to))
      }
    // a streaming source's schema is FIXED at stream start: when the
    // table evolved (added a nullable column) inside the interval, the
    // feed carries more columns than this stream declared — project to
    // the declared set (the standard source contract: restart the
    // stream to pick up new columns; nothing is lost on the table).
    // The reverse holds too: a RESTARTED instance re-derives `schema`
    // from the now-evolved table while the engine replays the last
    // WAL-logged batch over a PRE-evolution interval — a declared
    // column the batch does not carry reads as null, mirroring the
    // table's own read-nulls-for-old-files contract, instead of
    // failing the restart permanently on an AnalysisException.
    // Types drift the same two ways across a WIDEN (int→long /
    // float→double DDL): a widen INSIDE a live stream's interval hands
    // this (narrow-declared) instance a wide batch — irrecoverably
    // mismatched, fail loudly naming the restart (same checkpoint; the
    // restarted instance re-derives the wide schema) rather than
    // tripping an opaque engine assertion; a RESTART replaying a
    // pre-widen interval reads the narrow type under the now-wide
    // declared schema — lossless up-cast, mirror of the table's own
    // read-old-files-wide contract.
    val have = batch.columns.toSet
    val projected = batch.select(schema.fields.toSeq.map { f =>
      if (!have(f.name))
        org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      else {
        val bt = batch.schema(f.name).dataType
        if (bt == f.dataType) org.apache.spark.sql.functions.col(f.name)
        else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(bt, f.dataType))
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)
        else throw new IllegalStateException(
          s"column ${f.name} changed type ${bt.sql} -> ${f.dataType.sql} inside " +
            "the stream's interval — a streaming source's schema is fixed at " +
            "start; restart the stream on the SAME checkpoint to continue with " +
            "the widened type (nothing is lost on the table)")
      }
    }: _*)
    GraftSqlShim.streamingFrame(projected)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
