package graft.incremental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental table replication over the change feed: maintain a
  * MIRROR snapshot table that converges to the source by applying only
  * what changed since the last sync, never by re-copying the table.
  *
  * Every mirror applies the KEY-GRAIN feed ([[SnapshotTable.changesKeyed]]
  * shape: table columns plus `_change_type`) through one function,
  * [[applyFeed]]: the batch [[sync]] below, the `cdc`-mode stream sink of
  * [[org.apache.spark.sql.graft.SnapshotTableProvider]] (the online
  * mirror: `graft-snapshot` feed source into that sink) and any
  * foreachBatch consumer.
  *
  * The sync CURSOR is the mirror's application tag (the source version
  * it reflects) — one fact riding the mirror's own commit, so a crash
  * between "apply" and "record cursor" is impossible by construction
  * (the [[SnapshotTable]] tag discipline, same as the incremental
  * pipeline's watermark). Re-running a sync whose cursor already equals
  * the source version is a no-op.
  *
  * One sync = ONE atomic mirror commit ([[SnapshotTable.applyDelta]]),
  * so mirror readers only ever observe consistent source versions,
  * never a half-applied feed. The feed's cost is ∝ LOGICAL churn — the
  * interval decomposes at `optimize` commits, so a sync across the
  * routine compaction an accumulate-mode store auto-triggers reads the
  * merges' churn, never the compacted mass. A rewrite-only interval
  * (optimize and nothing else) yields an empty feed, which
  * [[SnapshotTable.applyDelta]] applies as a tag-only cursor advance —
  * no contentless data version lands on the mirror. The mirror lags by
  * sync cadence.
  */
object SnapshotSync {

  /** Bring `mirror` up to `source`'s current version. Returns the
    * source version the mirror now reflects. Cold start (mirror absent)
    * copies the current snapshot once; warm syncs apply the key-grain
    * feed since the cursor through [[applyFeed]]. */
  def sync(source: SnapshotTable, mirror: SnapshotTable): Long = {
    val srcV = source.currentVersion.getOrElse(
      throw new IllegalStateException("source table has no committed version"))
    if (!mirror.exists) {
      mirror.create(source.readVersion(srcV), tag = s"sync:$srcV")
      return srcV
    }
    val cursor = mirror.currentTag
      .filter(_.startsWith("sync:")).map(_.stripPrefix("sync:").toLong)
      .getOrElse(throw new IllegalStateException(
        "mirror carries no sync cursor tag — was it created outside SnapshotSync?"))
    if (cursor == srcV) return srcV // already current: no-op, no commit
    // RETENTION FENCE: the feed needs the cursor version's manifest; a
    // source that retired past it (the forget two-step does exactly
    // this) forces a FULL REFRESH — an overwrite commit, after which
    // feed-following resumes. This is every change-feed's retention
    // caveat made explicit. NOTE for erasure-driven refreshes: the
    // mirror's own history still references pre-refresh files — a true
    // forget must retire+vacuum the MIRROR too (caller's job, same
    // two-step as the source).
    val feed =
      try source.changesKeyed(cursor, srcV)
      catch {
        case _: IllegalStateException =>
          mirror.create(source.readVersion(srcV), tag = s"sync:$srcV")
          return srcV
      }
    applyFeed(mirror, feed, s"sync:$srcV")
    srcV
  }

  /** Apply one key-grain change feed to `mirror` as ONE atomic
    * [[SnapshotTable.applyDelta]] commit tagged `tag`: `insert`/`update`
    * rows upsert, `delete` rows delete their key. A `_commit_version`
    * rider column is ignored. The feed is persisted once for the two
    * sides and unpersisted after the commit. An empty feed advances only
    * the tag. Returns the mirror's version. */
  def applyFeed(mirror: SnapshotTable, feed: DataFrame, tag: String): Long = {
    val cached = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (upserts, deleteKeys) = feedSides(cached, mirror.keyColumn)
      mirror.applyDelta(upserts, deleteKeys, tag = tag)
    } finally cached.unpersist(blocking = false)
  }

  /** A key-grain feed's (upserts, delete keys): rows whose `_change_type`
    * is not `delete` as table rows, and the `delete` rows' keys. A key in
    * both sides lands as its upsert ([[SnapshotTable.applyDelta]]'s
    * upsert-wins rule). */
  def feedSides(feed: DataFrame, key: String): (DataFrame, DataFrame) = {
    require(feed.columns.contains("_change_type"),
      "a change feed wants a _change_type column (insert|update|delete)")
    val isDelete = col("_change_type") === "delete"
    (feed.filter(!isDelete).drop("_change_type", "_commit_version"),
      feed.filter(isDelete).select(col(key)))
  }
}
