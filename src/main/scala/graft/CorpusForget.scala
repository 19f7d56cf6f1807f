package graft

import org.apache.spark.sql.functions._

import graft.incremental.SnapshotTable
import graft.ops.TextOps

/** Right-to-be-forgotten over a published corpus — the operational form
  * of the `corpus_forget` query: remove a set of doc_ids from the
  * corpus STORE ([[CorpusRun]]'s SnapshotTable at `<outDir>/corpus`)
  * and re-derive every trainer-facing export, so the documents are gone
  * from the store, its history, the split-clustered `kept/` export, and
  * the `train_packed` sequence bins.
  *
  * Usage: runMain graft.CorpusForget <outDir> <id1,id2,…> [mirrorOutDir]
  *
  * The forget two-step every snapshot-table format requires:
  *   1. keyed DELETE — file-pruned copy-on-write: only files whose
  *      doc_id min/max range can hold a doomed id are rewritten; at
  *      100 TB with range-clustered files that is a sliver of the
  *      corpus, and the commit is atomic (readers see pre- or
  *      post-delete, never partial);
  *   2. retire(1) + vacuum — prior versions still REFERENCE the
  *      pre-delete files (time travel would resurrect the forgotten
  *      text), so true forget drops the history and reclaims the bytes.
  *
  * REPLICATION: a [[graft.incremental.SnapshotSync]] mirror of the
  * store is its own copy of the forgotten text — the source two-step
  * does not reach it (the next sync's retention-fence full refresh
  * removes the docs from the mirror's HEAD, but the mirror's history
  * still references its pre-refresh files). Passing `mirrorOutDir` runs
  * the SAME two-step on the mirror's store, under the mirror's own
  * maintenance lock, so erasure is complete on both sides in one
  * invocation; the mirror's cursor is untouched, and its next sync
  * full-refreshes from the post-forget source (the fence fires because
  * the source retired the cursor version), after which feed-following
  * resumes. Per-side byte/file reclamation is audited separately.
  *
  * Reports `removed docs / files reclaimed / bytes reclaimed` on stdout
  * and appends the same numbers to the run's `report.parquet` funnel —
  * an auditor reads one lineage artifact for both curation and erasure.
  */
object CorpusForget {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val ids = args(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    require(ids.nonEmpty, "no doc_ids to forget")
    GraftSession.run { spark =>
      import spark.implicits._

      val store = new SnapshotTable(spark, s"$outDir/corpus", "doc_id")
      require(store.exists, s"no corpus store at $outDir/corpus — run CorpusRun first")

      def dataBytes: Long = {
        val p = new org.apache.hadoop.fs.Path(s"$outDir/corpus/data")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }

      val before = store.read().count()
      val bytesBefore = dataBytes
      // Zero-grace vacuum under the store's MAINTENANCE LOCK: grace 0 is
      // what makes the forget's byte reclamation immediate and auditable,
      // but it would reclaim a concurrent writer's just-staged files —
      // the lock (graft.incremental.StoreLock) serializes this pass
      // against CorpusRun's publish block instead of assuming quiescence.
      val (reclaimed, after, bytesAfter) =
        graft.incremental.StoreLock.withLock(spark, s"$outDir/corpus", "CorpusForget",
            renewEveryMs = graft.incremental.StoreLock.defaultStaleMs / 3) {
          // 1. atomic keyed DELETE (file-pruned copy-on-write)
          store.delete(ids.toDF("doc_id"), tag = s"forget:${ids.size}")
          // 2. true forget: retire pre-delete history, reclaim its files now
          store.retire(keepLast = 1)
          val reclaimed = store.vacuum(graceMs = 0)
          // re-derive the exports from the post-forget snapshot: the
          // forgotten docs vanish from kept/ AND from the packed training
          // sequences (bins re-pack without them)
          val published = store.read()
          graft.sources.Sources.clusteredWrite(published, s"$outDir/kept", "split")
          TextOps.packSequences(published.filter(col("split") === "train"))
            .write.mode("overwrite").parquet(s"$outDir/train_packed")
          (reclaimed, published.count(), dataBytes)
        }

      val removed = before - after
      val bytes = bytesBefore - bytesAfter
      // mirror-side erasure: the same delete+retire+vacuum two-step on a
      // configured replica, under ITS maintenance lock — without this the
      // forgotten text survives in the mirror's history until someone
      // separately retires+vacuums it (the replication hole a
      // source-only forget leaves open)
      val mirrorRows = args.drop(2).headOption.toSeq.flatMap { mirrorOutDir =>
        val mirror = new SnapshotTable(spark, s"$mirrorOutDir/corpus", "doc_id")
        require(mirror.exists,
          s"no mirror store at $mirrorOutDir/corpus — nothing to erase there")
        def mirrorBytes: Long = {
          val p = new org.apache.hadoop.fs.Path(s"$mirrorOutDir/corpus/data")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
        }
        val mBefore = mirror.read().count()
        val mBytesBefore = mirrorBytes
        // the delete CARRIES the mirror's sync cursor forward (the
        // erasure doesn't change which source version the mirror tracks);
        // a tag-less delete would strand the mirror cursor-less and the
        // next sync would fail loudly instead of fence-refreshing
        val cursor = mirror.currentTag.getOrElse(s"forget:${ids.size}")
        val (mReclaimed, mAfter, mBytesAfter) =
          graft.incremental.StoreLock.withLock(
            spark, s"$mirrorOutDir/corpus", "CorpusForget",
            renewEveryMs = graft.incremental.StoreLock.defaultStaleMs / 3) {
            mirror.delete(ids.toDF("doc_id"), tag = cursor)
            mirror.retire(keepLast = 1)
            val r = mirror.vacuum(graceMs = 0)
            (r, mirror.read().count(), mirrorBytes)
          }
        println(s"[forget] mirror removed=${mBefore - mAfter} docs " +
          s"files_reclaimed=${mReclaimed.size} bytes_reclaimed=${mBytesBefore - mBytesAfter} " +
          s"mirror_version=${mirror.currentVersion.get}")
        Seq(
          ("forget_mirror_removed_docs", mBefore - mAfter),
          ("forget_mirror_files_reclaimed", mReclaimed.size.toLong),
          ("forget_mirror_bytes_reclaimed", mBytesBefore - mBytesAfter))
      }
      (Seq(
        ("forget_removed_docs", removed),
        ("forget_files_reclaimed", reclaimed.size.toLong),
        ("forget_bytes_reclaimed", bytes)) ++ mirrorRows)
        .toDF("stage", "n_docs")
        .coalesce(1).write.mode("append").parquet(s"$outDir/report.parquet")
      println(s"[forget] removed=$removed docs files_reclaimed=${reclaimed.size} " +
        s"bytes_reclaimed=$bytes corpus_version=${store.currentVersion.get}")
      println(s"[forget] re-exported kept/ + train_packed from $outDir/corpus")
    }
  }
}
