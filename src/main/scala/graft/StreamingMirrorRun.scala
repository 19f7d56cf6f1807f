package graft

import org.apache.spark.sql.functions._

import graft.incremental.{SnapshotSync, SnapshotTable}

/** Direct-run entry for the STREAMING mirror cadence — the online twin
  * of the batch [[graft.incremental.SnapshotSync]], completing the
  * replication story the way [[StreamingIngestRun]] completed
  * admission: a Structured Streaming file source WATCHES the source
  * store's manifest directory (every commit is exactly one new manifest
  * file — the table format's own commit log doubles as the wake-up
  * channel, no side infrastructure), and each micro-batch runs one
  * [[SnapshotSync.sync]], converging the mirror to the source's
  * CURRENT version. The manifest contents are never interpreted by the
  * stream — the sync re-resolves and applies the op-aware change feed
  * itself — so a wake-up batched behind several commits applies them
  * as ONE delta (and skips any optimize mass), and a wake-up with
  * nothing new is the cursor no-op. Crash safety is the sync's own:
  * the cursor rides the mirror's commit tag, and the stream checkpoint
  * only dedups wake-ups, never carries state that could diverge.
  *
  * Scenario staged here (convergence is checked, [[StreamingRun]]
  * conventions): wave 1 drains the source's create commit (cold copy),
  * then merge + full compaction + delete land on the source, and
  * wave 2 drains their three manifest wake-ups — the first syncs all
  * three commits as one delta application, the rest are no-ops. The
  * streamed mirror must equal (1) the source and (2) an independent
  * mirror built by one BATCH sync, and must contain NO contentless
  * data versions (the optimize mass never crossed).
  *
  * A third arm exercises the ONE-SHOT mode (snapshot seed at v0 +
  * `Trigger.AvailableNow` drain of the CDC feed itself — the source
  * captures the committed head at start and a rate-limited drain stops
  * there), convergence-checked against the same batch sync.
  *
  * Usage: runMain graft.StreamingMirrorRun <sfDir> <workDir>
  */
object StreamingMirrorRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    GraftSession.run { spark =>
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"))
      val srcDir = s"$workDir/source"
      val mirDir = s"$workDir/mirror"
      val src = new SnapshotTable(spark, srcDir, "doc_id", clusterPartitions = Some(4))
      val mirror = new SnapshotTable(spark, mirDir, "doc_id")

      src.create(docs)
      println(s"[stream-mirror] source <- create v${src.currentVersion.get}")

      val synced = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def drain(wave: String): Unit = {
        val q = spark.readStream
          .option("maxFilesPerTrigger", 1) // one wake-up per commit, as online
          .text(s"$srcDir/manifests")
          .writeStream
          .option("checkpointLocation", s"$workDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val v = SnapshotSync.sync(src, mirror, "doc_id")
            synced += ((batchId, v))
            println(s"[stream-mirror] $wave batch $batchId -> mirror at source v$v " +
              s"(mirror op ${mirror.history.last._3})")
            ()
          }
          .start()
        q.awaitTermination()
      }

      drain("wave1") // the create commit: cold copy
      val coldOps = mirror.history.map(_._3)

      // source keeps moving: a merge, the routine compaction, an erasure
      val v1 = src.merge(docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]")))
      val v2 = src.optimize(smallBytes = Long.MaxValue)
      val v3 = src.delete(docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
      println(s"[stream-mirror] source <- merge v$v1, optimize v$v2, delete v$v3")

      drain("wave2") // three manifest wake-ups; first syncs all, rest no-op

      // convergence 1: streamed mirror == source, cursor at the head
      val srcRows = src.read()
      val diff = mirror.read().exceptAll(srcRows).count() +
        srcRows.exceptAll(mirror.read()).count()
      val cursorOk = mirror.currentTag.contains(s"sync:$v3")
      // convergence 2: == one batch sync built independently
      val batchMirror = new SnapshotTable(spark, s"$workDir/batch-mirror", "doc_id")
      SnapshotSync.sync(src, batchMirror, "doc_id")
      val batchDiff = mirror.read().exceptAll(batchMirror.read()).count() +
        batchMirror.read().exceptAll(mirror.read()).count()
      // shape: cold copy, then ONE delta for the merge+optimize+delete
      // wave (op-aware feed — the compaction never crossed), no
      // contentless versions
      val ops = mirror.history.map(_._3)
      val shapeOk = coldOps == Seq("create") &&
        ops.count(_ == "delta") == 1 && !ops.contains("overwrite")

      if (diff != 0) println(s"[stream-mirror] mirror != source: $diff differing rows")
      if (batchDiff != 0) println(s"[stream-mirror] streamed != batch sync: $batchDiff rows")
      if (!cursorOk) println(s"[stream-mirror] cursor ${mirror.currentTag} != sync:$v3")
      if (!shapeOk) println(s"[stream-mirror] unexpected mirror ops: $ops (cold $coldOps)")

      // ONE-SHOT mode (the operational backfill): snapshot-seed the
      // mirror at the source's v0, then DRAIN the CDC feed itself with
      // Trigger.AvailableNow — the source captures the committed head at
      // start and the rate-limited drain stops there (no continuous
      // query to babysit). Convergence-checked against the same batch
      // sync as the continuous arm.
      val onceDir = s"$workDir/once-mirror"
      val once = new SnapshotTable(spark, onceDir, "doc_id")
      once.create(src.readVersion(0))
      val onceQ = spark.readStream
        .format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", srcDir).option("key", "doc_id")
        .option("startingVersion", "0")
        .option("maxVersionsPerBatch", "1") // several batches, one drain
        .load()
        .writeStream
        .format("org.apache.spark.sql.graft.SnapshotTableProvider")
        .option("path", onceDir).option("key", "doc_id").option("mode", "cdc")
        .option("checkpointLocation", s"$workDir/once-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val onceDone = onceQ.awaitTermination(600000)
      val onceDiff = once.read().exceptAll(batchMirror.read()).count() +
        batchMirror.read().exceptAll(once.read()).count()
      if (!onceDone) println("[stream-mirror] one-shot drain did not self-terminate")
      if (onceDiff != 0) println(s"[stream-mirror] one-shot != batch sync: $onceDiff rows")
      println(s"[stream-mirror] one-shot drain: terminated=$onceDone diff=$onceDiff")

      val converged = diff == 0 && batchDiff == 0 && cursorOk && shapeOk &&
        onceDone && onceDiff == 0
      println(s"[stream-mirror] synced=${synced.size} batches, " +
        s"mirror ops=${ops.mkString(",")}")
      println(s"[stream-mirror] converged=$converged")
      if (!converged) GraftSession.diverged("streaming mirror diverged from the batch sync")
    }
  }
}
