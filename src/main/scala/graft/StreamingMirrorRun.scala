package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.incremental.{SnapshotSync, SnapshotTable}

/** Direct-run entry for the STREAMING mirror — the online twin of the
  * batch [[graft.incremental.SnapshotSync]]: the source store's
  * `graft-snapshot` change feed (offsets are table versions, each
  * micro-batch the key-grain feed over its interval) read into a
  * `cdc`-mode `graft-snapshot` sink, which applies every micro-batch
  * through the same [[SnapshotSync.applyFeed]] the batch sync uses.
  * Crash safety is the sink's: the batch id rides the mirror's commit
  * tag, so a replayed batch is a no-op.
  *
  * Scenario staged here (convergence is checked, [[StreamingRun]]
  * conventions): the mirror is a cold copy of the source's v0, then
  * merge + full compaction + delete land on the source, and one
  * `Trigger.AvailableNow` drain from v0 applies all three commits as
  * ONE delta (the feed is op-aware: the optimize mass never crosses).
  * The streamed mirror must equal (1) the source and (2) an
  * independent mirror built by one BATCH sync, its history must be
  * `create, delta` (no contentless data versions), and the drain must
  * end at the source's head.
  *
  * A second arm runs the same drain rate-limited to one version per
  * micro-batch (several batches, one drain that still stops at the head
  * captured at start), convergence-checked against the same batch sync.
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
      val src = new SnapshotTable(spark, srcDir, "doc_id", clusterPartitions = Some(4))

      src.create(docs)
      println(s"[stream-mirror] source <- create v${src.currentVersion.get}")

      // a cold copy of the source's v0 under `name`
      def coldCopy(name: String): SnapshotTable = {
        val t = new SnapshotTable(spark, s"$workDir/$name", "doc_id")
        t.create(src.readVersion(0))
        t
      }
      // drain the source's feed after v0 into the mirror under `name`;
      // (terminated, micro-batches, end offset of the last batch)
      def drain(name: String, maxVersionsPerBatch: Option[Int]): (Boolean, Int, Option[Long]) = {
        val q = spark.readStream.format("graft-snapshot")
          .option("path", srcDir).option("key", "doc_id")
          .option("startingVersion", "0")
          .options(maxVersionsPerBatch.map("maxVersionsPerBatch" -> _.toString).toMap)
          .load()
          .writeStream.format("graft-snapshot")
          .option("path", s"$workDir/$name").option("key", "doc_id").option("mode", "cdc")
          .option("checkpointLocation", s"$workDir/$name-ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        val done = q.awaitTermination(600000)
        if (!done) q.stop()
        val batches = q.recentProgress.map(_.batchId).distinct.length
        val end = Option(q.lastProgress).flatMap(_.sources.headOption)
          .flatMap(s => Option(s.endOffset)).map(_.trim.toLong)
        (done, batches, end)
      }

      val mirror = coldCopy("mirror")
      val coldOps = mirror.history.map(_._3)

      // source keeps moving: a merge, the routine compaction, an erasure
      val v1 = src.merge(docs.filter(col("doc_id") % 31 === 0)
        .withColumn("text", lit("[redacted-v2]")))
      val v2 = src.optimize(smallBytes = Long.MaxValue)
      val v3 = src.delete(docs.filter(col("doc_id") % 17 === 0).select("doc_id"))
      println(s"[stream-mirror] source <- merge v$v1, optimize v$v2, delete v$v3")

      val (done, batches, end) = drain("mirror", None)
      println(s"[stream-mirror] drain: terminated=$done batches=$batches " +
        s"end=v${end.getOrElse(-1)} (mirror op ${mirror.history.last._3})")

      // convergence 1: streamed mirror == source, drain ended at the head
      val srcRows = src.read()
      val diff = mirror.read().exceptAll(srcRows).count() +
        srcRows.exceptAll(mirror.read()).count()
      val cursorOk = end.contains(v3)
      // convergence 2: == one batch sync built independently
      val batchMirror = new SnapshotTable(spark, s"$workDir/batch-mirror", "doc_id")
      SnapshotSync.sync(src, batchMirror)
      val batchDiff = mirror.read().exceptAll(batchMirror.read()).count() +
        batchMirror.read().exceptAll(mirror.read()).count()
      // shape: cold copy, then ONE delta for the merge+optimize+delete
      // wave (op-aware feed — the compaction never crossed), no
      // contentless versions
      val ops = mirror.history.map(_._3)
      val shapeOk = coldOps == Seq("create") &&
        ops.count(_ == "delta") == 1 && !ops.contains("overwrite")

      if (!done) println("[stream-mirror] drain did not self-terminate")
      if (diff != 0) println(s"[stream-mirror] mirror != source: $diff differing rows")
      if (batchDiff != 0) println(s"[stream-mirror] streamed != batch sync: $batchDiff rows")
      if (!cursorOk) println(s"[stream-mirror] drain ended at $end, not v$v3")
      if (!shapeOk) println(s"[stream-mirror] unexpected mirror ops: $ops (cold $coldOps)")

      // RATE-LIMITED arm: the same drain, one version per micro-batch
      val once = coldCopy("once-mirror")
      val (onceDone, onceBatches, _) = drain("once-mirror", Some(1))
      val onceDiff = once.read().exceptAll(batchMirror.read()).count() +
        batchMirror.read().exceptAll(once.read()).count()
      if (!onceDone) println("[stream-mirror] rate-limited drain did not self-terminate")
      if (onceDiff != 0) println(s"[stream-mirror] rate-limited != batch sync: $onceDiff rows")
      println(s"[stream-mirror] rate-limited drain: terminated=$onceDone batches=$onceBatches " +
        s"diff=$onceDiff")

      val converged = done && diff == 0 && batchDiff == 0 && cursorOk && shapeOk &&
        onceDone && onceDiff == 0
      println(s"[stream-mirror] mirror ops=${ops.mkString(",")}")
      println(s"[stream-mirror] converged=$converged")
      if (!converged) GraftSession.diverged("streaming mirror diverged from the batch sync")
    }
  }
}
