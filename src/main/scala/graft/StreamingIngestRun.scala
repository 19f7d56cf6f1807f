package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.incremental.IngestIndex
import graft.streaming.DocStream

/** Direct-run entry for the LIVE-INDEX streaming ingest contract: a
  * document stream admitted through [[DocStream.ingestFilter]] (quality
  * + within-watermark dedup) and [[DocStream.dropAdmitted]] (anti-join
  * against a freshly-opened snapshot of the persisted
  * [[IngestIndex]] fingerprint state, re-read EVERY micro-batch), while
  * the batch pipeline absorbs new content into that state MID-STREAM —
  * the exact interleaving [[DocStream.ingestFilterIndexed]]'s pinned
  * static snapshot cannot see.
  *
  * Scenario (two micro-batches, one absorb between them):
  *   1. state  <- build from the corpus slice (doc_id % 10 != 0)
  *   2. batch 0: fresh docs (delta slice A) — admitted iff quality
  *      passes, fp unique in-batch, and fp not already in the corpus
  *      state; at the end of the micro-batch the BATCH pipeline absorbs
  *      a different slice B into the state (segment append, committed)
  *   3. batch 1: re-crawls of B (same text, new doc_ids, later
  *      timestamps) — `dropAdmitted` must reject ALL of them, because
  *      its per-batch re-open sees the absorb that committed between
  *      micro-batches. The stream's own dedup state cannot help here:
  *      it never saw B's fingerprints.
  *
  * Convergence check (driver-visible, [[StreamingRun]] conventions):
  * batch-0 admissions must equal the BATCH formulation of the same
  * predicate (ingestFilter as a batch plan ∪ anti-join against the
  * pre-absorb fp snapshot — set equality on fp_md5), and batch-1 must
  * admit ZERO docs. Prints `[stream-ingest] converged=true|false`, exit
  * 1 on divergence.
  *
  * Scale shape: stream state stays (rate × delay)-sized (fp dedup
  * within the watermark only); the corpus index never enters state —
  * each micro-batch pays one parquet re-list + a batch-keyed anti-join.
  *
  * Usage: runMain graft.StreamingIngestRun <sfDir> <workDir>
  */
object StreamingIngestRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    GraftSession.run { spark =>
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val a = docs.filter(col("doc_id") % 20 === 0) // batch-0 fresh docs
      val b = docs.filter(col("doc_id") % 20 === 10) // absorbed mid-stream, re-crawled in batch 1

      val stateDir = s"$workDir/state"
      val index = new IngestIndex(spark, stateDir)
      index.build(corpus)
      println(s"[stream-ingest] state <- corpus build at $stateDir")

      // the CDC log: one file per micro-batch, ordered by name
      val t0 = java.sql.Timestamp.valueOf("2002-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2002-01-01 04:00:00")
      val logDir = s"$workDir/log"
      // FileStreamSource orders files by MODIFICATION TIME, not name: two
      // just-moved files can land in the same mtime tick and flip the
      // micro-batch order, breaking the mid-stream-absorb interleaving
      // this scenario stages — pin strictly increasing mtimes explicitly.
      def writeBatch(name: String, seq: Int, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$workDir/tmp-$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(logDir).mkdirs()
        new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet"))
          .foreach { p =>
            val dest = java.nio.file.Paths.get(s"$logDir/$name.parquet")
            java.nio.file.Files.move(p.toPath, dest)
            java.nio.file.Files.setLastModifiedTime(dest,
              java.nio.file.attribute.FileTime.fromMillis(1000000000000L + seq * 60000L))
          }
      }
      writeBatch("batch0", 0, a.withColumn("ingest_ts", lit(t0)))
      // re-crawl: same TEXT (⇒ same fp_md5), new crawl ids, later ts —
      // only the index knows these fingerprints, the stream never saw them
      writeBatch("batch1", 1, b
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .withColumn("ingest_ts", lit(t1)))

      // expected batch-0 admissions as a BATCH plan over the PRE-absorb
      // state: quality gate (docQuality — its equality with the stream's
      // inlined formula is DocStreamSpec-pinned), one fp per distinct
      // normalized fingerprint (the within-watermark dedup's batch
      // meaning), anti-join against the corpus fingerprint snapshot
      val expectedFps = a
        .join(graft.ops.TextOps.docQuality(a)
          .filter(col("quality_score") >= 0.5).select("doc_id"), Seq("doc_id"), "left_semi")
        .select(md5(graft.functions.TextFns.normalize(col("text"))).as("fp_md5"))
        .distinct()
        .join(index.corpusFpsSnapshot.select("fp_md5"), Seq("fp_md5"), "left_anti")
        .collect().map(_.getString(0)).toSet

      val logSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true),
        StructField("ingest_ts", TimestampType, nullable = false)))
      val admittedDir = s"$workDir/admitted"
      val batchFps = scala.collection.mutable.Map.empty[Long, Set[String]]
      val q = spark.readStream.schema(logSchema)
        .option("maxFilesPerTrigger", 1).parquet(logDir)
        .transform(s => DocStream.ingestFilter(s))
        .writeStream
        .option("checkpointLocation", s"$workDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val admitted = DocStream.dropAdmitted(stateDir)(batch)
            .localCheckpoint(true)
          admitted.write.mode("append").parquet(admittedDir)
          batchFps(batchId) = admitted.select("fp_md5")
            .collect().map(_.getString(0)).toSet
          println(s"[stream-ingest] batch $batchId admitted ${batchFps(batchId).size} docs")
          if (batchId == 0) {
            // the batch pipeline commits new content between micro-batches
            index.absorb(b)
            println("[stream-ingest] state <- absorbed slice B (mid-stream)")
          }
          ()
        }
        .start()
      q.awaitTermination()

      val batch0Ok = batchFps.getOrElse(0L, Set.empty) == expectedFps
      val batch1Ok = batchFps.getOrElse(1L, Set.empty).isEmpty
      if (!batch0Ok) println(s"[stream-ingest] batch0 mismatch: " +
        s"got ${batchFps.getOrElse(0L, Set.empty).size} fps, expected ${expectedFps.size}")
      if (!batch1Ok) println(s"[stream-ingest] batch1 must reject all re-crawls, " +
        s"admitted ${batchFps.getOrElse(1L, Set.empty).size}")
      val converged = batch0Ok && batch1Ok
      println(s"[stream-ingest] converged=$converged")
      if (!converged) GraftSession.diverged("streaming ingest diverged from the batch admission predicate")
    }
  }
}
