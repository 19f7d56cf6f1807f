package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.incremental.{SnapshotTable, StoreLock}
import graft.ops.TextOps

/** The PERIODIC batch half of accumulate mode's near-dup lambda split.
  *
  * [[CorpusRun]] in accumulate mode merges each delta batch into the
  * growing corpus store with exact dedup enforced CROSS-batch (indexed
  * admission) but near-dup scope BATCH-local — a near-dup pair whose
  * members arrive in different batches survives both gates, the
  * standard speed-layer caveat. This main is the batch layer that
  * closes it: re-run the quality-aware transitive-cluster keeper
  * ([[TextOps.nearDupKeepBest]]) over the WHOLE accumulated store,
  * demote every cluster member that is not its cluster's keeper, and
  * re-derive the trainer-facing exports — so the accumulated corpus
  * CONVERGES to what a single monolithic run over the union would have
  * published, on the sweep's cadence.
  *
  * Usage: runMain graft.CorpusNearDupSweep <outDir>
  *
  * Demotion is a keyed DELETE on the store (file-pruned copy-on-write —
  * only files holding a demoted doc_id rewrite, the [[SnapshotTable]]
  * key-set prune), committed atomically and tagged with the demotion
  * count. Quality scores come from the store itself (published by the
  * funnel), so the sweep never re-runs the quality scan — its cost is
  * the pair/cluster pass plus the pruned rewrite.
  *
  * CONSISTENCY: the store's maintenance lock ([[StoreLock]]) is held
  * across the WHOLE derive→delete→export pass — a demotion set derived
  * from one snapshot must never delete rows a commit that landed
  * mid-analysis just updated (the lock serializes graft's own entry
  * points; publishes queue behind the sweep's analysis, sized into the
  * lock's staleness window via SPARK_GRAFT_LOCK_STALE_MS). Belt and
  * braces for writers that do NOT take the lock: the delete CAS-pins
  * the analyzed version (`expectedVersion`) and a lost race RE-DERIVES
  * from the fresh snapshot instead of deleting off a stale demotion
  * set. A sweep that finds nothing demotes nothing and commits nothing
  * — idempotent at fixpoint, so "run it after every K batches" needs no
  * further coordination.
  */
object CorpusNearDupSweep {

  /** Test seam: runs after the keeper analysis (demotion set derived,
    * version pinned) and before the CAS delete — the window where a
    * non-lock-taking writer's commit must force a re-derive. No-op in
    * production. */
  private[graft] var onAfterAnalyze: () => Unit = () => ()

  /** One sweep pass over `<outDir>/corpus`: (docs scanned, docs
    * demoted). Exports re-derive only when something was demoted. */
  def sweep(spark: SparkSession, outDir: String, maxAttempts: Int = 3): (Long, Long) = {
    val store = new SnapshotTable(spark, s"$outDir/corpus", "doc_id")
    require(store.exists, s"no corpus store at $outDir/corpus — run CorpusRun first")

    StoreLock.withLock(spark, s"$outDir/corpus", "CorpusNearDupSweep",
        renewEveryMs = StoreLock.defaultStaleMs / 3) {
      var attempt = 0
      var result: Option[(Long, Long)] = None
      while (result.isEmpty) {
        attempt += 1
        // pin the snapshot the demotion set is derived from: the CAS
        // delete below refuses to apply it to any other version
        val analyzedV = store.currentVersion.get
        // NO checkpoint on the corpus frame: a snapshot read is already
        // a stable, re-readable source (immutable files) — materializing
        // the full corpus (text included) to local disk would copy the
        // table. Only the ids-only DEMOTION frame checkpoints, because
        // it is derived from the expensive pair/cluster pass and feeds
        // two actions (count + delete).
        val corpus = store.readVersion(analyzedV)
        val total = corpus.count()
        // corpus-wide keeper pass; quality rides from the published rows
        val keepers = TextOps.nearDupKeepBest(corpus,
            precomputedQuality = Some(corpus.select(col("doc_id"), col("quality_score"))))
          .select("doc_id")
        val demoted = corpus.select("doc_id").join(keepers, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val nDemoted = demoted.count()
        onAfterAnalyze()

        if (nDemoted == 0) result = Some((total, 0L))
        else {
          try {
            store.delete(demoted, expectedVersion = Some(analyzedV),
              tag = s"neardup-sweep:$nDemoted")
            val published = store.read()
            graft.sources.Sources.clusteredWrite(published, s"$outDir/kept", "split")
            TextOps.packSequences(published.filter(col("split") === "train"))
              .write.mode("overwrite").parquet(s"$outDir/train_packed")
            result = Some((total, nDemoted))
          } catch {
            case e: java.util.ConcurrentModificationException =>
              // a writer that does not take the lock advanced the store
              // mid-analysis: the demotion set is stale — re-derive
              if (attempt >= maxAttempts) throw e
          }
        }
      }
      result.get
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    GraftSession.run { spark =>
      import spark.implicits._

      val (total, nDemoted) = sweep(spark, outDir)
      val store = new SnapshotTable(spark, s"$outDir/corpus", "doc_id")

      if (nDemoted == 0) {
        println(s"[sweep] $total docs, no cross-batch near-dups — store unchanged " +
          s"(version ${store.currentVersion.get})")
      } else {
        Seq(("neardup_sweep_demoted", nDemoted))
          .toDF("stage", "n_docs")
          .coalesce(1).write.mode("append").parquet(s"$outDir/report.parquet")
        println(s"[sweep] $total docs -> demoted $nDemoted cross-batch near-dups " +
          s"(version ${store.currentVersion.get}); kept/ + train_packed re-exported")
      }
    }
  }
}
