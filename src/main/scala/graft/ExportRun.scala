package graft

import org.apache.spark.sql.functions._

import graft.ops.ExportOps

/** Direct-run entry for the training-export maintenance path: shard the
  * `documents` table of `sfDir` into `workDir/shards` with
  * [[ExportOps.writeShards]], then CHECK the written tree against the
  * [[ExportOps.shardManifest]] aggregate view (per-shard doc counts and
  * char mass) and against a SECOND export (row-identical re-export — the
  * determinism contract a resumable training loader depends on). Prints
  * `[export] consistent=true|false deterministic=true|false`; a
  * divergence exits 1 ([[GraftSession.run]]), or throws when Bench
  * times it in-JVM as an `operational` entry.
  *
  * Usage: runMain graft.ExportRun <sfDir> <workDir> [nShards]
  */
object ExportRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    val nShards = if (args.length > 2) args(2).toInt else 8
    GraftSession.run { spark =>
      val docs = Tables.documents(spark, sfDir)
      val dir1 = s"$workDir/shards"
      val dir2 = s"$workDir/shards_recheck"
      ExportOps.writeShards(docs, dir1, nShards)

      // written tree vs the manifest's aggregate view
      val manifest = ExportOps.shardManifest(docs, nShards).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val written = spark.read.parquet(dir1)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .collect()
        .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2))).toMap
      val consistent = written == manifest

      // re-export and compare content row-for-row (order-insensitive: the
      // per-file h-order is covered by ExportOpsSpec; here the contract is
      // the doc->shard->h assignment)
      ExportOps.writeShards(docs, dir2, nShards)
      val key = Seq("doc_id", "shard", "h")
      val r1 = spark.read.parquet(dir1).select(key.head, key.tail: _*)
      val r2 = spark.read.parquet(dir2).select(key.head, key.tail: _*)
      val deterministic =
        r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty

      println(s"[export] shards=$nShards docs=${manifest.values.map(_._1).sum} " +
        s"chars=${manifest.values.map(_._2).sum}")
      println(s"[export] consistent=$consistent deterministic=$deterministic")
      if (!(consistent && deterministic))
        GraftSession.diverged(
          s"export check failed: consistent=$consistent deterministic=$deterministic")
    }
  }
}
