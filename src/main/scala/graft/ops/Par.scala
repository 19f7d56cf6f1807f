package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism repair for unsplittable small inputs (optimization guide
  * §2.5 "input skew: one huge unsplittable file … repartition immediately
  * after the read").
  *
  * A single-row-group parquet file scans as ONE partition no matter the
  * cluster size, so every row-local heavy projection downstream of it
  * (regex normalize + tokenize + per-shingle md5 on documents, the
  * banded LSH explodes on embeddings) runs single-threaded and the first
  * shuffle's map side serializes the whole corpus through one task —
  * measured on the r19 baseline: `contrastive_triplets`' candidate
  * generation ran as 1 task for 1.8 s of its 3.4 s warm wall.
  *
  * [[fanned]] round-robin repartitions to the session default
  * parallelism, but ONLY when the plan would otherwise run on fewer
  * partitions — on a well-laid-out big table (scan partitions ≥ cores)
  * it is a provable no-op, so no payload is ever re-shuffled at scale.
  * Round-robin repartition local-sorts its input first
  * (`spark.sql.execution.sortBeforeRepartition`, default) so retried
  * tasks reproduce the same assignment — deterministic by construction,
  * and every registered query's values are partition-layout-independent
  * anyway (DECIMAL aggregation discipline + total-ordered windows).
  */
object Par {

  /** `df` spread across the session's default parallelism when its scan
    * would run on fewer partitions; `df` unchanged otherwise. Call it on
    * a NARROW projection (ids + the columns the heavy work needs), not a
    * wide row, so the repair shuffle moves minimal bytes.
    *
    * The partition estimate is planning-free: `df.rdd.getNumPartitions`
    * (the first formulation) ran FULL physical planning per call, which
    * taxed every cheap query that builds several prepared/tokenized
    * frames (~50–150 ms each, measured as 1.5–2× walls on the light
    * vector queries). `inputFiles` + cached file lengths read the
    * already-resolved FileIndex instead; scan partitions ≈
    * ceil(bytes / maxPartitionBytes), exact enough for a fan/no-fan
    * decision (a multi-row-group file that slips past fans once —
    * harmless, one guarded pass of a small input). Frames with no file
    * scan underneath (checkpoints, in-memory) are left alone. */
  def fanned(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty) return df
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = files.map(f => lenCache.computeIfAbsent(f, { _ =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(conf).getFileStatus(p).getLen
      catch { case _: java.io.IOException => 0L }
    })).map(_.longValue).sum
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val scanParts = math.max(1L, (bytes + maxPart - 1) / maxPart)
    if (scanParts < target) df.repartition(target) else df
  }

  /** File lengths are immutable for the engine's inputs (testdata,
    * committed snapshot files); staleness would only skew the fan
    * heuristic, never correctness. BOUNDED (r20, the r19 advisor's leak
    * note): snapshot stores create and retire file paths constantly, so
    * an unbounded path-keyed map is a slow driver leak on a resident
    * engine — an LRU cap keeps it a few hundred KB forever. */
  private val MaxLens = 8192
  private val lenCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long](MaxLens, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > MaxLens
    })
}
