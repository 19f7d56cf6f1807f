package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory,
  Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{NoopCache, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The graft catalog's NATIVE columnar read path: Spark's own DSv2
  * [[ParquetScan]] over the manifest's already-pruned live files — the
  * rung above the `V1Scan` bridge, which pays an
  * InternalRow→Row→InternalRow boundary on every `SELECT … FROM
  * graft.\`…\``. Here the vectorized parquet reader serves
  * `ColumnarBatch`es straight into `BatchScanExec` → `ColumnarToRow` →
  * whole-stage codegen, zero row materialization.
  *
  * All graft-specific work happened BEFORE this point, on the driver:
  * manifest file pruning against the pushed source filters
  * (`SnapshotTable.batchScanParts`), logical→physical column-name
  * translation, and byte lengths from the manifest (no listing RPCs).
  * What remains is exactly a parquet scan, so Spark's own scan — split
  * planning, row-group predicate pushdown, vectorized decode, columnar
  * support negotiation — is reused verbatim rather than re-derived.
  * Snapshots carrying deletion vectors never reach this class (their
  * sidecar anti-join needs the masked-relation route).
  *
  * Two graft-specific behaviors ride on top:
  *
  *   - COLUMN MAPPING: a renamed table reads PHYSICAL names from its
  *     files while the query resolves LOGICAL names. Batch rows are
  *     positional, so serving the physical-schema scan under a logical
  *     [[readSchema]] is a pure relabeling — the same trick
  *     `SnapshotTable.readEntriesRaw`'s `toDF` does on the v1 route.
  *   - RUNTIME FILTERING ([[SupportsRuntimeV2Filtering]]): the scan
  *     advertises the key and stats-covered columns, so Spark's
  *     dynamic-pruning rule injects the selective side of a join as an
  *     IN-subquery filter at EXECUTION time — `fact JOIN dim` re-prunes
  *     the manifest's files against the dim keys that actually
  *     survived, the DSv2 twin of dynamic partition pruning. `refilter`
  *     re-runs the table's one pruning proof (`SnapshotTable.disjoint`,
  *     the same one the static prune and the v1 file index use) on the
  *     driver, against manifest stats only, and records its kept count
  *     in the table's `lastBatchKept`. */
final class GraftColumnarScan private (
    spark: classic.SparkSession,
    physData: StructType,
    physRead: StructType,
    logicalRead: StructType,
    pushedPhys: Array[Filter],
    prunable: Seq[String],
    refilter: Array[Filter] => Seq[FileStatus],
    initialFiles: Seq[FileStatus],
    desc: String)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  @volatile private var files: Seq[FileStatus] = initialFiles
  @volatile private var cached: (Seq[FileStatus], ParquetScan) = null

  private def inner: ParquetScan = {
    val f = files
    val c = cached
    if (c != null && (c._1 eq f)) c._2
    else {
      val scan = ParquetScan(spark, spark.sessionState.newHadoopConf(),
        new GraftStaticFileIndex(spark, f),
        physData, physRead, StructType(Nil), pushedPhys,
        CaseInsensitiveStringMap.empty())
      cached = (f, scan)
      scan
    }
  }

  override def readSchema(): StructType = logicalRead
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()
  override def estimateStatistics(): Statistics = inner.estimateStatistics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def description(): String = s"$desc ${inner.description()}"

  /** Columns a runtime filter can prune files on: the key (always
    * bounded per file) and the handle's stats-covered columns. */
  override def filterAttributes(): Array[NamedReference] =
    prunable.map(Expressions.column).toArray

  /** Execution-time re-prune: the injected predicates translate to the
    * same `sources.Filter` vocabulary as planning pushdown (logical
    * names; untranslatable ones drop — pure pruning, Spark re-evaluates
    * the join itself on the rows) and re-run the manifest proofs; the
    * next planInputPartitions serves the shrunken file set. */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)
    if (v1.nonEmpty) files = refilter(v1)
  }
}

object GraftColumnarScan {
  /** Build the columnar scan. `physData`/`physRead` carry the files'
    * PHYSICAL column names (what parquet holds); `logicalRead` the same
    * positions under the query's logical names; `pushedPhys` the
    * translatable filters already renamed to physical — they feed
    * parquet ROW-GROUP pruning only (file pruning already happened, and
    * Spark re-evaluates every filter on the rows regardless);
    * `prunable`/`refilter` serve runtime filtering (logical names). */
  def apply(spark: SparkSession, files: Seq[FileStatus],
      physData: StructType, physRead: StructType, logicalRead: StructType,
      pushedPhys: Array[Filter], prunable: Seq[String],
      refilter: Array[Filter] => Seq[FileStatus], desc: String): Scan =
    new GraftColumnarScan(spark.asInstanceOf[classic.SparkSession],
      physData, physRead, logicalRead, pushedPhys, prunable, refilter,
      files, desc)
}

/** A [[PartitioningAwareFileIndex]] over a FIXED, already-pruned file
  * list: the statuses come from manifest arithmetic, partitioning is
  * empty (graft tables cluster by key range, not hive dirs), and
  * refresh is a no-op — the snapshot is immutable by construction. */
private[graft] final class GraftStaticFileIndex(spark: classic.SparkSession,
    files: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val m = mutable.LinkedHashMap.empty[Path, FileStatus]
    files.foreach(f => m += f.getPath -> f)
    m
  }
  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
  // the files' own parent dirs, NOT the table root: an unpartitioned
  // PartitioningAwareFileIndex serves allFiles() by looking each root
  // up in leafDirToChildrenFiles, and graft data files live under
  // data/<commit-uuid>/ subdirectories — a table-root rootPath would
  // resolve to zero files (probed)
  override def rootPaths: Seq[Path] =
    files.map(_.getPath.getParent).distinct
  override def refresh(): Unit = ()
}
