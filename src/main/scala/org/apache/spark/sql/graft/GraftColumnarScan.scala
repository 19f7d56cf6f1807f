package org.apache.spark.sql.graft

import graft.incremental.{GraftFileIndex, GraftFilters, SnapshotTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory,
  Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The graft catalog's NATIVE columnar read path: Spark's own DSv2
  * [[ParquetScan]] over the snapshot's [[GraftFileIndex]] — the rung
  * above the `V1Scan` bridge, which pays an InternalRow→Row→InternalRow
  * boundary on every `SELECT … FROM graft.\`…\``. Here the vectorized
  * parquet reader serves `ColumnarBatch`es straight into
  * `BatchScanExec` → `ColumnarToRow` → whole-stage codegen, zero row
  * materialization.
  *
  * The index is the one every other `SnapshotTable` read plans through
  * (`SnapshotTable.indexOf`): FileStatuses from manifest byte lengths
  * (no listing RPCs) and manifest file pruning by the table's one
  * pruning proof, recorded in the table's `lastListedFiles`. This scan
  * narrows it by the pushed source filters, translated from logical to
  * physical column names. What remains is exactly a parquet scan, so
  * Spark's own scan — split planning, row-group predicate pushdown,
  * vectorized decode, columnar support negotiation — is reused verbatim
  * rather than re-derived. Snapshots carrying deletion vectors never
  * reach this class (their sidecar anti-join needs the masked-relation
  * route).
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
  *     survived, the DSv2 twin of dynamic partition pruning. [[filter]]
  *     swaps in the statically narrowed index's narrower index over the
  *     static ∪ runtime filters, pruned on the driver against manifest
  *     stats only. */
final class GraftColumnarScan private (
    spark: classic.SparkSession,
    static: GraftFileIndex,
    colmap: Map[String, String],
    physData: StructType,
    physRead: StructType,
    logicalRead: StructType,
    pushedPhys: Array[Filter],
    prunable: Seq[String],
    desc: String)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  @volatile private var index: GraftFileIndex = static
  @volatile private var cached: (GraftFileIndex, ParquetScan) = null

  private def inner: ParquetScan = {
    val i = index
    val c = cached
    if (c != null && (c._1 eq i)) c._2
    else {
      val scan = ParquetScan(spark, spark.sessionState.newHadoopConf(), i,
        physData, physRead, StructType(Nil), pushedPhys,
        CaseInsensitiveStringMap.empty())
      cached = (i, scan)
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
    * names, renamed to physical; untranslatable ones drop — pure
    * pruning, Spark re-evaluates the join itself on the rows) and
    * narrow the static index; the next planInputPartitions serves the
    * shrunken file set. */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)
    if (v1.nonEmpty) index = static.narrowed(v1.flatMap(GraftFilters.renamed(_, colmap)))
  }
}

object GraftColumnarScan {
  /** Build the columnar scan over `parts` for the query's `required`
    * LOGICAL columns. `pushed` are the translatable source filters in
    * logical names; renamed to physical, they narrow the index (file
    * pruning) and feed parquet ROW-GROUP pruning — Spark re-evaluates
    * every filter on the rows regardless. */
  def apply(spark: SparkSession, parts: SnapshotTable.BatchParts,
      required: StructType, pushed: Array[Filter], desc: String): Scan = {
    val physRead = StructType(required.fields.map(f =>
      f.copy(name = parts.colmap.getOrElse(f.name, f.name))))
    val pushedPhys = pushed.flatMap(GraftFilters.renamed(_, parts.colmap))
    new GraftColumnarScan(spark.asInstanceOf[classic.SparkSession],
      parts.index.narrowed(pushedPhys.toSeq), parts.colmap, parts.physSchema,
      physRead, required, pushedPhys, parts.prunable, desc)
  }
}
