package graft.incremental

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The SQL/relation route for snapshots a single file-backed node
  * cannot express — today, snapshots CARRYING DELETION VECTORS (the
  * vectored files need their sidecar anti-join spliced into the read).
  *
  * A `BaseRelation with PrunedFilteredScan with TableScan` whose
  * `buildScan` delegates to the table's own masked
  * [[SnapshotTable.scan]] plan: pushed filters translate to `Column`
  * predicates on the inner DataFrame — where Catalyst pushes them into
  * the manifest-backed FileIndex (file pruning) and the parquet reader
  * (row groups) exactly like a Scala `scan().filter(...)` — and column
  * pruning becomes an inner projection, so the parquet scan reads only
  * the requested columns. The relation reports EVERY filter as
  * unhandled ([[unhandledFilters]] default), so Spark re-evaluates all
  * of them on the returned rows: the translation is a pure pruning
  * optimization that can never change results, and an untranslatable
  * filter simply prunes nothing.
  *
  * The cost vs the clean `HadoopFsRelation` route is one Row
  * materialization at the relation boundary (the v1 scan contract) —
  * paid ONLY while the snapshot carries vector debt, which
  * [[SnapshotTable.optimize]] repays; `scanRelation` returns the
  * file-backed fast path again the moment the vectors are gone. The
  * inner plan stays fully distributed (pruned parquet scan + sidecar
  * anti-joins); nothing collects to the driver.
  *
  * `inner` is a THUNK pinned to one resolved manifest by the caller —
  * the relation re-derives its plan per `buildScan`, but always over
  * the same immutable snapshot. `schema` defaults to the thunk's own;
  * the catalog's V1 scan passes its read schema instead, which Spark
  * requires verbatim (nullability included), together with the filters
  * it pushed: Spark calls that scan's relation through the no-argument
  * `buildScan()`, which applies `pushed` like the two-argument one. */
private[graft] final class GraftMaskedRelation(
    spark: SparkSession, inner: () => DataFrame, pushed: Array[Filter] = Array.empty)(
    override val schema: StructType = inner().schema)
    extends BaseRelation with PrunedFilteredScan with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext

  override def buildScan(): RDD[Row] = buildScan(schema.fieldNames, pushed)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(GraftFilters.toColumn)
      .foldLeft(inner())(_ filter _)
    // zero-column projections (COUNT(*) over the relation) still need
    // row CARDINALITY — select() with no columns yields empty rows
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }
}

/** v1 `sources.Filter` → `Column` translation for the subset whose
  * Spark semantics are position-independent and null-safe to re-state
  * as expressions. Used as a PRUNING HINT only (the callers re-evaluate
  * every filter on the rows), so returning None for anything uncertain
  * is always safe — but [[SupportsDelete.canDeleteWhere]]-style callers
  * also use translatability as their "can I express this exactly?"
  * gate, so each mapping here must be EXACT, not approximate. */
object GraftFilters {
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(not)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** The same filter with its attribute names translated through the
    * column mapping (logical → physical) — what the native columnar
    * route pushes into parquet ROW-GROUP pruning on a renamed table
    * (files store physical names). None for unknown shapes: they are
    * simply not pushed (Spark re-evaluates every filter on the rows). */
  def renamed(f: Filter, colmap: Map[String, String]): Option[Filter] = {
    def r(a: String) = colmap.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(r(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(r(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(r(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(r(a), v))
      case LessThan(a, v) => Some(LessThan(r(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(r(a), v))
      case In(a, vs) => Some(In(r(a), vs))
      case IsNull(a) => Some(IsNull(r(a)))
      case IsNotNull(a) => Some(IsNotNull(r(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(r(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(r(a), v))
      case StringContains(a, v) => Some(StringContains(r(a), v))
      case And(l, rr) =>
        for { lc <- renamed(l, colmap); rc <- renamed(rr, colmap) } yield And(lc, rc)
      case Or(l, rr) =>
        for { lc <- renamed(l, colmap); rc <- renamed(rr, colmap) } yield Or(lc, rc)
      case Not(c) => renamed(c, colmap).map(Not)
      case AlwaysTrue() => Some(f)
      case AlwaysFalse() => Some(f)
      case _ => None
    }
  }
}
