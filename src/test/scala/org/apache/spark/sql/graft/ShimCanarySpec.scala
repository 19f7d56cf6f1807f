package org.apache.spark.sql.graft

import org.scalatest.funsuite.AnyFunSuite

/** THE SHIM CANARY — one spec that NAMES and exercises every
  * package-private Spark API the `org.apache.spark.sql.graft` shim
  * layer (and the row-level writer) reaches, so a Spark version bump
  * fails HERE with an explicit inventory instead of mysteriously
  * downstream. The library pins Spark 4.1.2; each test below is one
  * seam. If any of these stops compiling or behaving after a bump, fix
  * the shim FIRST, then rerun the full suite.
  *
  * Inventory (all `private[sql]` or `execution`-internal):
  *  1. `classic.Dataset.ofRows(SparkSession, LogicalPlan)`  — GraftSqlShim.ofRows
  *  2. `execution.LogicalRDD(output, rdd[, isStreaming])`   — streamingFrame / rebatch
  *  3. `SparkSessionExtensions.registerFunctions(registry)` — applyInjectedFunctions
  *  4. `execution.datasources.AggregatePushDownUtils
  *       .getSchemaForPushedAggregation`                    — pushedAggSchema
  *  5. `connector.expressions.LiteralValue`                 — inPredicate
  *  6. `catalyst.optimizer.NormalizeFloatingNumbers.normalize` — normalizeFloating
  *  7. v1 streaming `execution.streaming.{Source, Sink, Offset}` +
  *     `execution.streaming.runtime.LongOffset`             — SnapshotChangeFeedSource
  *  8. `execution.datasources.{PartitioningAwareFileIndex, NoopCache,
  *     PartitionSpec}` — GraftFileIndex; `v2.parquet.ParquetScan` apply
  *     arity — GraftColumnarScan
  *  9. `internal.connector.PredicateUtils.toV1`             — runtime filtering
  * 10. `datasources.parquet.ParquetWriteSupport` + the SQLConf parquet
  *     write entries the delta writer populates                — GraftRowLevel
  */
class ShimCanarySpec extends AnyFunSuite {

  private def spark = graft.TestSpark.spark

  test("1+2: Dataset.ofRows and LogicalRDD build, stream-tag, and rebatch frames") {
    val base = spark.range(3).toDF("v")
    val df = GraftSqlShim.ofRows(spark, base.queryExecution.analyzed)
    assert(df.count() == 3)
    val sf = GraftSqlShim.streamingFrame(base)
    assert(sf.isStreaming, "LogicalRDD(isStreaming = true) must tag the frame")
    // batch actions on the tagged frame must keep refusing (that refusal
    // is WHY rebatch exists); rebatch's end-to-end path — a real sink's
    // addBatch frame whose query execution is the planned micro-batch —
    // is exercised by SnapshotStreamSourceSpec, so here the seam is
    // referenced for arity only
    intercept[org.apache.spark.sql.AnalysisException](sf.count())
    val rebatchSeam: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      GraftSqlShim.rebatch
    assert(rebatchSeam != null)
  }

  test("3: SparkSessionExtensions.registerFunctions replays extension injection") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val ext = new SparkSessionExtensions
    new graft.plans.GraftSparkExtensions().apply(ext)
    val reg = GraftSqlShim.applyInjectedFunctions(ext, FunctionRegistry.builtin.clone())
    assert(reg.functionExists(FunctionIdentifier("vec_dot")))
  }

  test("4: AggregatePushDownUtils serves the pushed-aggregation output schema") {
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    val out = GraftSqlShim.pushedAggSchema(
      new Aggregation(Array(new CountStar()), Array.empty), schema)
    assert(out.exists(_.fields.length == 1), s"expected 1-col count(*) schema, got $out")
  }

  test("5+9: LiteralValue IN predicates build and PredicateUtils.toV1 converts them") {
    import org.apache.spark.sql.types.LongType
    val p = GraftSqlShim.inPredicate("k", Seq(1L, 2L), LongType)
    assert(p.name() == "IN")
    val v1 = org.apache.spark.sql.internal.connector.PredicateUtils.toV1(Array(p))
    assert(v1.exists {
      case org.apache.spark.sql.sources.In("k", vs) => vs.toSet == Set(1L, 2L)
      case _ => false
    }, s"toV1 must yield In(k, [1,2]), got ${v1.toSeq}")
  }

  test("6: NormalizeFloatingNumbers.normalize is reachable and sane on doubles") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val n = GraftSqlShim.normalizeFloating(Literal(-0.0d))
    assert(java.lang.Double.compare(
      n.eval(null).asInstanceOf[Double], 0.0d) == 0,
      "normalize must canonicalize -0.0 to 0.0")
  }

  test("7: v1 streaming Source/Sink/Offset and LongOffset round-trip") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val o = LongOffset(7L)
    assert(o.json.contains("7"))
    // the traits the change feed implements — referenced so a bump that
    // moves/renames them fails this line, with the inventory above
    assert(classOf[org.apache.spark.sql.execution.streaming.Source]
      .isAssignableFrom(classOf[SnapshotChangeFeedSource]))
  }

  test("8: PartitioningAwareFileIndex/NoopCache/PartitionSpec and the ParquetScan arity hold") {
    import org.apache.spark.sql.execution.datasources.{NoopCache, PartitionSpec}
    // referenced for compile-time presence; emptySpec is the value
    // GraftFileIndex, the one unpartitioned index, serves
    assert(PartitionSpec.emptySpec.partitions.isEmpty)
    assert(NoopCache != null)
    // ParquetScan's apply arity is pinned by GraftColumnarScan.scala:71;
    // its case-class copy/productArity changing is the loud signal
    assert(classOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
      .getName.endsWith("ParquetScan"))
  }

  test("10: ParquetWriteSupport and the parquet-write SQLConf entries the delta writer sets") {
    import org.apache.spark.sql.internal.SQLConf
    val entries = Seq(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.CASE_SENSITIVE,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
    entries.foreach(e => assert(e.key.nonEmpty && e.defaultValueString != null,
      s"SQLConf entry ${e.key} lost its default — GraftRowLevel's writer conf breaks"))
    assert(classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]
      .getName.nonEmpty)
  }
}
