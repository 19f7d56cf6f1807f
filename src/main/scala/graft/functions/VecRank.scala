package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._

/** Centroid ranking as ONE codegen'd kernel (optimization guide §4:
  * no interpreted expressions in the per-row hot path).
  *
  * [[graft.ops.VectorOps.centroidRank]] was
  * `array_sort(transform(sequence(...), i => struct(-round(vec_dot(vd,
  * cmat[i]) / (nrm * cnrm[i]), 6), cid[i])))` — higher-order functions
  * are CodegenFallback, so every corpus row paid an interpreted
  * tree-walk per centroid plus per-element struct/array allocations.
  * Measured at sf0.1: the Lloyd assignment stage burned ~12 s of task
  * time on 2 000 rows × 16 centroids. This expression computes the
  * identical value — dot over the common prefix ([[VecDot]] semantics),
  * `sim = dot / (nrm · cnrm)`, Spark's `round(_, 6)` double semantics
  * (NaN/Inf pass through, else BigDecimal HALF_UP), negated, sorted by
  * (neg, cid) with SQL double ordering (java.lang.Double.compare, the
  * comparator `array_sort` uses) — in one tight loop per row.
  *
  * Centroid data rides as value-comparing `IndexedSeq` fields (so two
  * plans over the same centroids canonicalize equal, exactly like the
  * literals they replace) and ships into generated code as reference
  * objects.
  *
  * KNOWN DIVERGENCE from the column form on degenerate inputs (r19
  * advisor; none occur in the engine's data and the oracle pins every
  * consumer): a NULL vector yields NULL here (null-safe eval — the
  * downstream posexplode then drops the row) where the old column form
  * still emitted rows, and a vector whose NaN/Inf components lie beyond
  * a shorter centroid's length contributes NaN through the zero-padded
  * tail where the old prefix-only dot ignored it. Identity claims below
  * hold for finite, non-null inputs.
  */
case class CentroidRank(left: Expression, right: Expression,
    flat: IndexedSeq[Double], cnrm: IndexedSeq[Double], cids: IndexedSeq[Int],
    d: Int) extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neg", DoubleType, nullable = false),
      StructField("cid", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "centroid_rank"

  @transient private lazy val flatArr = flat.toArray
  @transient private lazy val cnrmArr = cnrm.toArray
  @transient private lazy val cidsArr = cids.toArray

  override def nullSafeEval(vd: Any, nrm: Any): Any =
    VecRank.centroidRankKernel(vd.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], flatArr, cnrmArr, cidsArr, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("crFlat", flatArr, "double[]")
    val n = ctx.addReferenceObj("crNrm", cnrmArr, "double[]")
    val c = ctx.addReferenceObj("crCids", cidsArr, "int[]")
    nullSafeCodeGen(ctx, ev, (vd, nrm) =>
      s"${ev.value} = graft.functions.VecRank.centroidRankKernel($vd, $nrm, $f, $n, $c, $d);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidRank =
    copy(left = newLeft, right = newRight)
}

/** All `tables` sign-LSH bucket ids of one vector in ONE codegen'd pass
  * (same §4 rationale as [[CentroidRank]]): the column formulation
  * composed `tables × planes` separate VecDot-over-literal-array
  * expressions, each carrying its 64 plane coefficients as plan
  * literals — the banded plans weighed 115–119 kB of text at sf0.1
  * geometry (planning + janino tax on every LSH operator). Here the
  * coefficient matrix ([[VectorFns.planeCoef]], deterministic) rides as
  * one reference object and each row pays one tight loop. Arithmetic is
  * bit-identical for non-null vectors: left-to-right dot over the
  * common prefix (VecDot), `bit = dot >= 0` (false for NaN, as the
  * `when` was), bucket = OR of `1L << plane`. A NULL vector yields NULL
  * (null-safe eval; posexplode drops the row) where the old column form
  * emitted bucket-0 rows — a null vector is a missing embedding, not a
  * zero vector, so it lands in no bucket (ScaleGuardSpec pins this and
  * [[CentroidRank]]'s null rank). */
case class LshBuckets(child: Expression, planes: Int, dims: Int, tables: Int)
    extends UnaryExpression {
  require(planes > 0 && dims > 0 && tables > 0, "bad LSH geometry")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  @transient private lazy val coefs: Array[Double] =
    Array.tabulate(tables * planes * dims) { i =>
      val t = i / (planes * dims)
      val p = (i / dims) % planes
      val d = i % dims
      VectorFns.planeCoef(t, p, d)
    }

  override def nullSafeEval(vd: Any): Any =
    VecRank.lshBucketsKernel(vd.asInstanceOf[ArrayData], coefs, planes, dims, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("lshCoefs", coefs, "double[]")
    nullSafeCodeGen(ctx, ev, vd =>
      s"${ev.value} = graft.functions.VecRank.lshBucketsKernel($vd, $c, $planes, $dims, $tables);")
  }

  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
}

object VecRank {
  val FnName = "centroid_rank"
  val LshFnName = "lsh_buckets"

  /** Kernel for [[LshBuckets]]. */
  def lshBucketsKernel(vd: ArrayData, coefs: Array[Double], planes: Int,
      dims: Int, tables: Int): ArrayData = {
    val n = math.min(vd.numElements(), dims)
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var s = 0.0
        var i = 0
        val off = (t * planes + p) * dims
        while (i < n) { s += vd.getDouble(i) * coefs(off + i); i += 1 }
        if (s >= 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Column form of [[LshBuckets]] — element t+1 is table t's bucket. */
  def lshBuckets(vec: Column, planes: Int, dims: Int, tables: Int): Column =
    call_function(LshFnName, vec.cast("array<double>"),
      lit(planes), lit(dims), lit(tables))

  def lshBuilder(exprs: Seq[Expression]): Expression =
    LshBuckets(exprs(0), exprs(1).eval().asInstanceOf[Int],
      exprs(2).eval().asInstanceOf[Int], exprs(3).eval().asInstanceOf[Int])

  /** Spark's `round(double, 6)`: NaN/Inf unchanged, else
    * BigDecimal.valueOf + HALF_UP — bit-identical to the Round
    * expression this kernel replaces. */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One row's full centroid ranking: k dots, k rounded sims, one
    * (neg, cid) sort. `flat` is the row-major k×d centroid matrix. */
  def centroidRankKernel(vd: ArrayData, nrm: Double, flat: Array[Double],
      cnrm: Array[Double], cids: Array[Int], d: Int): ArrayData = {
    val k = cids.length
    val negs = new Array[Double](k)
    val nv = vd.numElements()
    val n = math.min(nv, d)
    var c = 0
    while (c < k) {
      var s = 0.0
      var i = 0
      val off = c * d
      while (i < n) { s += vd.getDouble(i) * flat(off + i); i += 1 }
      negs(c) = -round6(s / (nrm * cnrm(c)))
      c += 1
    }
    val order = Array.range(0, k).sortWith { (a, b) =>
      val cmp = java.lang.Double.compare(negs(a), negs(b))
      if (cmp != 0) cmp < 0 else cids(a) < cids(b)
    }
    new GenericArrayData(order.map(i =>
      new GenericInternalRow(Array[Any](negs(i), cids(i))): AnyRef))
  }

  /** Column builder: centroid data rides as array literals so the
    * function-registry builder (a pure Expression => Expression map)
    * can extract it at plan-construction time. */
  def centroidRank(vd: Column, nrm: Column, cs: Seq[(Int, Array[Double])]): Column = {
    val sorted = cs.sortBy(_._1)
    val d = sorted.map(_._2.length).foldLeft(0)(math.max)
    val flat = sorted.flatMap(c => c._2.padTo(d, 0.0)).toIndexedSeq
    val cnrm = sorted.map(c => math.sqrt(c._2.map(x => x * x).sum)).toIndexedSeq
    val cids = sorted.map(_._1).toIndexedSeq
    call_function(FnName, vd, nrm,
      typedLit(flat), typedLit(cnrm), typedLit(cids), lit(d))
  }

  /** Registry builder — mirrors the TextExprs pattern: literal args
    * are evaluated once at construction into the expression's fields. */
  def builder(exprs: Seq[Expression]): Expression = {
    def doubles(e: Expression): IndexedSeq[Double] = {
      val ad = e.eval().asInstanceOf[ArrayData]
      (0 until ad.numElements()).map(ad.getDouble).toIndexedSeq
    }
    def ints(e: Expression): IndexedSeq[Int] = {
      val ad = e.eval().asInstanceOf[ArrayData]
      (0 until ad.numElements()).map(ad.getInt).toIndexedSeq
    }
    CentroidRank(exprs(0), exprs(1), doubles(exprs(2)), doubles(exprs(3)),
      ints(exprs(4)), exprs(5).eval().asInstanceOf[Int])
  }
}
