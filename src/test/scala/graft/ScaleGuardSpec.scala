package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._
import graft.functions.{TextExprs, TopK, VecDot, VecRank, VectorFns}

/** Pins the r19/r20 scale guards the optimization rounds introduced —
  * the claims the plans and kernels rest on, asserted as specs instead
  * of only holding transitively through the oracle's current inputs:
  *
  *  - [[graft.ops.Par.fanned]] must be a PLAN NO-OP once the scan is
  *    already wide (the "at 100 TB no repartition enters the plan"
  *    claim) and must fan when below parallelism;
  *  - [[graft.functions.LshBuckets]] / CentroidRank kernels must equal
  *    the column formulations they replaced on their identity domain
  *    (finite inputs, ties, HALF_UP boundaries, ±Inf), and a null
  *    vector yields no bucket rows and a null rank;
  *  - [[graft.functions.TopKWhere]]'s buffer merge must be
  *    split-invariant (merge of any partition split ≡ sequential
  *    reduce) with the admission gate applied at reduce time.
  */
final class ScaleGuardSpec extends AnyFunSuite {

  private def executed(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("Par.fanned: plan no-op when scan partitions >= parallelism, fans when below") {
    val s = spark
    import s.implicits._
    val dir = TestSpark.tempDir("graft-fanguard").toString
    (1L to 5000L).map(i => (i, s"doc-$i-${i * 2654435761L}%09d"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = s.read.parquet(dir)
    val bytes = df.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).length).sum
    assert(bytes > 4 * 1024, s"fixture too small ($bytes B) for the wide-scan arm")
    // WIDE arm: shrink maxPartitionBytes so estimated scan partitions
    // (bytes/maxPartitionBytes) >= defaultParallelism (4 in tests) —
    // fanned must leave the plan alone: no RoundRobinPartitioning
    val before = s.conf.get("spark.sql.files.maxPartitionBytes")
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val plan = executed(graft.ops.Par.fanned(df))
      assert(!plan.contains("RoundRobinPartitioning"),
        s"fanned repartitioned an already-wide scan:\n$plan")
    } finally s.conf.set("spark.sql.files.maxPartitionBytes", before)
    // NARROW arm: default maxPartitionBytes (128 MB) reads the file as
    // one partition < parallelism — the fan must enter the plan
    val plan = executed(graft.ops.Par.fanned(df))
    assert(plan.contains("RoundRobinPartitioning"),
      s"fanned skipped a below-parallelism scan:\n$plan")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("LshBuckets kernel equals the per-table column formulation (finite, +/-Inf, denormal, tie-at-zero)") {
    val s = spark
    import s.implicits._
    TextExprs.register(s)
    val (planes, dims, tables) = (5, 4, 3)
    val vecs: Seq[Seq[Double]] = Seq(
      Seq(0.5, -0.25, 1.5, -2.0),
      Seq(0.0, 0.0, 0.0, 0.0), // every dot exactly 0: the >= tie bit
      Seq(Double.PositiveInfinity, -1.0, 0.5, 0.25),
      Seq(Double.NegativeInfinity, 1.0, -0.5, 2.0),
      Seq(1e-300, -1e-308, 4.9e-324, -0.0),
      Seq(1e300, -1e300, 1e300, -1e300))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vd")
    val kernel = df.select(col("id"),
      VecRank.lshBuckets(col("vd"), planes, dims, tables).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val column = df.select(col("id"), array((0 until tables).map(t =>
        VectorFns.lshBucket(col("vd"), planes, dims, t)): _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel == column,
      s"kernel/column LSH buckets diverged:\n kernel=$kernel\n column=$column")
  }

  test("LshBuckets: a NaN-bearing dot contributes a ZERO bit (documented kernel semantics)") {
    val s = spark
    import s.implicits._
    TextExprs.register(s)
    // every dot is NaN -> every plane bit false -> bucket 0 in every table
    val df = Seq((1L, Seq(Double.NaN, Double.NaN))).toDF("id", "vd")
    val out = df.select(VecRank.lshBuckets(col("vd"), 3, 2, 2).as("b"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(0L, 0L), s"NaN dot produced non-zero buckets: $out")
  }

  test("CentroidRank kernel equals the array_sort/transform column form (ties, HALF_UP, NaN/Inf in prefix)") {
    val s = spark
    import s.implicits._
    TextExprs.register(s)
    // centroid 7 and 3 are IDENTICAL: a similarity tie that must order
    // by cid ascending in both forms; centroid 1 hits a x.xxxxx5
    // HALF_UP rounding boundary against the first vector
    val cs: Seq[(Int, Array[Double])] = Seq(
      7 -> Array(1.0, 0.0, 0.0),
      3 -> Array(1.0, 0.0, 0.0),
      1 -> Array(0.1234565, 0.0, 0.0),
      9 -> Array(-0.5, 2.0, -1.5))
    val vecs: Seq[(Long, Seq[Double], Double)] = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 1.0),
      (2L, Seq(Double.NaN, 1.0, 2.0), 2.0), // NaN inside the common prefix
      (3L, Seq(Double.PositiveInfinity, -1.0, 0.0), 1.5),
      (4L, Seq(-0.25, 0.5, 0.75), 0.9354143466934853))
    val df = vecs.toDF("id", "vd", "nrm")
    val kernel = df.select(col("id"),
      VecRank.centroidRank(col("vd"), col("nrm"), cs).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).map(_.toString)).toMap
    // the r18 column formulation, reconstructed verbatim: one
    // struct(-round(dot/(nrm*cnrm), 6), cid) per centroid, array_sort
    val sorted = cs.sortBy(_._1)
    val structs = sorted.map { case (cid, c) =>
      val cnrm = math.sqrt(c.map(x => x * x).sum)
      struct(
        (-round(VecDot(col("vd"), array(c.map(lit).toIndexedSeq: _*))
          / (col("nrm") * lit(cnrm)), 6)).as("neg"),
        lit(cid).as("cid"))
    }
    val column = df.select(col("id"), array_sort(array(structs: _*)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).map(_.toString)).toMap
    assert(kernel == column,
      s"kernel/column centroid ranking diverged:\n kernel=$kernel\n column=$column")
  }

  test("null vector: LshBuckets emits no bucket rows and CentroidRank a null rank (decided semantics)") {
    val s = spark
    import s.implicits._
    TextExprs.register(s)
    // the kernels are null-safe: a null vector is a missing embedding,
    // not a zero vector, so it lands in no bucket and ranks against no
    // centroid
    val df = Seq((1L, Option(Seq(0.5, -1.0)), 1.0), (2L, None, 1.0)).toDF("id", "vd", "nrm")
    val buckets = df.select(col("id"),
      posexplode(VecRank.lshBuckets(col("vd"), 3, 2, 2)))
      .collect().map(_.getLong(0)).toSeq
    assert(buckets == Seq(1L, 1L), s"a null vector must emit no bucket rows: $buckets")
    assert(df.filter(col("id") === 2L)
      .select(VecRank.lshBuckets(col("vd"), 3, 2, 2)).head().isNullAt(0))
    val ranks = df.select(col("id"),
      VecRank.centroidRank(col("vd"), col("nrm"), Seq(1 -> Array(1.0, 0.0))).as("r"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(ranks == Map(1L -> false, 2L -> true), s"null vector rank: $ranks")
  }

  test("TopKWhere: merge is split-invariant and the gate admits at reduce time") {
    val agg = TopK.negBandTopK(3)
    val rows = Seq(
      TopK.NegRow(keep = true, cos = 0.9, cand_id = 10),
      TopK.NegRow(keep = false, cos = 0.99, cand_id = 11), // out of band: never admitted
      TopK.NegRow(keep = true, cos = 0.9, cand_id = 2), // cos tie: lower id wins
      TopK.NegRow(keep = true, cos = 0.7, cand_id = 30),
      TopK.NegRow(keep = false, cos = 0.95, cand_id = 31),
      TopK.NegRow(keep = true, cos = 0.8, cand_id = 40),
      TopK.NegRow(keep = true, cos = 0.6, cand_id = 50),
      TopK.NegRow(keep = true, cos = 0.8, cand_id = 41))
    val sequential = rows.foldLeft(agg.zero)(agg.reduce)
    val inBand = rows.filter(_.keep)
      .sortBy(r => (-r.cos, r.cand_id)).take(3)
    assert(sequential == inBand,
      s"sequential reduce != sorted in-band top-3: $sequential vs $inBand")
    // every split point: merge(left-fold, right-fold) == sequential
    for (cut <- 0 to rows.length) {
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == sequential, s"merge diverged at split $cut: $merged")
    }
    // buffers never exceed k, even mid-merge
    val big = (1L to 100L).map(i => TopK.NegRow(keep = true, cos = i * 0.01, cand_id = i))
    val buf = big.foldLeft(agg.zero)(agg.reduce)
    assert(buf.size == 3)
    assert(agg.merge(buf, buf).size == 3)
  }
}
